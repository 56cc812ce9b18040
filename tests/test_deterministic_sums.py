"""Property tests for the exact split-integer (hi/lo) sum mechanism and
the shared negative-sample predicate (functions/deterministic.py,
operators/dedup.py).

These pin the MECHANISMS the moments family (q19/q122) and q194 are
built on, independently of any one query: cross-engine bit-exactness,
order-independence under repartitioning, and overflow-safety at extreme
ids — the three failure classes that produced red driver stamps (r3
q122 hash drift) or would at scale (int64 overflow in the old
(a*10000+b)*knuth sample rule).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from project_1_greentech_logistics_data_pipeline_spark.functions.deterministic import (
    dsum,
    dsum_sql,
    hilo_reconstruct,
    hilo_sum_exprs,
)


def _duck_hilo(values: list[float]) -> float:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    sql = (
        f"WITH m0 AS (SELECT {', '.join(hilo_sum_exprs('v', 's'))} FROM t) "
        f"SELECT {hilo_reconstruct('s')} FROM m0"
    )
    return con.execute(sql).fetchone()[0]


def _spark_hilo(spark, values: list[float], n_parts: int) -> float:
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(
        n_parts
    )
    from pyspark.sql import functions as F

    agg = df.agg(*(F.expr(e) for e in hilo_sum_exprs("v", "s")))
    return agg.selectExpr(hilo_reconstruct("s") + " AS r").collect()[0]["r"]


# magnitudes spanning the moments family's actual inputs: discounts
# (~1e-2), prices (~1e5), price squares (~1e10)
_vals = st.lists(
    st.floats(
        min_value=-1e10, max_value=1e10, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(_vals)
def test_hilo_sum_cross_engine_bit_exact(spark, values):
    """Spark (any partitioning) and DuckDB reconstruct the IDENTICAL
    double from the hi/lo sums — the property that makes absolute-decimal
    ROUNDs on derived statistics safe to hash-compare."""
    d = _duck_hilo(values)
    s1 = _spark_hilo(spark, values, 1)
    s7 = _spark_hilo(spark, values, 7)
    assert s1 == s7 == d, (values, s1, s7, d)


def test_hilo_sum_precision_vs_exact():
    """Reconstruction error vs exact (Fraction) summation is bounded by
    the 1e-10 per-row truncation — far below the 2/4/6-dp rounds the
    moments family applies."""
    from fractions import Fraction

    values = [1234.56789, -0.0375, 98765.4321, 2.5e9, -7.125e-3] * 20
    exact = float(sum(Fraction(v) for v in values))
    got = _duck_hilo(values)
    assert abs(got - exact) <= len(values) * 1e-10 + 1e-9 * abs(exact)


def test_hilo_sum_null_trips_guard_both_engines(spark):
    """The non-null PRECONDITION is enforced at runtime: a NULL value
    reaching hilo_sum_exprs must ERROR on BOTH engines (the COALESCE →
    1e19 → BIGINT-overflow trap), never silently skip the row — a
    skipped row shifts every COUNT(*)-paired moment identically on both
    engines, which the oracle differential cannot catch."""
    import pyspark.errors
    from pyspark.sql import functions as F

    # the three shapes that distinguish a REAL trap from an accidental
    # ANSI SUM overflow: a lone NULL and NULL-among-nonpositive-values
    # would slip through a Long.MaxValue-saturating FLOOR (Spark's
    # FLOOR(double) returns LONG and saturates 1e19 silently — measured),
    # while NULL-among-positives overflows the SUM either way
    for values in ([(None,)], [(None,), (-1.0,)], [(1.5,), (None,), (2.25,)]):
        df = spark.createDataFrame(values, "v double")
        agg = df.agg(*(F.expr(e) for e in hilo_sum_exprs("v", "s")))
        with pytest.raises(pyspark.errors.PySparkException):
            agg.collect()

        con = duckdb.connect()
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", values)
        with pytest.raises(duckdb.Error):
            con.execute(
                f"SELECT {', '.join(hilo_sum_exprs('v', 's'))} FROM t"
            ).fetchall()

    # and the trap is an IDENTITY on non-null rows (bit-exactness of the
    # whole mechanism is pinned by the hypothesis test above)
    assert _duck_hilo([1.5, 2.25]) == 3.75


def test_hilo_sum_magnitude_guard_both_engines(spark):
    """The per-row |v| < 2^53 PRECONDITION is enforced: above it, the
    FLOOR-long -> DOUBLE round-trip inside the CASE would lose low bits
    IDENTICALLY on both engines (silent-symmetric, invisible to the
    oracle differential), so such a row must ERROR via the same 1e19
    trap — on BOTH engines — while 2^53 - 1 still sums exactly."""
    import pyspark.errors
    from pyspark.sql import functions as F

    two53 = 9007199254740992.0
    for bad in (two53, -two53, two53 * 4):
        df = spark.createDataFrame([(bad,), (1.0,)], "v double")
        agg = df.agg(*(F.expr(e) for e in hilo_sum_exprs("v", "s")))
        with pytest.raises(pyspark.errors.PySparkException):
            agg.collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(bad,), (1.0,)])
        with pytest.raises(duckdb.Error):
            con.execute(
                f"SELECT {', '.join(hilo_sum_exprs('v', 's'))} FROM t"
            ).fetchall()

    # just under the bound is exact, not trapped
    assert _duck_hilo([two53 - 1.0]) == two53 - 1.0


# 2-decimal values (as the testdata's numeric columns carry), in cents,
# bounded per scale so that |v| * 10^scale stays below 2^50
_cents = {6: 10**11, 12: 10**5}


@pytest.mark.parametrize("scale", [6, 12])
@settings(max_examples=12, deadline=None)
@given(data=st.data())
def test_dsum_cross_engine_exact(spark, scale, data):
    """dsum (Spark) and dsum_sql (DuckDB) return the bit-identical double
    at any partitioning, and it is the exact sum rounded once.

    PRECONDITION (the kit's documented input domain): every value has at
    most 2 decimals, and |v| * 10^scale < 2^50. Inside it both engines'
    double -> decimal(38,s) casts are exact, so the decimal sums are equal
    and the single decimal -> double cast decides the result. Scale ties
    (a value with more than ``scale`` decimals ending in 5) are out of
    scope: the two engines' double -> decimal casts round them
    differently (README, "Determinism against the oracle")."""
    from fractions import Fraction
    import struct

    bound = _cents[scale]
    cents = data.draw(
        st.lists(
            st.one_of(st.none(), st.integers(-bound, bound)), min_size=1, max_size=40
        )
    )
    values = [None if c is None else c / 100 for c in cents]
    present = [Fraction(c, 100) for c in cents if c is not None]
    exact = float(sum(present)) if present else None

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck = con.execute(f"SELECT {dsum_sql('v', scale)} FROM t").fetchone()[0]

    df = spark.createDataFrame([(v,) for v in values], "v double")
    sparks = [
        df.repartition(n).agg(dsum("v", scale).alias("s")).collect()[0]["s"]
        for n in (1, 3, 8)
    ]

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    assert {bits(x) for x in sparks + [duck]} == {bits(exact)}, (
        values, sparks, duck, exact
    )


def test_neg_sample_predicate_overflow_safe(spark):
    """_neg_sample_sql must evaluate (not raise) for ids up to int64 max
    on BOTH engines, and agree bit-for-bit — the old rule overflowed at
    ids ~3.5e8 under ANSI mode."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _neg_sample_sql,
    )

    big = 9_223_372_036_854_775_807  # int64 max
    ids = [
        (1, 2),
        (10_000_000, 20_000_000),  # m-axis probe offsets
        (big - 1, big),
        (3_500_000_000, 7_000_000_000),  # the old rule's overflow zone
    ]
    pred = _neg_sample_sql("a", "b")
    sdf = spark.createDataFrame(ids, "a long, b long").select(
        "a", "b", F.expr(pred).alias("keep")
    )
    srows = {(r["a"], r["b"]): r["keep"] for r in sdf.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", ids)
    drows = {
        (a, b): keep
        for a, b, keep in con.execute(f"SELECT a, b, {pred} FROM p").fetchall()
    }
    assert srows == drows
    # and the rule actually samples (not constant) over a realistic range
    n = 10_000
    kept = (
        spark.range(n)
        .selectExpr("id AS a", "id + 1 AS b")
        .filter(F.expr(pred))
        .count()
    )
    assert 0.05 * n < kept < 0.15 * n, kept  # ~10% +/- sampling noise


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
