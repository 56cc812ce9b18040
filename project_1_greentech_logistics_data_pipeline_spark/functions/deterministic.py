"""Deterministic (order-independent) aggregates over double columns, and
the key-stable md5-prefix sampling key.

Floating-point SUM/AVG depend on accumulation order, which differs between
Spark partitions and the DuckDB oracle (and between runs as AQE re-splits).
Casting each element to decimal(38,s) before summing makes the aggregate
exact and order-independent; casting the exact decimal result back to double
is a single deterministic rounding. The testdata's numeric columns carry at
most 2 fractional digits, so the default scale 6 loses nothing.

This module is the one place the exact-sum type is spelled. Each Spark
helper has an oracle-SQL twin: ``dec``/``dec_sql`` (the per-row cast, which
window, COALESCE and CASE shapes wrap in their own text), ``dsum``/
``dsum_sql``, ``moment_sums``/``moment_sums_sql``; ``davg(c)`` is
``dsum_sql(c) / COUNT(c)``. The sampling key ``md5_prefix``/
``md5_prefix_sql`` and its cut ``frac_threshold_hex`` are pure functions
of a row's key, so a sample is the same set on every engine and layout.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str, scale: int = 6) -> Column:
    return _col(col).cast(f"decimal(38,{scale})")


def dsum(col: Column | str, scale: int = 6) -> Column:
    return F.sum(dec(col, scale)).cast("double")


def davg(col: Column | str) -> Column:
    c = _col(col)
    return dsum(c) / F.count(c)


def dec_sql(expr: str, scale: int = 6) -> str:
    return f"CAST({expr} AS DECIMAL(38,{scale}))"


def dsum_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM({dec_sql(expr, scale)}) AS DOUBLE)"


# Closed-form least squares and Pearson r start from one aggregate of exact
# scale-12 moment sums (k, sx, sy, sxy, sxx[, syy]); the builtin regr_slope/
# corr accumulate in float and are not cross-engine reproducible. The final
# formulas are one SQL text, parsed verbatim by both engines.


def moment_sums(x: Column | str, y: Column | str, syy: bool = False) -> list[Column]:
    x, y = _col(x), _col(y)
    terms = [("sx", x), ("sy", y), ("sxy", x * y), ("sxx", x * x)]
    terms += [("syy", y * y)] if syy else []
    k = F.count(F.lit(1)).cast("double").alias("k")
    return [k] + [dsum(t, 12).alias(a) for a, t in terms]


def moment_sums_sql(x: str, y: str, syy: bool = False) -> str:
    """Twin of :func:`moment_sums`: the select list, one sum per line."""
    terms = [("sx", x), ("sy", y), ("sxy", f"{x} * {y}"), ("sxx", f"{x} * {x}")]
    terms += [("syy", f"{y} * {y}")] if syy else []
    sums = [f"{dsum_sql(t, 12)} AS {a}" for a, t in terms]
    return ",\n         ".join(["CAST(COUNT(*) AS DOUBLE) AS k"] + sums)


OLS_SLOPE_SQL = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
PEARSON_R_SQL = (
    "(k * sxy - sx * sy)\n"
    "         / (SQRT(k * sxx - sx * sx) * SQRT(k * syy - sy * sy))"
)


def ols_slope() -> Column:
    return F.expr(OLS_SLOPE_SQL)


def pearson_r() -> Column:
    return F.expr(PEARSON_R_SQL)


# ---------------------------------------------------------------------------
# Exact split-integer sums for the moments family (q19/q122 discipline)
# ---------------------------------------------------------------------------
#
# A dsum-style DECIMAL(38,*) aggregation is exact but runs on Spark's
# BigDecimal slow path (measured 8x the cost of a long sum at sf0.1 with
# q122's 15 moments). Splitting each per-row double into an integer part
# and a 1e-10-scaled fraction part — both exact functions of the double
# (v - FLOOR(v) is the low-order bits of v, exactly representable) — turns
# the moment into TWO long sums that stay in whole-stage codegen, are
# order-independent (integer arithmetic), and are overflow-CHECKED by ANSI
# mode rather than silently wrapping. Reconstruction hi + lo*1e-10 is one
# deterministic double expression, shared verbatim with the oracle.
#
# Scale bound: SUM(hi) fits a long while n * max|v| < 2^63 — for q122's
# ~1e10-magnitude price squares that is ~8e8 rows (sf ~1000). Beyond that,
# swap these exprs for the DECIMAL(38,10) form (drop-in: same aliases,
# same reconstruction names) and pay the slow path; the expressions are
# factored here so that swap is one line per query.


def hilo_sum_exprs(value_sql: str, alias: str) -> list[str]:
    """SQL aggregate expressions (Spark == DuckDB) whose two long sums
    exactly determine SUM(value) at 1e-10 granularity, order-independently.

    PRECONDITION: ``value_sql`` must be non-null on every row. The moment
    formulas built on these sums pair them with ``n = COUNT(*)``; a NULL
    value would be skipped by SUM but counted by COUNT(*), silently
    shifting corr/covar away from pairwise-complete semantics — and
    identically on both engines, so the oracle differential CANNOT catch
    it. The q19/q122 inputs (lineitem measures) are non-null by the TPC-H
    schema; filter or COALESCE first if reusing over nullable columns.

    The precondition is ENFORCED, not just documented: a NULL row routes
    the CASE to a 1e19 DOUBLE whose explicit ``CAST(... AS BIGINT)``
    errors on BOTH engines (Spark ANSI CAST_OVERFLOW, DuckDB Conversion
    Error) — so a NULL-bearing measure fails the query loudly at runtime
    instead of silently agreeing on pairwise-incomplete moments. The CAST
    must wrap a DOUBLE-typed CASE: Spark's FLOOR(double) returns LONG and
    silently SATURATES 1e19 to Long.MaxValue even under ANSI (measured on
    4.1.2), so a ``COALESCE(v, 1e19)`` fed straight to FLOOR only errors
    if the rest of the group happens to push the long SUM past MaxValue —
    e.g. a lone NULL, or a NULL among values summing <= 0, would emit
    ~9.2e18 garbage with no error. (An error-function trap isn't
    portable — Spark raise_error vs DuckDB error — so the trap stays
    arithmetic and shared-verbatim.)

    SECOND PRECONDITION, also enforced: per-row ``|v| < 2^53``. The
    non-null branch round-trips FLOOR's long through DOUBLE (CASE type
    coercion), which is exact only below 2^53 — a per-row magnitude in
    [2^53, 2^63) would lose low bits IDENTICALLY on both engines, the
    same silent-symmetric class as the NULL case, so the trap routes
    ``ABS(v) >= 2^53`` into the same erroring 1e19 branch. The documented
    usage bound is therefore n * max|v| < 2^63 AND max|v| < 2^53; q19/
    q122/q49b per-row magnitudes are ~1e10, five million times under it.
    """
    v = f"({value_sql})"
    v0 = f"(COALESCE({v}, 0.0))"

    def trap(inner: str) -> str:
        return (
            f"CAST(CASE WHEN {v} IS NULL OR ABS({v}) >= 9007199254740992.0"
            f" THEN 1e19 ELSE {inner} END AS BIGINT)"
        )

    return [
        f"SUM({trap(f'FLOOR({v0})')}) AS {alias}_hi",
        f"SUM({trap(f'FLOOR(({v0} - FLOOR({v0})) * 1e10)')}) AS {alias}_lo",
    ]


def pos_zero(expr_sql: str) -> str:
    """Normalize IEEE negative zero to +0.0; identity for every other value
    (``-0.0 + 0.0 == +0.0``, ``x + 0.0 == x`` otherwise, NaN/NULL pass
    through). Needed wherever a rounded/derived double output can be a
    negative value that rounds to zero: Spark's BigDecimal ROUND emits
    +0.0 where DuckDB's float round emits -0.0 — the two are ``==``-equal
    (every tolerance/equality check passes) but serialize to different
    bytes, so the driver's value-hash diverges (q122's four-round red).
    Wrap BOTH the Spark expression and the oracle SQL, or share the
    expression verbatim."""
    return f"({expr_sql} + 0.0)"


def pos_zero_col(c: Column) -> Column:
    """Column-API twin of :func:`pos_zero` — apply to any rounded/derived
    double output whose value can be a negative rounding to zero, and put
    ``+ 0.0`` on the matching oracle expression."""
    return c + F.lit(0.0)


def hilo_reconstruct(alias: str) -> str:
    """The double value of the split sum — identical IEEE expression on
    both engines given identical hi/lo inputs."""
    return f"(CAST({alias}_hi AS DOUBLE) + CAST({alias}_lo AS DOUBLE) * 1e-10)"


# ---------------------------------------------------------------------------
# Key-stable sampling (md5-prefix key)
# ---------------------------------------------------------------------------
#
# Portable deterministic sampling/splitting primitive: the first 15 hex
# chars of md5(id || ':' || seed) are uniform on [0, 16^15) and IDENTICAL
# in any engine that implements md5 (Spark, DuckDB, Python hashlib, ...) —
# lowercase hex compares lexicographically, so "keep iff prefix < T(frac)"
# needs no hex->int parsing anywhere. Unlike rand()-based samplers
# (sampleBy/randomSplit), assignment is a pure function of the KEY: stable
# under repartitioning, re-reads, engine swaps, and cluster size — the
# property leakage-free reprocessing at 100 TB actually requires. md5 is a
# JVM codegen built-in; on short id strings the cost is noise next to scan
# I/O.


def md5_prefix(id_col: str, seed: int) -> Column:
    # COALESCE before hashing: concat NULL-propagates on both engines, and
    # a NULL key would otherwise fail BOTH `key < T` and `key >= T`,
    # dropping the row from train AND val (conservation violation)
    return F.substring(
        F.md5(
            F.concat(
                F.coalesce(F.col(id_col).cast("string"), F.lit("__null__")),
                F.lit(f":{seed}"),
            )
        ),
        1,
        15,
    )


def md5_prefix_sql(id_sql: str, seed: int) -> str:
    """DuckDB twin of md5_prefix — same bytes in, same hex out."""
    return (
        f"SUBSTR(MD5(COALESCE(CAST({id_sql} AS VARCHAR), '__null__')"
        f" || ':{seed}'), 1, 15)"
    )


def frac_threshold_hex(frac: float) -> str:
    """The threshold T with P(prefix < T) == frac (to 1 ulp of 16^-15).

    frac >= 1 returns 'g': every hex prefix sorts before it ('f' < 'g'),
    so the whole population is kept — the 16-digit hex for 16^15 would
    compare lexicographically by FIRST character against 15-digit
    prefixes and wrongly exclude everything above '0fff...'. frac <= 0
    returns the all-zero threshold, which no prefix is below."""
    if frac >= 1.0:
        return "g"
    if frac <= 0.0:
        return "0" * 15
    return format(int(round(frac * 16**15)), "015x")
