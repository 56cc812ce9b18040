"""Classic analytics shapes: TPC-H-style multi-join aggregations, explode /
lateral view, percentile and moment statistics, approximate aggregates,
sampling.

These round out SURVEY §2.3-2.5's declared surface with the query shapes a
warehouse actually runs: selective fact-dim joins feeding grouped aggregates
with top-k output (TPC-H Q3/Q5 patterns over the testdata's star schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import (
    dsum,
    dsum_sql,
    frac_threshold_hex,
    hilo_reconstruct,
    hilo_sum_exprs,
    md5_prefix,
    md5_prefix_sql,
    pos_zero,
)
from ..functions.text import DOC_TOKENS_SQL, doc_tokens
from ..registry import query, table


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: shipping-priority top-10 (selective join + agg + top-k)
# ---------------------------------------------------------------------------

_Q60_SQL = f"""
SELECT
  l.l_orderkey,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS revenue,
  STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q60_tpch_q3_shipping_priority", _Q60_SQL)
def q60_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. Catalyst pushes the segment/date filters below the
    joins; the filtered customer side is broadcast; lineitem (the 100 TB
    side) streams through one broadcast join + one shuffle for the group-by.
    Top-10 is TakeOrderedAndProject."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: revenue by nation through a 5-way star join
# ---------------------------------------------------------------------------

_Q61_SQL = f"""
SELECT
  n.n_name,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""


@query("q61_tpch_q5_local_volume", _Q61_SQL)
def q61_tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(o.join(F.broadcast(dims), o.o_custkey == F.col("c_custkey"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Explode / lateral view: token frequency (the generalized P2)
# ---------------------------------------------------------------------------

_Q27_SQL = f"""
SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  {DOC_TOKENS_SQL}
)
GROUP BY tok
ORDER BY n_occurrences DESC, tok
LIMIT 20
"""


@query("q27_explode_token_freq", _Q27_SQL)
def q27_explode_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (lateral view) + two-level frequency — the generalized form
    of the pipeline's array flatten (Glue_job.py:33). Partial aggregation
    runs map-side before the single shuffle on tok."""
    d = table(spark, sf_dir, "documents")
    return (
        doc_tokens(d)
        .groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Percentiles and moment statistics
# ---------------------------------------------------------------------------

# Second-moment statistics derived from exact component sums: builtin
# stddev/var/corr/covar accumulate in double, whose last-ulp order
# dependence can flip an absolute-decimal ROUND (the q122 r3 hash drift).
# The split-integer (hi/lo) long sums are exact, hence order-independent,
# and stay on the codegen fast path (functions/deterministic.py — measured
# 8x cheaper than DECIMAL(38,10) sums); the derivation expressions are
# shared verbatim between the Spark plan and the DuckDB oracle, so results
# are bit-identical engine-to-engine and run-to-run.
_Q19_TERMS = [
    ("l_extendedprice", "s_p"),
    ("l_extendedprice * l_extendedprice", "ss_p"),
    ("l_quantity", "s_q"),
    ("l_quantity * l_quantity", "ss_q"),
    ("l_quantity * l_extendedprice", "s_qp"),
]
_Q19_MOMENTS = ["CAST(COUNT(*) AS DOUBLE) AS n"] + [
    e for expr_sql, alias in _Q19_TERMS for e in hilo_sum_exprs(expr_sql, alias)
]
_Q19_RECON = ["l_returnflag", "median_price", "p90_price", "n"] + [
    f"{hilo_reconstruct(alias)} AS {alias}" for _, alias in _Q19_TERMS
]

_Q19_STATS = [
    "CAST(ROUND(SQRT((ss_p - s_p * s_p / n) / (n - 1)), 2) AS DOUBLE) AS stddev_price",
    # var_qty is pos_zero-wrapped too: a (near-)constant group makes the
    # true variance ~0 and the cancellation residual of s_q*s_q/n can be
    # a tiny NEGATIVE — the same signed-zero class as corr/covar below
    "CAST(" + pos_zero("ROUND((ss_q - s_q * s_q / n) / (n - 1), 4)")
    + " AS DOUBLE) AS var_qty",
    # pos_zero: corr/covar can be a tiny NEGATIVE rounding to zero — the
    # q122 r4 signed-zero class (see functions/deterministic.pos_zero).
    "CAST(" + pos_zero(
        "ROUND((s_qp - s_q * s_p / n) / (SQRT(ss_q - s_q * s_q / n)"
        " * SQRT(ss_p - s_p * s_p / n)), 6)"
    ) + " AS DOUBLE) AS corr_qty_price",
    "CAST(" + pos_zero("ROUND((s_qp - s_q * s_p / n) / (n - 1), 2)")
    + " AS DOUBLE) AS covar_qty_price",
]

_Q19_SQL = f"""
WITH m0 AS (
  SELECT l_returnflag,
    CAST(ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS DOUBLE) AS median_price,
    CAST(ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90_price,
    {", ".join(_Q19_MOMENTS)}
  FROM lineitem
  GROUP BY l_returnflag
),
m AS (SELECT {", ".join(_Q19_RECON)} FROM m0)
SELECT l_returnflag, median_price, p90_price, {", ".join(_Q19_STATS)}
FROM m
ORDER BY l_returnflag
"""


@query("q19_percentiles_moments", _Q19_SQL)
def q19_percentiles_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    QUANTILE_CONT) and second-moment statistics from exact split-integer
    component sums (see _Q19_MOMENTS) — one aggregation pass, map-side
    combinable, order-independent by construction. The stat derivations
    (_Q19_STATS) are the same IEEE double expressions on both engines,
    so the absolute-decimal rounds can never straddle an
    accumulation-order boundary."""
    li = table(spark, sf_dir, "lineitem")
    moments = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", 0.5), 4).alias("median_price"),
            F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
            *(F.expr(m) for m in _Q19_MOMENTS),
        )
        .selectExpr(*_Q19_RECON)
    )
    return moments.selectExpr(
        "l_returnflag", "median_price", "p90_price", *_Q19_STATS
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Approximate aggregates + sampling (q28's HLL sketch stays rows-only —
# engine-specific estimator; q29's sample is key-stable md5-threshold, so
# it carries an exact oracle)
# ---------------------------------------------------------------------------


@query("q28_approx_distinct", None)  # HLL sketch: engine-specific -> rows-only
def q28_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the constant-memory distinct
    count for 100 TB cardinality estimation. tests/test_extensions.py checks
    the estimate lands within rsd of the exact count."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )


_Q29_SEED = 42
_Q29_FRAC = 0.1


def _q29_sql() -> str:
    key = md5_prefix_sql("l_orderkey || ':' || l_linenumber", _Q29_SEED)
    return (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem\n"
        f"WHERE {key} < '{frac_threshold_hex(_Q29_FRAC)}'"
    )


@query("q29_sample", _q29_sql())
def q29_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable Bernoulli sample over the (l_orderkey, l_linenumber)
    primary key via the md5-prefix threshold (deterministic.md5_prefix): the kept
    SET is a pure function of each row's key, so — unlike ``df.sample(seed=)``,
    whose per-partition RNG reassigns rows whenever the partition layout
    changes (re-read with a different split count, AQE coalesce, engine
    swap) — the same rows are kept on every run, every layout, and every
    engine. That stability is what audit/reprocess at 100 TB requires, and
    it is also what makes an exact DuckDB oracle possible. The size check
    lives in tests/test_extensions.py."""
    li = table(spark, sf_dir, "lineitem")
    # F.concat, not concat_ws: concat NULL-propagates exactly like the
    # oracle's `||`, so a NULL key component reaches md5_prefix's
    # COALESCE('__null__') sentinel on BOTH engines (concat_ws would
    # silently drop the NULL on the Spark side only)
    keyed = li.withColumn(
        "_sk",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    return (
        keyed.filter(md5_prefix("_sk", _Q29_SEED) < F.lit(frac_threshold_hex(_Q29_FRAC)))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------

_Q35_SQL = """
SELECT
  o_orderstatus,
  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_notspec,
  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

_PRIORITIES = [
    ("1-URGENT", "p1_urgent"),
    ("2-HIGH", "p2_high"),
    ("3-MEDIUM", "p3_medium"),
    ("4-NOT SPECIFIED", "p4_notspec"),
    ("5-LOW", "p5_low"),
]


@query("q35_pivot", _Q35_SQL)
def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot().count() with EXPLICIT pivot values — at scale,
    omitting the value list forces an extra distinct-collection job before
    the real aggregation. Output columns renamed to identifier-safe names
    shared with the oracle."""
    o = table(spark, sf_dir, "orders")
    df = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", [v for v, _ in _PRIORITIES])
        .count()
    )
    for value, alias in _PRIORITIES:
        df = df.withColumnRenamed(value, alias)
    # pivot yields NULL for empty cells; the FILTER oracle yields 0
    return df.select(
        "o_orderstatus",
        *[F.coalesce(F.col(a), F.lit(0)).alias(a) for _, a in _PRIORITIES],
    ).orderBy("o_orderstatus")


_Q36_SQL = """
SELECT o_orderkey, metric, value
FROM (
  SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value FROM orders
  UNION ALL
  SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
)
"""


@query("q36_unpivot", _Q36_SQL)
def q36_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt via stack() — wide-to-long without N scans (one pass,
    rows fan out 2x; the UNION ALL oracle form would scan the table twice)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE))"
        ).alias("metric", "value"),
    )
