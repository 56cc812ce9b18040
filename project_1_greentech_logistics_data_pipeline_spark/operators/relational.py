"""Relational query surface: scans, filters, joins, aggregations, windows,
sorts, set ops.

The reference contains none of these beyond filter/select (SURVEY §2.3-2.6:
no join, no groupBy, no window, no sort anywhere in /root/reference); this
module is the declared engine surface that generalizes its filter/split ops
(Glue/Glue_job.py:84-93) into a full analytics engine, exercised against the
driver's TPC-H-ish testdata.

Every query returns a DataFrame whose column names match its oracle SQL
exactly. Double aggregates go through decimal casts (functions.deterministic)
so Spark and DuckDB agree bit-for-bit regardless of accumulation order.

Scale notes (100 TB design stance):
- Dimension joins (region/nation/customer vs fact tables) are explicitly
  ``broadcast()`` — no shuffle of the fact side.
- Large-large joins rely on AQE (skew split, SMJ); keys here are TPC-H-style
  surrogate keys with uniform distribution.
- Windows partition by a key (never a global window without partitioning,
  except the bounded top-k whose input is pre-aggregated/limited).
- No ``collect()`` anywhere; everything stays a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.deterministic import dec, dec_sql, dsum, dsum_sql
from ..registry import query, table
from ..session import tune


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan -> filter -> hash agg -> sort)
# Generalizes the reference's filter/derive/route core (Glue_job.py:51-95).
# ---------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql("l_quantity")} AS sum_qty,
  {dsum_sql("l_extendedprice")} AS sum_base_price,
  {dsum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
  {dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
  {dsum_sql("l_quantity")} / COUNT(*) AS avg_qty,
  {dsum_sql("l_extendedprice")} / COUNT(*) AS avg_price,
  {dsum_sql("l_discount")} / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", _Q1_SQL)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Projection / filter / derived columns (generalizes Glue_job.py:84-93 P12-P16)
# ---------------------------------------------------------------------------

_Q02_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  l_quantity,
  CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DOUBLE) AS net_price,
  l_returnflag
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND l_discount > 0.05
  AND l_returnflag IN ('A', 'R')
"""


@query("q02_filter_project", _Q02_SQL)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1996-01-01", "1996-12-31")
            & (F.col("l_discount") > 0.05)
            & F.col("l_returnflag").isin("A", "R")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .cast("double")
            .alias("net_price"),
            "l_returnflag",
        )
    )


# ---------------------------------------------------------------------------
# Predicate family (between / isin / null checks) — Glue_job.py:56-61 P5-P8,
# computed as one full-scan aggregate (the engine's replacement for the
# reference's sampled GE gate, SURVEY §2.9).
# ---------------------------------------------------------------------------

_Q03_SQL = """
SELECT
  COUNT(*) AS n_rows,
  COUNT(*) FILTER (WHERE l_quantity BETWEEN 10 AND 20) AS n_qty_in_range,
  COUNT(*) FILTER (WHERE l_returnflag IN ('A', 'N')) AS n_flag_in_set,
  COUNT(*) FILTER (WHERE l_partkey IS NOT NULL) AS n_partkey_present,
  COUNT(*) FILTER (WHERE l_discount > 0.08 AND l_tax < 0.05) AS n_conj,
  COUNT(*) FILTER (WHERE l_returnflag = 'R' OR l_linestatus = 'O') AS n_disj
FROM lineitem
"""


@query("q03_predicates", _Q03_SQL)
def q03_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")

    def cif(cond):
        return F.count(F.when(cond, 1))

    return li.agg(
        F.count("*").alias("n_rows"),
        cif(F.col("l_quantity").between(10, 20)).alias("n_qty_in_range"),
        cif(F.col("l_returnflag").isin("A", "N")).alias("n_flag_in_set"),
        cif(F.col("l_partkey").isNotNull()).alias("n_partkey_present"),
        cif((F.col("l_discount") > 0.08) & (F.col("l_tax") < 0.05)).alias("n_conj"),
        cif((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "O")).alias("n_disj"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3 declared surface; none exist in the reference)
# ---------------------------------------------------------------------------

_Q04_SQL = f"""
SELECT
  r.r_name,
  n.n_name,
  COUNT(*) AS n_orders,
  {dsum_sql("o.o_totalprice")} AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, n.n_name
"""


@query("q04_join_multiway_broadcast", _Q04_SQL)
def q04_join_multiway_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dims star join. customer/nation/region are broadcast — the
    orders side never shuffles (at 100 TB the fact scan streams through
    three broadcast hash joins in one stage)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1997-01-01")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
        .orderBy("r_name", "n_name")
    )


_Q05_SQL = f"""
SELECT
  c.c_custkey,
  c.c_name,
  COUNT(o.o_orderkey) AS n_orders,
  CAST(COALESCE(SUM({dec_sql("o.o_totalprice")}), 0) AS DOUBLE) AS total_spent
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
"""


@query("q05_join_left_outer", _Q05_SQL)
def q05_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("total_spent"),
        )
    )


_Q06_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
"""


@query("q06_join_semi", _Q06_SQL)
def q06_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_Q07_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@query("q07_join_anti", _Q07_SQL)
def q07_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big-ticket order (non-empty at every sf, so the
    oracle check is not vacuous)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_Q08_SQL = """
SELECT
  n.n_name,
  COUNT(*) AS n_pairs
FROM supplier s
JOIN customer c ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@query("q08_join_theta", _Q08_SQL)
def q08_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key + theta residual: Spark plans the equi part as a hash/SMJ join
    and applies the inequality as a post-join filter — never a cartesian."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("n_name")
    )


_Q08B_SQL = """
SELECT r.r_name, n.n_name
FROM region r
CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
"""


@query("q08b_join_cross", _Q08B_SQL)
def q08b_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 declared surface; reference only has count())
# ---------------------------------------------------------------------------

_Q09_SQL = f"""
SELECT
  o_orderpriority,
  COUNT(*) AS n_orders,
  {dsum_sql("o_totalprice")} AS sum_price,
  {dsum_sql("o_totalprice")} / COUNT(o_totalprice) AS avg_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q09_agg_basic", _Q09_SQL)
def q09_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            (dsum("o_totalprice") / F.count("o_totalprice")).alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


_Q10_SQL = """
SELECT
  o_orderstatus,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(DISTINCT o_orderpriority) AS n_priorities,
  STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("q10_agg_distinct", _Q10_SQL)
def q10_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            ),
        )
        .orderBy("o_orderstatus")
    )


_Q11_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql("l_quantity")} AS sum_qty,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q11_agg_rollup", _Q11_SQL)
def q11_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows")
    )


_Q12_SQL = f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  {dsum_sql("o_totalprice")} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("q12_agg_cube", _Q12_SQL)
def q12_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5 declared surface)
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT
    o_custkey, o_orderkey, o_totalprice,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) AS BIGINT) AS rk
  FROM orders
)
WHERE rk <= 3
"""


@query("q13_window_topk_per_key", _Q13_SQL)
def q13_window_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Partitioned window (one shuffle on the
    key); deterministic tiebreak on o_orderkey so oracle rows match."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


_Q14_SQL = """
SELECT
  user_id, event_id, value,
  LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
  LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
  CAST(RANK() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rnk,
  CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT) AS type_dense_rnk
FROM events
"""


@query("q14_window_lag_lead_rank", _Q14_SQL)
def q14_window_lag_lead_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wt = W.partitionBy("user_id").orderBy("event_type")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(wt).cast("bigint").alias("type_dense_rnk"),
    )


_Q15_SQL = f"""
SELECT
  user_id, event_id,
  CAST(SUM({dec_sql("value")}) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS running_value,
  CAST(COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS n_in_frame
FROM events
"""


@query("q15_window_running_frames", _Q15_SQL)
def q15_window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w_run = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_frame = W.partitionBy("user_id").orderBy(*order).rowsBetween(-2, W.currentRow)
    return e.select(
        "user_id",
        "event_id",
        F.sum(dec("value")).over(w_run).cast("double").alias("running_value"),
        F.count("*").over(w_frame).cast("bigint").alias("n_in_frame"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / global top-k
# ---------------------------------------------------------------------------

_Q16_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@query("q16_sort_limit_topk", _Q16_SQL)
def q16_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver, never a full sort
    of 100 TB. Deterministic tiebreak on o_orderkey."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (generalizes U1 unionByName, Glue_job.py:116)
# ---------------------------------------------------------------------------

_Q17_SQL = """
WITH pre AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
),
post AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT 'only_pre' AS side, o_custkey FROM (SELECT o_custkey FROM pre EXCEPT SELECT o_custkey FROM post)
UNION ALL
SELECT 'only_post' AS side, o_custkey FROM (SELECT o_custkey FROM post EXCEPT SELECT o_custkey FROM pre)
UNION ALL
SELECT 'both' AS side, o_custkey FROM (SELECT o_custkey FROM pre INTERSECT SELECT o_custkey FROM post)
"""


@query("q17_set_ops", _Q17_SQL)
def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    pre = o.filter(F.col("o_orderdate") < "1996-01-01").select("o_custkey").distinct()
    post = o.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey").distinct()
    return (
        pre.exceptAll(post).select(F.lit("only_pre").alias("side"), "o_custkey")
        .unionByName(post.exceptAll(pre).select(F.lit("only_post").alias("side"), "o_custkey"))
        .unionByName(pre.intersect(post).select(F.lit("both").alias("side"), "o_custkey"))
    )


_Q17B_SQL = """
SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 100000
"""


@query("q17b_union_distinct", _Q17B_SQL)
def q17b_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", "o_orderkey")
    b = o.filter(F.col("o_totalprice") > 100000).select("o_custkey", "o_orderkey")
    return a.union(b).distinct()


# ---------------------------------------------------------------------------
# Grouping sets via SQL entry point (spark.sql twin of the DataFrame API)
# ---------------------------------------------------------------------------

_Q18_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


@query("q18_grouping_sets", _Q18_SQL)
def q18_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point: same engine, spark.sql() instead of the DataFrame API."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q18_SQL)


# ---------------------------------------------------------------------------
# Window VALUE functions: first_value / last_value / nth_value over frames
# ---------------------------------------------------------------------------

_Q104_SQL = """
SELECT * FROM (
  SELECT
    o_custkey,
    ROW_NUMBER() OVER w AS rn,
    FIRST_VALUE(o_totalprice) OVER w AS first_price,
    LAST_VALUE(o_totalprice) OVER
      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
    NTH_VALUE(o_totalprice, 2) OVER
      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
    COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) WHERE rn = 1
"""


@query("q104_window_value_functions", _Q104_SQL)
def q104_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth_value — the window VALUE family over an
    explicit full-partition frame (last_value under the default frame is the
    classic running-frame footgun: it returns the CURRENT row; the
    unbounded-following frame makes it the true per-key last). One shuffle
    on the partition key serves all five window expressions."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    ordered = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = ordered.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            F.row_number().over(ordered).alias("rn"),
            F.first("o_totalprice").over(ordered).alias("first_price"),
            F.last("o_totalprice").over(full).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
            F.count("*").over(W.partitionBy("o_custkey")).alias("n_orders"),
        )
        .filter(F.col("rn") == 1)
    )


# ---------------------------------------------------------------------------
# Deterministic mode + argmin aggregates
# ---------------------------------------------------------------------------

_Q105_SQL = """
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2
), m AS (
  SELECT c_mktsegment, c_nationkey AS mode_nation,
    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                       ORDER BY cnt DESC, c_nationkey) AS rn
  FROM counts
), am AS (
  SELECT c_mktsegment, c_custkey AS poorest_cust,
    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal, c_custkey) AS rn
  FROM customer
)
SELECT m.c_mktsegment, m.mode_nation, am.poorest_cust
FROM m JOIN am USING (c_mktsegment)
WHERE m.rn = 1 AND am.rn = 1
ORDER BY m.c_mktsegment
"""


@query("q105_mode_argmin", _Q105_SQL)
def q105_mode_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent nation per segment, ties -> lowest
    value: Spark's mode(col, deterministic=true) contract) and a
    deterministic argmin via min_by over a composite (balance, key) struct —
    single-pass aggregates where the oracle needs windowed row_number
    reconstructions. At scale these are partial-aggregatable (mode merges
    count maps; min_by merges a single struct) — no second shuffle."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.mode("c_nationkey", True).alias("mode_nation"),
            F.min_by(
                "c_custkey", F.struct("c_acctbal", "c_custkey")
            ).alias("poorest_cust"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# unionByName with missing columns (the reference's U1, as a checked query)
# ---------------------------------------------------------------------------

_Q107_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS o_orderpriority
FROM orders WHERE o_orderstatus = 'F'
UNION ALL BY NAME
SELECT o_orderkey, o_orderstatus, o_orderpriority, NULL AS o_totalprice
FROM orders WHERE o_orderstatus = 'O'
"""


@query("q107_union_by_name_missing", _Q107_SQL)
def q107_union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): name-based (not positional)
    union where each side's absent columns become NULL — exactly the
    reference's one multi-input operator (rejected ∪ GE-failed,
    Glue_job.py:116) as a checked query. Positional UNION would silently
    misalign here: the two sides share only a column-name prefix."""
    o = table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    right = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return left.unionByName(right, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_Q108_SQL = f"""
WITH a AS (
  SELECT NULLIF(o_orderpriority, '5-LOW') AS k, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), b AS (
  SELECT NULLIF(o_orderpriority, '5-LOW') AS k,
    {dsum_sql("o_totalprice")} AS total
  FROM orders GROUP BY 1
)
SELECT a.k, a.n_orders, b.total
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY a.k NULLS FIRST
"""


@query("q108_null_safe_join", _Q108_SQL)
def q108_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (eqNullSafe / <=>): NULL keys MATCH each other
    instead of vanishing under 3VL — the join-side counterpart of the
    pipeline's coalesce(flag,false) correction (SURVEY §4 fix 1). Still a
    hash-joinable equality (NULL hashes like any value under <=>), so the
    plan is a normal equi join, not a nested loop."""
    o = table(spark, sf_dir, "orders")
    k = F.nullif("o_orderpriority", F.lit("5-LOW"))
    a = o.groupBy(k.alias("k")).agg(F.count("*").alias("n_orders"))
    b = o.groupBy(k.alias("k")).agg(
        dsum("o_totalprice").alias("total")
    )
    bb = b.withColumnRenamed("k", "bk")
    return (
        a.join(bb, a.k.eqNullSafe(F.col("bk")))
        .select("k", "n_orders", "total")
        .orderBy(F.col("k").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# q147: bitwise aggregates + ordered string aggregation.
# ---------------------------------------------------------------------------

_Q147_SQL = """
SELECT event_type,
       BIT_AND(user_id) AS users_and,
       BIT_OR(user_id) AS users_or,
       BIT_XOR(user_id) AS users_xor,
       STRING_AGG(DISTINCT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d'), ','
                  ORDER BY STRFTIME(CAST(ts AS DATE), '%Y-%m-%d')) AS active_days
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q147_bitwise_stringagg", _Q147_SQL)
def q147_bitwise_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor — flag-mask
    rollups) plus deterministic ordered string aggregation (LISTAGG ≙
    concat_ws over a SORTED collect_set: collect order is
    partition-nondeterministic, so the sort is what makes the result
    reproducible and oracle-comparable). One shuffle on event_type;
    everything partial-aggregatable except the bounded per-group
    day set."""
    e = table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    return (
        e.select("event_type", "user_id", day.alias("day"))
        .groupBy("event_type")
        .agg(
            F.bit_and("user_id").alias("users_and"),
            F.bit_or("user_id").alias("users_or"),
            F.bit_xor("user_id").alias("users_xor"),
            F.concat_ws(",", F.array_sort(F.collect_set("day"))).alias("active_days"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q148: multiset EXCEPT ALL / INTERSECT ALL (duplicate multiplicities).
# ---------------------------------------------------------------------------

_Q148_SQL = """
SELECT 'except_all' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'view'
)
UNION ALL
SELECT 'intersect_all' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT ALL
  SELECT user_id FROM events WHERE event_type = 'view'
)
ORDER BY op, user_id
"""


@query("q148_multiset_ops", _Q148_SQL)
def q148_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag semantics on inputs that really carry duplicates: a user with
    5 clicks and 3 views keeps 2 rows in EXCEPT ALL and 3 in INTERSECT
    ALL — multiplicity arithmetic, not membership (q17 covers the
    distinct forms). Spark plans both as hash aggregates over
    (value, count) pairs — same single-shuffle shape as the oracle."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    return (
        clicks.exceptAll(views).select(F.lit("except_all").alias("op"), "user_id")
        .unionByName(
            clicks.intersectAll(views).select(
                F.lit("intersect_all").alias("op"), "user_id"
            )
        )
        .orderBy("op", "user_id")
    )


# ---------------------------------------------------------------------------
# q149: correlated LATERAL subquery join (SQL surface of top-k-per-key).
# ---------------------------------------------------------------------------

_Q149_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON TRUE
WHERE c.c_acctbal > 9000
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


@query("q149_lateral_topk", _Q149_SQL)
def q149_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join — the SQL-surface twin of the
    window top-k (q13): per qualifying customer, their 2 highest-price
    orders. Spark decorrelates the LATERAL LIMIT into a partitioned
    rank filter, so the physical plan is the same single orders shuffle
    as the window form — declared through spark.sql to pin that the SQL
    entry point handles correlated table subqueries, not just the
    DataFrame API. Ties break on o_orderkey (deterministic)."""
    tune(spark)
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_acctbal > 9000
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# q159: referential-integrity audit across the star schema.
# ---------------------------------------------------------------------------

_Q159_SQL = """
SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n_orphans,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows
UNION ALL
SELECT 'orders.o_custkey -> customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       CAST((SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
UNION ALL
SELECT 'supplier.s_nationkey -> nation',
       CAST((SELECT COUNT(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM supplier) AS BIGINT)
ORDER BY fk_edge
"""


@query("q159_referential_integrity_audit", _Q159_SQL)
def q159_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-count audit over every FK edge of the star schema — the
    health check a warehouse runs after each load (files have no
    enforced constraints, so RI is a job, not a guarantee). ONE
    declarative plan: each edge contributes a 1-row aggregate (orphans
    via conditional count over a broadcast LEFT join against the parent
    key set, total from the same pass) and the rows union — no
    driver-side counting loop. Emitting a row per edge whether or not
    orphans exist keeps the report non-vacuous and alert-diffable. At
    100 TB each edge is one child pass with a broadcast parent — no
    fact-fact shuffle."""
    def edge(label: str, child: str, ck: str, parent: str, pk: str) -> DataFrame:
        c = table(spark, sf_dir, child)
        p_keys = table(spark, sf_dir, parent).select(pk).distinct()
        return (
            c.join(F.broadcast(p_keys), c[ck] == F.col(pk), "left")
            .agg(
                F.lit(label).alias("fk_edge"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0)).alias("n_orphans"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    edges = [
        edge("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("fk_edge")


# ---------------------------------------------------------------------------
# q162: relational division — users covering ALL event types.
# ---------------------------------------------------------------------------

_Q162_SQL = """
WITH n_types AS (SELECT COUNT(DISTINCT event_type) AS n FROM events)
SELECT e.user_id,
       CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_hit,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e
GROUP BY e.user_id
HAVING COUNT(DISTINCT e.event_type) = (SELECT n FROM n_types)
ORDER BY e.user_id
"""


@query("q162_relational_division", _Q162_SQL)
def q162_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ('FOR ALL'): users whose event set covers EVERY
    event type — the classic shape textbooks write with double NOT
    EXISTS, decorrelated here to one distinct-count aggregate compared
    against a 1-row broadcast divisor cardinality. One shuffle on
    user_id; the divisor count is a 5-row aggregate."""
    e = table(spark, sf_dir, "events")
    n_types = e.agg(F.countDistinct("event_type").alias("n"))
    return (
        e.groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types_hit"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .join(F.broadcast(n_types), F.col("n_types_hit") == F.col("n"))
        .drop("n")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q180: top-k WITH TIES per group (rank, not row_number).
# ---------------------------------------------------------------------------

_Q180_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         RANK() OVER (PARTITION BY c_nationkey
                      ORDER BY ROUND(c_acctbal, 0) DESC) AS rk
  FROM customer
)
SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 0) AS acctbal_rounded, rk
FROM ranked WHERE rk <= 3
ORDER BY c_nationkey, rk, c_custkey
"""


@query("q180_topk_with_ties", _Q180_SQL)
def q180_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 account balances per nation WITH TIES: rank() keeps every
    row that ties into the cutoff (the ANSI FETCH ... WITH TIES
    semantics), where q13's row_number() arbitrarily drops tied rows —
    materially different answers whenever the measure is coarse (here:
    rounded balances force ties). Same single window shuffle; the only
    cost delta is output cardinality."""
    c = table(spark, sf_dir, "customer")
    rounded = F.round("c_acctbal", 0)
    w = W.partitionBy("c_nationkey").orderBy(rounded.desc())
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            rounded.alias("acctbal_rounded"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("c_nationkey", "rk", "c_custkey")
    )
