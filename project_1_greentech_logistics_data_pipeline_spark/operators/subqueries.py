"""Subquery-shaped and remaining declared analytics shapes (SURVEY §2.3-2.5).

The reference has no subqueries (its only multi-input op is the unionByName at
Glue/Glue_job.py:116), but the declared engine surface requires the query
shapes every warehouse consumer writes: correlated scalar subqueries, HAVING
over aggregates, scalar-subquery thresholds, NOT IN anti-subqueries,
conditional aggregation, EXISTS-then-group, RANGE window frames, collect_list/
collect_set, group-min join-back (argmin), sliding event-time windows, and
full outer joins.

Every Spark implementation here is the decorrelated, scale-first plan a 100 TB
deployment wants: aggregate the fact table FIRST where possible (Q18 idiom),
broadcast every small/derived side, and keep the big side to a single shuffle.
The oracle SQL keeps the textbook correlated form so the driver's DuckDB
differential check validates that the decorrelation is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import davg, dec, dec_sql, dsum, dsum_sql
from ..registry import query, table


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): small-quantity revenue
# ---------------------------------------------------------------------------

_Q62_SQL = f"""
SELECT
  {dsum_sql("l.l_extendedprice")} / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
    SELECT 0.2 * ({dsum_sql("l2.l_quantity")}
                  / COUNT(l2.l_quantity))
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@query("q62_correlated_scalar_subquery", _Q62_SQL)
def q62_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape, decorrelated: per-part avg as a groupBy, broadcast-
    joined back to the (brand-restricted) fact rows. At 100 TB the brand
    filter broadcasts into the lineitem scan first, so both the threshold agg
    and the probe run over the pruned fact subset — lineitem is scanned once
    and shuffled once (by l_partkey), never self-joined at full width."""
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = (
        table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# HAVING + join-back (TPC-H Q18 shape): large-volume orders
# ---------------------------------------------------------------------------

_Q63_SQL = f"""
WITH big AS (
  SELECT l_orderkey,
         {dsum_sql("l_quantity")} AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING {dsum_sql("l_quantity")} > 300.0
)
SELECT c.c_name, o.o_orderkey,
       STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, big.sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@query("q63_having_large_volume_orders", _Q63_SQL)
def q63_having_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape. The fact table is aggregated FIRST (map-side partials
    + one shuffle on l_orderkey), the HAVING filter shrinks it to a tiny
    survivor set, and only that survivor set joins to orders/customer — at
    100 TB the survivors broadcast, so the dims are never shuffled."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Scalar-subquery threshold (TPC-H Q11 shape): above-share nations
# ---------------------------------------------------------------------------

_Q64_SQL = f"""
WITH nat_rev AS (
  SELECT n.n_name,
         {dsum_sql("o.o_totalprice")} AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name, revenue
FROM nat_rev
WHERE revenue > (
  SELECT 0.04 * {dsum_sql("revenue")}
  FROM nat_rev)
"""


@query("q64_scalar_subquery_threshold", _Q64_SQL)
def q64_scalar_subquery_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: keep groups whose value exceeds a fraction of the
    global total. The grouped aggregate is computed once; the global scalar
    is a 1-row aggregate of THAT result (25 rows, not a second fact scan),
    broadcast back as a cross join — zero extra passes over orders.

    The fraction is 0.04 = 1/25 nations, i.e. the MEAN share: some nation
    strictly exceeds the mean unless all 25 revenues are exactly equal, so
    the result is non-empty at every scale factor. The original 0.045 went
    vacuous at sf0.1, where the law of large numbers concentrates every
    share toward 4% (max observed share 4.33%) — caught by
    test_no_vacuous_results, the q87 drift-guard class."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nat_rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    total = nat_rev.agg((F.lit(0.04) * dsum("revenue")).alias("threshold"))
    return (
        nat_rev.crossJoin(F.broadcast(total))
        .filter(F.col("revenue") > F.col("threshold"))
        .select("n_name", "revenue")
    )


# ---------------------------------------------------------------------------
# NOT IN anti-subquery + count distinct (TPC-H Q16 shape)
# ---------------------------------------------------------------------------

_Q65_SQL = """
SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
"""


@query("q65_notin_anti_subquery", _Q65_SQL)
def q65_notin_anti_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape. NOT IN over a non-nullable key list rewrites to a
    broadcast left-anti join (the excluded-supplier list is tiny); part is
    broadcast too, so the only shuffle is the final distinct-count on
    (brand, type). With a nullable subquery column NOT IN would be
    three-valued — documented, and the exclusion key here is never null."""
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (TPC-H Q14 shape): promo revenue share
# ---------------------------------------------------------------------------

_Q66_SQL = f"""
SELECT
  100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN {dec_sql("l.l_extendedprice * (1 - l.l_discount)")}
                 ELSE {dec_sql("0")} END) AS DOUBLE)
        / {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS promo_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
"""


@query("q66_conditional_agg_promo_share", _Q66_SQL)
def q66_conditional_agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: sum(CASE WHEN …)/sum(…) in a single aggregate pass —
    the standard pattern for rate/share metrics without two scans. Date
    filter pushes to the parquet scan; part broadcasts."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(dec(F.lit(0)))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# EXISTS then group (TPC-H Q4 shape): priority counts for qualifying orders
# ---------------------------------------------------------------------------

_Q67_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o.o_orderpriority
"""


@query("q67_exists_group_priority", _Q67_SQL)
def q67_exists_group_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS = left-semi join, then a grouped
    count. Differs from the bare semi join (q06) by the aggregation after the
    semi — the semi output keeps orders' partitioning, and the tiny
    5-priority group-by coalesces under AQE."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# RANGE window frame: 30-minute trailing per-user event stats
# ---------------------------------------------------------------------------

_Q68_SQL = f"""
SELECT event_id, user_id,
  COUNT(*) OVER w AS n_30m,
  CAST(SUM({dec_sql("value")}) OVER w AS DOUBLE) AS sum_30m
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
"""


@query("q68_window_range_frame", _Q68_SQL)
def q68_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame — a trailing 30-minute per-user
    rollup. Ordering on unix_micros makes Spark's rangeBetween and the
    oracle's RANGE frame share exact tie semantics (peers at the same
    microsecond aggregate together in both). The NTZ->TIMESTAMP cast is
    lossless under the engine's fixed UTC session timezone (session.py).
    One shuffle on user_id."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-1_800_000_000, Window.currentRow)
    )
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_30m"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_30m"),
    )


# ---------------------------------------------------------------------------
# collect_list / collect_set with deterministic ordering
# ---------------------------------------------------------------------------

_Q69_SQL = """
SELECT c_nationkey,
  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
  array_to_string(list_sort(list(c_mktsegment)), ',') AS segments_all,
  COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
"""


@query("q69_collect_sorted_arrays", _Q69_SQL)
def q69_collect_sorted_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set / collect_list surface. Spark's collection aggregates are
    order-nondeterministic across partitions, so both are wrapped in
    array_sort — the only way a distributed collect can have a stable
    value (and the only way it can be oracle-checked). The sorted arrays are
    serialized with concat_ws (oracle: array_to_string) because the output
    contract is scalar columns only — the driver canonicalizer sorts rows
    pandas-side and array cells are unsortable there (q10 pattern,
    relational.py)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
        F.concat_ws(",", F.array_sort(F.collect_list("c_mktsegment"))).alias(
            "segments_all"
        ),
        F.count("*").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Group-min join-back (argmin; TPC-H Q2 shape)
# ---------------------------------------------------------------------------

_Q70_SQL = """
WITH m AS (
  SELECT l_partkey, MIN(l_extendedprice) AS min_price
  FROM lineitem GROUP BY l_partkey
)
SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice AS price
FROM lineitem l
JOIN m ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
"""


@query("q70_groupmin_joinback", _Q70_SQL)
def q70_groupmin_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's argmin idiom: group-min, then join back to recover the
    full row(s) attaining the min (keeps ties — distinct from the
    row_number top-1 of q13, which breaks them). MIN over doubles is exact,
    so the equality join-back is FP-safe. Both sides shuffle on l_partkey —
    one exchange each, reused by AQE."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    m = li.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li.join(
            m,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .select("l_partkey", "l_suppkey", F.col("l_extendedprice").alias("price"))
    )


# ---------------------------------------------------------------------------
# Sliding event-time windows (batch twin of streaming sliding agg)
# ---------------------------------------------------------------------------

_Q71_SQL = f"""
WITH contrib AS (
  SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) AS ws, value FROM events
  UNION ALL
  SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS ws, value
  FROM events
)
SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {dsum_sql("value")} AS sum_value
FROM contrib
GROUP BY ws
"""


@query("q71_sliding_window_agg", _Q71_SQL)
def q71_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly
    width/slide = 2 windows. Spark's F.window generates both assignments
    before the single shuffle; the oracle materializes the same two
    assignments as a UNION ALL of shifted tumbling buckets."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Full outer join with coalesced keys
# ---------------------------------------------------------------------------

_Q72_SQL = """
WITH ue AS (
  SELECT user_id AS id, COUNT(*) AS n_events FROM events GROUP BY user_id
), co AS (
  SELECT o_custkey AS id, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT COALESCE(ue.id, co.id) AS id,
       COALESCE(ue.n_events, 0) AS n_events,
       COALESCE(co.n_orders, 0) AS n_orders
FROM ue FULL OUTER JOIN co ON ue.id = co.id
"""


@query("q72_full_outer_join", _Q72_SQL)
def q72_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (completes the outer-join family with q05): activity
    vs purchase counts per id, keeping ids present on either side only.
    Both inputs are pre-aggregated before the join, so the full-outer runs
    on two already-small keyed sides — the 100 TB-safe order of operations
    (aggregate first, outer-join the rollups)."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    ue = e.groupBy(F.col("user_id").alias("uid")).agg(F.count("*").alias("n_events"))
    co = o.groupBy(F.col("o_custkey").alias("oid")).agg(F.count("*").alias("n_orders"))
    return (
        ue.join(co, ue.uid == co.oid, "full_outer")
        .select(
            F.coalesce("uid", "oid").alias("id"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Right outer join (completes the outer family: q05 left, q72 full)
# ---------------------------------------------------------------------------

_Q80_SQL = """
SELECT
  c.c_custkey,
  COUNT(o.o_orderkey) AS n_orders
FROM orders o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000
GROUP BY c.c_custkey
"""


@query("q80_join_right_outer", _Q80_SQL)
def q80_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: fact on the left, preserved dimension on the right
    (Catalyst plans it as the mirrored left-outer with the dim broadcast —
    the preserved side can't be the build side of a broadcast join, so the
    planner flips it)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Distribution window functions (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

_Q81_SQL = """
SELECT
  o_orderkey, o_custkey,
  CAST(NTILE(4) OVER w AS BIGINT) AS spend_quartile,
  CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
  CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


@query("q81_window_distribution", _Q81_SQL)
def q81_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile bucketing (ntile),
    percent_rank, cume_dist per status. The o_orderkey tiebreaker makes the
    ordering total, so every rank-derived value is deterministic on both
    engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("bigint").alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cume"),
    )
