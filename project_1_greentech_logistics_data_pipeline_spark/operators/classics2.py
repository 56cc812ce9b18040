"""Classic analytics shapes, part 2: the remaining TPC-H query patterns the
testdata's reduced star schema can express, plus two Spark-4-native API
surfaces (VariantType semi-structured access, Python UDTF).

The reference pipeline has no joins at all (SURVEY §2.3) — these queries are
the declared engine surface that generalizes its capabilities to real
warehouse workloads. Shapes covered here and nowhere else in the registry:

- bidirectional nation-pair disjunction over a double-dimension join (Q7)
- market-share ratio-of-conditional-sums over a 7-table join (Q8)
- multi-table expression aggregate grouped by two derived keys (Q9)
- group-by over a wide composite key with top-k by aggregate (Q10)
- OR-of-AND-blocks disjunctive join predicate with manual prefilter
  derivation (Q19)
- EXISTS + NOT EXISTS *self*-joins on the fact table (Q21)
- scalar-average subquery + anti-join + derived group key (Q22)
- VariantType: the Spark-4 typed semi-structured path — engine twin of the
  reference's Snowflake VARIANT columns (Curated_table.sql:5,
  Curated_pipe.sql:9 casts `$1:location::VARIANT`)
- Python UDTF (lateral table function), Arrow-optimized — the declared
  UDTF surface of SURVEY §2.9

Columns absent from the testdata (partsupp, l_shipmode, l_receiptdate,
c_phone, p_container...) are substituted with equivalents that preserve each
query's *shape* (join graph, predicate structure, aggregation pattern);
docstrings note each substitution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import davg, dsum, dsum_sql, pos_zero_col
from ..functions.text import WS_CLASS_PY, tokens_sql
from ..registry import query, table


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: volume shipping between two nations
# ---------------------------------------------------------------------------

_Q82_SQL = f"""
SELECT
  n1.n_name AS supp_nation,
  n2.n_name AS cust_nation,
  YEAR(l.l_shipdate) AS l_year,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q82_tpch_q7_volume_shipping", _Q82_SQL)
def q82_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between a nation *pair*, either direction.

    Scale plan: both nation dims are pre-filtered to the two names (the
    IN-list each branch of the disjunction implies) so supplier and customer
    shrink before touching the fact; the residual pair predicate — the part
    Catalyst cannot decompose into single-side filters — runs after the last
    broadcast join. lineitem streams through broadcast joins only; the single
    shuffle is the final group-by on (nation, nation, year).
    """
    pair = ("NATION_3", "NATION_7")
    n1 = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n2 = n1.alias("n2")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == n1.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(revenue).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share within a region
# ---------------------------------------------------------------------------

_Q83_NAT_VOL = (
    "CASE WHEN n1.n_name = 'NATION_8'\n"
    "                     THEN l.l_extendedprice * (1 - l.l_discount)\n"
    "                     ELSE 0.0 END"
)
_Q83_SQL = f"""
SELECT
  YEAR(o.o_orderdate) AS o_year,
  {dsum_sql(_Q83_NAT_VOL)}
    / {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS mkt_share
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND p.p_type = 'PROMO'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""


@query("q83_tpch_q8_market_share", _Q83_SQL)
def q83_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a part-type's revenue among
    customers of one region, by year — ratio of a conditional sum to the
    total sum in a single aggregation pass (no self-join, no second scan).

    p_container is absent from the testdata part table, so the part filter is
    p_type alone. Both sums are decimal-exact before the one double division,
    so the ratio is bit-deterministic against the oracle. Seven-table join:
    every dim side is broadcast; lineitem is scanned once.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n2 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == n2.n_nationkey)
        .select("c_custkey")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_8", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(nat_vol) / dsum(vol)).alias("mkt_share"))
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit by supplier nation and year
# ---------------------------------------------------------------------------

_Q88_PROFIT = (
    "l.l_extendedprice * (1 - l.l_discount)\n"
    "                - 0.8 * p.p_retailprice * l.l_quantity\n"
    "          "
)
_Q88_SQL = f"""
SELECT
  n.n_name AS nation,
  YEAR(o.o_orderdate) AS o_year,
  {dsum_sql(_Q88_PROFIT)} AS sum_profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("q88_tpch_q9_profit", _Q88_SQL)
def q88_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: per-nation, per-year profit over a substring-filtered part
    set. partsupp (ps_supplycost) does not exist in the testdata, so cost is
    modeled as 0.8 * p_retailprice * l_quantity — same join graph, same
    row-level expression aggregate, same derived group keys.

    The LIKE '%red%' filter is pushed into the part scan (non-anchored
    `contains`); the filtered part and all other dims broadcast, so the
    100 TB lineitem side is one scan + one group-by shuffle.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    n = table(spark, sf_dir, "nation")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.8) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------

_Q84_SQL = f"""
SELECT
  c.c_custkey,
  c.c_name,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS revenue,
  c.c_acctbal,
  n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q84_tpch_q10_returned_items", _Q84_SQL)
def q84_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a quarter.
    Wide composite group key (4 columns carried through the aggregate) with
    top-k on the aggregate — the group-by shuffle carries the key columns,
    the limit is TakeOrderedAndProject (no global sort materialization).
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cd = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", "c_name", "c_acctbal", "n_name"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cd), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive (OR-of-AND-blocks) join predicate
# ---------------------------------------------------------------------------

_Q85_SQL = f"""
SELECT
  COUNT(*) AS n_lines,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
    AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@query("q85_tpch_q19_disjunctive", _Q85_SQL)
def q85_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: a join whose predicate is an OR of AND-blocks mixing both
    sides (p_container/l_shipmode absent → brand/size/quantity bands keep the
    structure). The scale-critical move is deriving the single-side
    *envelopes* of the disjunction by hand — brand IN (…) ∧ size ∈ [1,50]
    onto the part scan, quantity ∈ [1,30] onto the lineitem scan — because
    Catalyst does not factor OR-branches into per-side implied filters. The
    residual disjunction evaluates after the broadcast join.
    """
    bands = [
        ("Brand#1", 1, 15, 1, 11),
        ("Brand#13", 10, 30, 10, 20),
        ("Brand#22", 20, 50, 20, 30),
    ]
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*[b for b, *_ in bands])
        & F.col("p_size").between(min(b[1] for b in bands), max(b[2] for b in bands))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(min(b[3] for b in bands), max(b[4] for b in bands))
    )
    disj = None
    for brand, s_lo, s_hi, q_lo, q_hi in bands:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        disj = branch if disj is None else (disj | branch)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(disj)
        .agg(F.count("*").alias("n_lines"), dsum(revenue).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins on the fact table
# ---------------------------------------------------------------------------

_Q86_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("q86_tpch_q21_waiting_supplier", _Q86_SQL)
def q86_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: the sole-blame pattern — suppliers solely responsible for a
    bad outcome in multi-supplier orders. l_receiptdate/l_commitdate are
    absent, so "late" is modeled as l_returnflag='R' within finished ('F')
    orders; the defining structure — a correlated EXISTS *and* NOT EXISTS
    against the same fact table, correlated on the join key plus an
    inequality on supplier — is preserved exactly.

    Spark plan: both subqueries become semi/anti self-joins on l_orderkey
    with the non-equi suppkey condition as a join residual. All three
    lineitem scans shuffle on l_orderkey; AQE coalesces the co-partitioned
    exchanges. At 100 TB the win is that the anti side is pre-filtered to
    returnflag='R' before the shuffle.
    """
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .alias("l1")
        .join(F.broadcast(o.select("o_orderkey")), F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .select("l1.l_orderkey", "l1.l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("l2_orderkey"))
        & (F.col("l_suppkey") != F.col("l2_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("l3_orderkey"))
        & (F.col("l_suppkey") != F.col("l3_suppkey")),
        "left_anti",
    )
    return (
        cand.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar-average subquery + anti-join + derived group key
# ---------------------------------------------------------------------------

_Q87_SQL = f"""
SELECT
  RIGHT(c.c_name, 1) AS cntrycode,
  COUNT(*) AS numcust,
  {dsum_sql("c.c_acctbal")} AS totacctbal
FROM customer c
WHERE RIGHT(c.c_name, 1) IN ('1', '3', '5', '7', '9')
  AND c.c_acctbal > (
    SELECT {dsum_sql("c2.c_acctbal")} / COUNT(c2.c_acctbal)
    FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= (SELECT MAX(o2.o_orderdate) FROM orders o2) - INTERVAL 12 MONTH)
GROUP BY cntrycode
ORDER BY cntrycode
"""


@query("q87_tpch_q22_dormant_customers", _Q87_SQL)
def q87_tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: above-average-balance customers with no RECENT order
    (none in the 12 months up to the corpus's last order date), grouped by
    a derived code (c_phone is absent → RIGHT(c_name, 1), same
    substring-derived key structure). The original "never ordered"
    predicate is vacuous on this corpus (every custkey appears in orders),
    so dormancy is time-bounded — the anti-join shape is identical, the
    result non-empty at every SF.

    Both scalars (the balance average and the dormancy cutoff) are
    computed once (decimal-exact / max-date) and broadcast into their
    filters as 1-row crossJoins — no collect on the driver, so the plan
    stays a single job and works unchanged when customer is 10^9 rows.
    NOT EXISTS is a left_anti against the recent-orders custkey
    projection.
    """
    c = table(spark, sf_dir, "customer")
    # last DIGIT, not last-2: the driver corpus regenerates per round and
    # a 7-of-100 code slice over the handful of dormant customers at
    # sf0.001 goes empty on unlucky draws — 5-of-10 keeps the Q22
    # substring-derived IN-filter shape with a result at every SF.
    codes = ("1", "3", "5", "7", "9")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal").alias("avg_bal"))
    orders = table(spark, sf_dir, "orders")
    # timestamp-preserving interval arithmetic (NOT add_months, which
    # returns DATE and truncates time-of-day — the oracle's
    # `- INTERVAL 12 MONTH` keeps it, and o_orderdate is a timestamp)
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 12 MONTHS")).alias("cutoff")
    )
    o = (
        orders.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") >= F.col("cutoff"))
        .select("o_custkey")
    )
    return (
        c.withColumn("cntrycode", F.expr("right(c_name, 1)"))
        .filter(F.col("cntrycode").isin(*codes))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# VariantType: Spark-4 typed semi-structured access (Snowflake VARIANT twin)
# ---------------------------------------------------------------------------

_Q89_SQL = """
SELECT
  e.event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(e.props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(e.props, '$.k') AS BIGINT)) AS max_k,
  COUNT(*) - COUNT(CAST(json_extract_string(e.props, '$.k') AS BIGINT)) AS n_missing_k
FROM events e
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("q89_variant_semistructured", _Q89_SQL)
def q89_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's native VariantType:
    parse_json once into the binary variant encoding, then typed path
    extraction with try_variant_get — the engine-native equivalent of the
    reference's Snowflake VARIANT columns and `$1:field::TYPE` Snowpipe casts
    (Curated_table.sql:5, Curated_pipe.sql:7-15).

    Unlike get_json_object (q24), which re-parses the JSON string per path,
    the variant is parsed once per row and every extraction is a cheap typed
    probe into the encoded form — at 100 TB with many paths this is the
    difference between N parses and 1. try_variant_get returns NULL on a
    missing path (counted here as n_missing_k) instead of failing.
    """
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            (F.count("*") - F.count("k")).alias("n_missing_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Python UDTF: lateral table function (Arrow-optimized), SURVEY §2.9 surface
# ---------------------------------------------------------------------------

_Q90_SQL = f"""
SELECT tok, COUNT(*) AS n_docs
FROM (
  SELECT
    UNNEST({tokens_sql('text')}) AS tok,
    GENERATE_SUBSCRIPTS({tokens_sql('text')}, 1) AS pos
  FROM documents
)
WHERE pos <= 2
GROUP BY tok
ORDER BY n_docs DESC, tok
LIMIT 15
"""


@query("q90_udtf_leading_tokens", _Q90_SQL)
def q90_udtf_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (user-defined *table* function, Spark 3.5+/4.x): a lateral
    function emitting (pos, tok) rows per document, consumed via
    `table, LATERAL udtf(...)` — the declared UDTF surface of SURVEY §2.9.
    Tokenization mirrors q27's ``tokens_expr`` exactly (the text kit,
    functions/text.py), so the DuckDB UNNEST + GENERATE_SUBSCRIPTS oracle
    over ``tokens_sql`` is exact.

    UDTFs are the Python slow path (row-at-a-time yields); this one bounds
    its output to the first 2 tokens per document, so the Python-side work is
    O(docs), not O(tokens). For unbounded expansion prefer the JVM-side
    explode (q27); the UDTF exists for logic explode cannot express
    (stateful per-row expansion, external lookups, non-1NF parses).
    """
    from pyspark.sql.functions import udtf

    class LeadingTokens:
        def eval(self, text: str, limit: int):
            if text is None:
                return
            # Mirror the JVM contract exactly: Spark trim strips ASCII
            # spaces ONLY (Python str.strip() would also eat tabs/newlines
            # and Unicode whitespace, dropping the edge-empty token the
            # q27/oracle split keeps).
            toks = __import__("re").split(f"[{WS_CLASS_PY}]+", text.strip(" "))
            for i, tok in enumerate(toks[:limit], start=1):
                yield i, tok

    try:  # Arrow-batched UDTF transfer (Spark 4.x); pickle fallback otherwise
        LeadingTokens = udtf(LeadingTokens, returnType="pos int, tok string", useArrow=True)
    except TypeError:
        LeadingTokens = udtf(LeadingTokens, returnType="pos int, tok string")

    spark.udtf.register("leading_tokens", LeadingTokens)
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("q90_documents")
    return spark.sql(
        """
        SELECT t.tok, COUNT(*) AS n_docs
        FROM q90_documents d, LATERAL leading_tokens(d.text, 2) t
        GROUP BY t.tok
        ORDER BY n_docs DESC, tok
        LIMIT 15
        """
    )


# ---------------------------------------------------------------------------
# Approximate percentile sketch (rows-only; tolerance pytest in
# tests/test_extensions.py, mirroring the q28 HLL pattern)
# ---------------------------------------------------------------------------


@query("q95_approx_percentile", None)  # sketch is engine-specific -> rows-only
def q95_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style quantile sketch): constant-memory
    mergeable quantiles — the 100 TB path where exact percentile's
    full-collection-per-group (q19) stops being affordable. accuracy=10000
    bounds rank error at ~0.01%; the pytest checks the estimates land within
    rank tolerance of the exact interpolated percentiles."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias(
            "approx_p90"
        ),
        F.percentile("l_extendedprice", 0.5).alias("exact_median"),
        F.percentile("l_extendedprice", 0.9).alias("exact_p90"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution (double aggregation)
# ---------------------------------------------------------------------------

_Q98_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q98_tpch_q13_custdist", _Q98_SQL)
def q98_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of per-customer order counts — a LEFT OUTER join
    whose ON clause carries a non-key predicate (the filter must live in the
    join condition, not WHERE, to preserve zero-order customers), then two
    aggregation levels: count-per-customer, then customers-per-count.
    COUNT(o_orderkey) counts only matched rows, so no-order customers land
    in the c_count=0 bucket. The second aggregation's input is one row per
    customer — the second shuffle is tiny; AQE coalesces it."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate Pandas UDF (the scalar UDAF surface of SURVEY §2.9)
# ---------------------------------------------------------------------------

_Q99_SQL = """
SELECT
  l_returnflag,
  CAST(ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS DOUBLE) AS geomean_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q99_pandas_udaf_geomean", _Q99_SQL)
def q99_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-mean UDAF as a grouped-aggregate Pandas UDF — the scalar
    custom-aggregate API (vs q75's grouped-MAP applyInPandas): one Arrow
    batch per group feeds a numpy reduction, the result is a scalar per
    group. exp(mean(log)) in float64 matches the oracle's EXP(AVG(LN(...)))
    at 4 rounded digits (both sides mean over float64 logs; rounding absorbs
    the accumulation-order ulps). At 100 TB: Spark still runs partial
    aggregation per partition? No — grouped-agg Pandas UDFs require the
    whole group on one node (no partial merge), so this surface is for
    moderate group cardinality x size; unboundable groups should use an
    algebraic reformulation (exactly what the oracle's EXP(AVG(LN)) is,
    expressible JVM-side as exp(avg(ln(c)))) — documented trade-off."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geomean(prices):
        import numpy as np

        return float(np.exp(np.log(prices.to_numpy(dtype="float64")).mean()))

    # real type objects, not strings: this module's `from __future__ import
    # annotations` would stringify inline hints and break eval-type inference
    _geomean.__annotations__ = {"prices": pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")

    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(geomean("l_extendedprice"), 4).alias("geomean_price"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Year-over-year growth: window functions OVER an aggregate (two altitudes)
# ---------------------------------------------------------------------------

_Q106_SQL = f"""
WITH yearly AS (
  SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
    {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")}
      AS revenue
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY nation, o_year
)
SELECT nation, o_year, revenue,
  LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year) AS prev_revenue,
  CAST(ROUND(
    (revenue - LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year))
      / NULLIF(LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year), 0.0), 6)
    + 0.0 AS DOUBLE) AS yoy_growth
FROM yearly
ORDER BY nation, o_year
"""


@query("q106_yoy_growth", _Q106_SQL)
def q106_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation: an aggregate
    (fact scan -> grouped decimal-exact sums) feeding window functions at a
    second altitude (lag over the yearly series). The window input is the
    AGGREGATE's output — thousands of rows regardless of fact size — so the
    window stage costs nothing at 100 TB; the plan is one fact pass + one
    group-by shuffle + one tiny window exchange."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cd = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", F.col("n_name").alias("nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    yearly = (
        li.join(F.broadcast(o.join(F.broadcast(cd), o.o_custkey == F.col("c_custkey"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(revenue).alias("revenue"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("nation").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "nation",
        "o_year",
        "revenue",
        prev.alias("prev_revenue"),
        # pos_zero: a tiny negative growth rounds to zero with opposite
        # signs on the two engines (q122 r4 signed-zero class).
        pos_zero_col(
            F.round((F.col("revenue") - prev) / F.nullif(prev, F.lit(0.0)), 6)
        ).alias("yoy_growth"),
    ).orderBy("nation", "o_year")
