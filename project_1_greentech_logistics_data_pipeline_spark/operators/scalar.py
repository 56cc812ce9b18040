"""Scalar function surface: string / date / math / array / map / json /
conditional (SURVEY §2.7).

The reference's scalar usage is json parse + when/isnan/between/isin +
current_timestamp (Glue_job.py:32-81) plus Snowflake-side path extraction
($1:f::TYPE, Curated_pipe.sql:7-15). These queries declare the generalized
surface over the testdata, each with a DuckDB oracle.

Cross-engine determinism notes:
- transcendental functions (ln/pow/sqrt) are rounded to 6 decimals on both
  sides — JVM and DuckDB libm can differ in the last ulp;
- integer-valued derivations are cast to the same width on both sides
  (Spark int vs DuckDB BIGINT defaults differ);
- array-typed results are exercised via scalar derivations (size, join,
  element_at) so value comparison stays representation-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import dsum_sql
from ..registry import query, table


_Q20_SQL = """
SELECT
  p_partkey,
  UPPER(p_name) AS name_upper,
  LOWER(p_type) AS type_lower,
  SUBSTRING(p_name, 1, 5) AS name_prefix,
  TRIM(CONCAT('  ', p_name, '  ')) AS name_trimmed,
  (p_brand LIKE 'Brand#1%') AS is_brand1x,
  REGEXP_EXTRACT(p_brand, '#(\\d+)', 1) AS brand_num,
  SPLIT_PART(p_name, ' ', 1) AS first_word,
  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
  REPLACE(p_type, 'ECONOMY', 'ECO') AS type_replaced
FROM part
"""


@query("q20_string_funcs", _Q20_SQL)
def q20_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
        F.col("p_brand").like("Brand#1%").alias("is_brand1x"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_type", "ECONOMY", "ECO").alias("type_replaced"),
    )


_Q21_SQL = """
SELECT
  o_orderkey,
  CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
  CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
  CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
  CAST(DAYOFWEEK(o_orderdate) AS INTEGER) AS order_dow_sun0,
  STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
  CAST(DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_1995,
  CAST(o_orderdate AS DATE) + 30 AS due_date,
  STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date_str
FROM orders
"""


@query("q21_date_funcs", _Q21_SQL)
def q21_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        # DuckDB dayofweek is Sunday=0; Spark's is Sunday=1
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("order_dow_sun0"),
        # DuckDB DATE_TRUNC('month', ts) yields DATE; compare as string
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_since_1995"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


_Q22_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  ABS(l_discount - 0.05) AS disc_dev,
  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
  ROUND(l_extendedprice, 1) AS price_round1,
  ROUND(POW(l_quantity, 2), 6) AS qty_sq,
  ROUND(LN(l_extendedprice), 6) AS price_ln,
  ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
  CAST(l_linenumber % 3 AS INTEGER) AS line_mod3,
  GREATEST(l_discount, l_tax) AS max_rate,
  LEAST(l_discount, l_tax) AS min_rate
FROM lineitem
"""


@query("q22_math_funcs", _Q22_SQL)
def q22_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round("l_extendedprice", 1).alias("price_round1"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        (F.col("l_linenumber") % 3).cast("int").alias("line_mod3"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


_Q23_SQL = """
SELECT
  doc_id,
  CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INTEGER) AS n_unique_tokens,
  STRING_SPLIT(text, ' ')[1] AS first_token,
  STRING_SPLIT(text, ' ')[-1] AS last_token,
  LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' ')))[1] AS min_token,
  LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark,
  ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' ')))[1:3], '|') AS first3_sorted
FROM documents
"""


@query("q23_array_funcs", _Q23_SQL)
def q23_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uniq = F.array_distinct(toks)
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(uniq).cast("int").alias("n_unique_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.element_at(F.sort_array(uniq), 1).alias("min_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(F.sort_array(uniq), 1, 3), "|").alias("first3_sorted"),
    )


_Q24_SQL = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q24_json_extract", _Q24_SQL)
def q24_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props string column — the
    engine-side twin of the Snowpipe $1:field::TYPE projection
    (Curated_pipe.sql:7-15)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_Q25_SQL = """
SELECT
  o_orderkey,
  CASE
    WHEN o_totalprice > 200000 THEN 'high'
    WHEN o_totalprice > 100000 THEN 'mid'
    ELSE 'low'
  END AS price_band,
  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_decoded,
  (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH') AS is_priority,
  IF(o_orderstatus = 'F', o_totalprice, 0.0) AS finished_price
FROM orders
"""


@query("q25_conditional", _Q25_SQL)
def q25_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_decoded"
        ),
        (
            (F.col("o_orderpriority") == "1-URGENT")
            | (F.col("o_orderpriority") == "2-HIGH")
        ).alias("is_priority"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        .otherwise(F.lit(0.0))
        .alias("finished_price"),
    )


_Q26_SQL = """
SELECT
  o_orderstatus,
  CAST(LEN(LIST(DISTINCT o_orderpriority)) AS INTEGER) AS n_keys,
  STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS keys_sorted
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("q26_map_funcs", _Q26_SQL)
def q26_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map per group, then derive scalar outputs
    (map_keys/map_values/element_at) so the oracle comparison stays on
    scalars — DuckDB has no MAP hash-compatible representation."""
    o = table(spark, sf_dir, "orders")
    grouped = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .groupBy("o_orderstatus")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderpriority", "cnt")))
            ).alias("prio_counts")
        )
    )
    return grouped.select(
        "o_orderstatus",
        F.size(F.map_keys("prio_counts")).cast("int").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys("prio_counts")), ",").alias("keys_sorted"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# Decimal (money) arithmetic — exact fixed-point end to end
# ---------------------------------------------------------------------------

_Q76_SQL = """
SELECT l_returnflag,
  CAST(CAST(SUM(
    CAST(l_extendedprice AS DECIMAL(12,2))
    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))
  ) AS DECIMAL(38,4)) AS VARCHAR) AS gross_str,
  CAST(SUM(
    CAST(l_extendedprice AS DECIMAL(12,2))
    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))
  ) AS DOUBLE) AS gross_dbl
FROM lineitem
GROUP BY l_returnflag
"""


@query("q76_decimal_money", _Q76_SQL)
def q76_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math in DecimalType end to end (SURVEY §1.3's declared money
    type): price x (1 + tax) and the grouped sum stay exact fixed-point —
    no float representation error, order-independent summation, the type a
    warehouse uses for currency. Output as a full-scale decimal STRING
    (no rounding step, so no rounding-mode divergence between engines)
    plus a double cast."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(3,2)")
    tax = F.col("l_tax").cast("decimal(12,2)")
    gross = F.sum(price * (one + tax))
    return li.groupBy("l_returnflag").agg(
        gross.cast("decimal(38,4)").cast("string").alias("gross_str"),
        gross.cast("double").alias("gross_dbl"),
    )


# ---------------------------------------------------------------------------
# JSON construction (to_json) — the inverse of the extraction surface (q24)
# ---------------------------------------------------------------------------

_Q77_SQL = """
SELECT n_nationkey,
  to_json(struct_pack(n_name := n_name, n_regionkey := n_regionkey)) AS payload
FROM nation
"""


@query("q77_json_construction", _Q77_SQL)
def q77_json_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize rows back to JSON (to_json over a struct) — the write-side
    twin of the q24 extraction path and the shape used to produce Kafka
    message values (sources/kafka.py). Field order is the struct order in
    both engines; only non-null columns are used (Spark's to_json omits
    null fields, DuckDB emits them)."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.to_json(F.struct("n_name", "n_regionkey")).alias("payload"),
    )


# ---------------------------------------------------------------------------
# ANSI-safe try_* family: NULL-on-failure arithmetic/casts (q100)
# ---------------------------------------------------------------------------

_Q100_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice / NULLIF(l_discount, 0.0) AS price_per_discount,
  TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
  CAST(NULL AS TIMESTAMP) AS bad_ts,
  [l_quantity][8] AS qty_oob
FROM lineitem
WHERE l_orderkey % 100 = 0
"""


@query("q100_try_functions", _Q100_SQL)
def q100_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-safe scalar family: try_divide / try_cast / try_to_timestamp
    / try_element_at return NULL where strict ANSI evaluation would raise —
    the per-cell analogue of the pipeline's PERMISSIVE parse (corrupt input
    degrades to NULL and flows to the rejected branch instead of failing a
    100 TB job at row 10^12). Oracle encodes the same semantics with the
    portable forms (x / NULLIF(y,0), TRY_CAST, out-of-bounds list index)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", F.nullif("l_discount", F.lit(0.0))).alias(
            "price_per_discount"
        ),
        F.try_to_number("l_returnflag", F.lit("9")).cast("int").alias("flag_as_int"),
        F.try_to_timestamp(F.lit("not a timestamp")).alias("bad_ts"),
        F.try_element_at(F.array("l_quantity"), F.lit(8)).alias("qty_oob"),
    )


# ---------------------------------------------------------------------------
# Map higher-order transformations (q101) — the mutation surface over q26's
# construction/access surface
# ---------------------------------------------------------------------------

_Q101_SQL = """
WITH pc AS (
  SELECT o_orderstatus, o_orderpriority AS k, COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), tot AS (
  SELECT o_orderstatus, SUM(cnt) AS total FROM pc GROUP BY 1
)
SELECT
  pc.o_orderstatus,
  STRING_AGG(pc.k || '=' || (pc.cnt * 2), ',' ORDER BY pc.k) AS doubled,
  STRING_AGG(pc.k || '=' || pc.cnt, ',' ORDER BY pc.k)
    FILTER (WHERE pc.cnt > 100) AS big_only,
  STRING_AGG(pc.k || '=' || ROUND(pc.cnt::DOUBLE / tot.total, 4), ','
             ORDER BY pc.k) AS share
FROM pc JOIN tot USING (o_orderstatus)
GROUP BY pc.o_orderstatus
ORDER BY pc.o_orderstatus
"""


@query("q101_map_transformations", _Q101_SQL)
def q101_map_transformations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions — transform_values, map_filter, and
    map_zip_with (counts zipped with a same-keyed totals map into shares) —
    scalarized to sorted 'k=v' strings so the DuckDB oracle (which has no
    comparable MAP) can reproduce the values relationally. All lambdas
    execute JVM-side inside codegen."""
    o = table(spark, sf_dir, "orders")
    m = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .groupBy("o_orderstatus")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderpriority", "cnt")))
            ).alias("m"),
            F.sum("cnt").alias("total"),
        )
    )
    doubled = F.transform_values("m", lambda k, v: v * 2)
    big_only = F.map_filter("m", lambda k, v: v > 100)
    total_map = F.transform_values("m", lambda k, v: F.col("total"))
    share = F.map_zip_with(
        "m", total_map, lambda k, v1, v2: F.round(v1.cast("double") / v2, 4)
    )

    def render(mcol):
        return F.array_join(
            F.transform(
                F.sort_array(F.map_entries(mcol)),
                lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
            ),
            ",",
        )

    return m.select(
        "o_orderstatus",
        render(doubled).alias("doubled"),
        F.nullif(render(big_only), F.lit("")).alias("big_only"),
        render(share).alias("share"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# Parameterized SQL (named binds) — the injection-safe SQL entry point
# ---------------------------------------------------------------------------

_Q113_SQL = f"""
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  {dsum_sql("o_totalprice")} AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice > 150000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q113_parameterized_sql", _Q113_SQL)
def q113_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql with named parameter binding (Spark 3.4+/4.x): the
    injection-safe SQL entry point — parameters are bound as typed literals
    by the parser, never string-spliced, and Catalyst constant-folds them so
    pushdown/pruning work exactly as with inline literals. The oracle
    inlines the same values."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("q113_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          {dsum_sql("o_totalprice")} AS total
        FROM q113_orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"cutoff": "1997-01-01", "min_price": 150000.0},
    )


# ---------------------------------------------------------------------------
# Lateral column aliases + inline VALUES relation
# ---------------------------------------------------------------------------

_Q114_SQL = """
WITH rates(status, fee_rate) AS (
  VALUES ('O', 0.01), ('F', 0.02), ('P', 0.015)
)
SELECT o.o_orderkey,
  o.o_totalprice * r.fee_rate AS fee,
  (o.o_totalprice * r.fee_rate) * 2 AS fee_doubled,
  o.o_totalprice + (o.o_totalprice * r.fee_rate) AS total_with_fee
FROM orders o JOIN rates r ON o.o_orderstatus = r.status
WHERE o.o_orderkey % 500 = 0
"""


@query("q114_lateral_alias_values", _Q114_SQL)
def q114_lateral_alias_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT-list expression refers
    to a sibling alias (`fee`) instead of repeating the expression — the
    engine inlines it, so the plan is identical to the written-out form (the
    oracle's). Joined against an inline VALUES relation (broadcast, the
    tiny-dim literal table pattern)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("q114_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey,
          o.o_totalprice * r.fee_rate AS fee,
          fee * 2 AS fee_doubled,
          o.o_totalprice + fee AS total_with_fee
        FROM q114_orders o
        JOIN VALUES ('O', 0.01), ('F', 0.02), ('P', 0.015) AS r(status, fee_rate)
          ON o.o_orderstatus = r.status
        WHERE o.o_orderkey % 500 = 0
        """
    )


# ---------------------------------------------------------------------------
# q150: nested struct construction and surgical mutation.
# ---------------------------------------------------------------------------

_Q150_SQL = """
WITH built AS (
  SELECT o_orderkey,
         STRUCT_PACK(
           key := o_custkey,
           status := o_orderstatus,
           money := STRUCT_PACK(total := o_totalprice,
                                tax := ROUND(o_totalprice * 0.1, 2))
         ) AS info
  FROM orders WHERE o_totalprice > 400000
),
mutated AS (
  SELECT o_orderkey,
         STRUCT_INSERT(info, priority := 'audit') AS info2,
         info.money.total AS total,
         ROUND(info.money.tax, 2) AS tax
  FROM built
)
SELECT o_orderkey,
       info2.key AS cust_key,
       info2.status AS status,
       info2.priority AS priority,
       total, tax
FROM mutated
ORDER BY o_orderkey
"""


@query("q150_nested_struct_ops", _Q150_SQL)
def q150_nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct construction + surgical mutation: build a two-level
    struct, add a field with withField (no rebuild of the whole struct —
    the Catalyst optimization that matters when the struct has dozens of
    fields and you touch one), read through dotted paths. Output is
    scalarized (struct cells don't hash-compare across engines). All
    narrow ops in codegen; the filter pushes to the scan."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    built = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_totalprice").alias("total"),
                F.round(F.col("o_totalprice") * 0.1, 2).alias("tax"),
            ).alias("money"),
        ).alias("info"),
    )
    mutated = built.select(
        "o_orderkey",
        F.col("info").withField("priority", F.lit("audit")).alias("info2"),
        F.col("info.money.total").alias("total"),
        F.round(F.col("info.money.tax"), 2).alias("tax"),
    )
    return mutated.select(
        "o_orderkey",
        F.col("info2.key").alias("cust_key"),
        F.col("info2.status").alias("status"),
        F.col("info2.priority").alias("priority"),
        "total",
        "tax",
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# q151b: explode_outer — empty/NULL collections keep their row.
# ---------------------------------------------------------------------------

_Q151B_SQL = """
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O'
              THEN STRING_SPLIT(o_orderpriority, '-')
              ELSE [] END AS parts
  FROM orders WHERE o_orderkey <= 200
)
SELECT s.o_orderkey, u.part
FROM src s
LEFT JOIN LATERAL UNNEST(s.parts) AS u(part) ON TRUE
ORDER BY o_orderkey, part
"""


@query("q151b_explode_outer", _Q151B_SQL)
def q151b_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows whose collection is empty (or NULL) survive
    with a NULL element instead of vanishing — the LEFT-JOIN-LATERAL
    semantics plain explode silently breaks (inner-join behavior drops
    the row, the same class of silent loss as the reference's 3VL split
    bug). Narrow generator op, no shuffle."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    parts = F.when(
        F.col("o_orderstatus") == "O", F.split("o_orderpriority", "-")
    ).otherwise(F.array().cast("array<string>"))
    return (
        o.select("o_orderkey", F.explode_outer(parts).alias("part"))
        .orderBy("o_orderkey", "part")
    )
