"""Warehouse-analytics operators beyond the reference's ETL surface:
SCD Type-2 dimension builds, time-series gap-fill with interpolation,
histogramming, one-pass data profiling, one-pass correlation matrices,
and Markov transition analysis.

The reference pipeline only appends/overwrites fact rows
(Glue/Glue_job.py:125,128); a consumer of that data immediately needs the
shapes here — slowly-changing dimensions over the entity stream, dense
daily series from sparse facts, column profiles for data-quality triage.
All plans are single-scan / single-shuffle where the semantics allow, and
every float aggregate goes through the deterministic decimal path
(functions/deterministic.py) so results are order-independent and
exactly comparable to the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import (
    OLS_SLOPE_SQL,
    PEARSON_R_SQL,
    dec,
    dec_sql,
    dsum,
    dsum_sql,
    hilo_reconstruct,
    hilo_sum_exprs,
    moment_sums,
    moment_sums_sql,
    ols_slope,
    pearson_r,
    pos_zero,
)
from ..registry import query, table


# ---------------------------------------------------------------------------
# q117: SCD Type-2 dimension build from an event stream.
# ---------------------------------------------------------------------------

_Q117_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
ORDER BY user_id, valid_from
"""


@query("q117_scd2_dimension", _Q117_SQL)
def q117_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: collapse each user's event_type
    history to change points, then effective-date them (valid_from /
    valid_to, open-ended row = is_current). Two window passes over the
    same (user_id; ts, event_id) ordering — Spark plans ONE shuffle and
    sorts once; the change filter runs between them without re-shuffling.
    At 100 TB the partition key is the entity id, so state never
    concentrates; no driver involvement."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    valid_to = F.lead("ts").over(w)
    return (
        changes.select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            valid_to.alias("valid_to"),
            valid_to.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


# ---------------------------------------------------------------------------
# q118: calendar-spine gap fill + linear interpolation over sparse days.
# ---------------------------------------------------------------------------

_Q118_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         COUNT(*) AS n,
         {dsum_sql("value")} AS day_value
  FROM events WHERE value > 300 GROUP BY 1, 2
),
spine AS (
  SELECT event_type, CAST(UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1)
),
j AS (
  SELECT s.event_type, s.day, d.n, d.day_value
  FROM spine s LEFT JOIN daily d USING (event_type, day)
),
f AS (
  SELECT event_type, day, n, day_value,
    LAST_VALUE(day_value IGNORE NULLS) OVER w AS prev_v,
    LAST_VALUE(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
      OVER w AS prev_d,
    FIRST_VALUE(day_value IGNORE NULLS) OVER w2 AS next_v,
    FIRST_VALUE(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
      OVER w2 AS next_d
  FROM j
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day, COALESCE(n, 0) AS n_events,
  CASE WHEN day_value IS NOT NULL THEN day_value
       WHEN prev_v IS NULL OR next_v IS NULL THEN COALESCE(prev_v, next_v)
       ELSE prev_v + ((next_v - prev_v) * (CAST(day - prev_d AS DOUBLE)
                                           / CAST(next_d - prev_d AS DOUBLE)))
  END AS value_interp,
  day_value IS NULL AS is_filled
FROM f
ORDER BY event_type, day
"""


@query("q118_gapfill_interpolate", _Q118_SQL)
def q118_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify a sparse per-(type, day) series onto its min..max calendar
    spine, then linearly interpolate interior gaps (endpoints extend the
    nearest observation). The spine comes from sequence() per group — no
    driver-side date math and no cross join; forward/backward neighbor
    lookups are last/first IGNORE NULLS over one window ordering, so the
    whole fill is a single shuffle on event_type. Interpolation arithmetic
    is shaped identically to the oracle (exact decimal day-sums, one
    double multiply/divide) for bit-equality."""
    ev = table(spark, sf_dir, "events").filter(F.col("value") > 300)
    daily = (
        ev.groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("day_value"))
    )
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day"),
        )
    )
    j = spine.join(daily, on=["event_type", "day"], how="left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    present_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    f = j.select(
        "event_type",
        "day",
        "n",
        "day_value",
        F.last("day_value", ignorenulls=True).over(w).alias("prev_v"),
        F.last(present_day, ignorenulls=True).over(w).alias("prev_d"),
        F.first("day_value", ignorenulls=True).over(w2).alias("next_v"),
        F.first(present_day, ignorenulls=True).over(w2).alias("next_d"),
    )
    frac = F.datediff("day", "prev_d").cast("double") / F.datediff(
        "next_d", "prev_d"
    ).cast("double")
    interp = (
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .when(
            F.col("prev_v").isNull() | F.col("next_v").isNull(),
            F.coalesce("prev_v", "next_v"),
        )
        .otherwise(F.col("prev_v") + ((F.col("next_v") - F.col("prev_v")) * frac))
    )
    return f.select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        interp.alias("value_interp"),
        F.col("day_value").isNull().alias("is_filled"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# q120: fixed-width histogram (engine-agnostic width_bucket).
# ---------------------------------------------------------------------------

_Q120_SQL = f"""
SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
       CAST(CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) * 5000.0 AS DOUBLE)
         AS bucket_lo,
       CAST((CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) + 1) * 5000.0 AS DOUBLE)
         AS bucket_hi,
       COUNT(*) AS n,
       {dsum_sql("l_extendedprice")} AS total_price
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


@query("q120_histogram_fixed_bins", _Q120_SQL)
def q120_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram: bucket = floor(x / width), computed
    with the same IEEE double divide on both engines (width_bucket exists
    in Spark but not DuckDB; floor-div is the portable identical form).
    One map-side-combinable groupBy — the canonical distributed histogram;
    at 100 TB the bucket cardinality (~21) makes the shuffle negligible."""
    li = table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("total_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 5000.0).alias("bucket_lo"),
            ((F.col("bucket") + 1) * 5000.0).alias("bucket_hi"),
            "n",
            "total_price",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q121: one-pass data profile (per-column null/distinct/min/max).
# ---------------------------------------------------------------------------

_Q121_SQL = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_orderkey) AS n_null,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
       CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
       NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus), NULL, NULL,
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority), NULL, NULL,
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
ORDER BY col_name
"""


@query("q121_data_profile", _Q121_SQL)
def q121_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: null count, distinct count, min/max per column,
    emitted as one row per column. Numeric min/max surface as double,
    string min/max as varchar, so one schema fits every column type.

    Plan shape (r15 optimization pass, guide §2.3 "shuffle fewer
    bytes"): the count/min/max stats come from ONE aggregate pass, but
    each column's exact distinct count is its OWN single-distinct
    aggregate subtree, crossJoined back onto the 1-row stats (all 1-row
    relations — the joins are free). The previous single agg carrying
    FIVE countDistinct columns planned through Expand: every input row
    was replicated 6x into the distinct shuffle, and the whole pass left
    the partial-aggregation fast path — measured 3.67 s -> 1.04 s median
    (min 3.53 -> 0.62) at sf0.1 with identical values. At 100 TB the
    split is also the right shape: each distinct subtree prunes the scan
    to its one parquet column and map-side dedups BEFORE the exchange,
    so the shuffle carries each column's distinct values once instead of
    a 6x-expanded row stream. The oracle's UNION ALL restates the same
    stats as per-column scans."""
    o = table(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols:
        aggs += [
            F.count(c).alias(f"{c}__cnt"),
            F.min(c).alias(f"{c}__mn"),
            F.max(c).alias(f"{c}__mx"),
        ]
    wide = o.agg(*aggs)
    for c in num_cols + str_cols:
        wide = wide.crossJoin(o.agg(F.countDistinct(c).alias(f"{c}__nd")))
    parts = []
    for c in num_cols:
        parts.append(
            f"'{c}', n_rows, n_rows - {c}__cnt, {c}__nd, "
            f"CAST({c}__mn AS DOUBLE), CAST({c}__mx AS DOUBLE), "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in str_cols:
        parts.append(
            f"'{c}', n_rows, n_rows - {c}__cnt, {c}__nd, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"{c}__mn, {c}__mx"
        )
    stack = (
        f"stack({len(parts)}, " + ", ".join(parts) + ") AS "
        "(col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str)"
    )
    return wide.selectExpr(stack).orderBy("col_name")


# ---------------------------------------------------------------------------
# q122: one-pass pairwise correlation/covariance matrix.
# ---------------------------------------------------------------------------

_Q122_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]

_Q122_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

# Exact-moment aggregate expressions, shared verbatim by the Spark plan and
# the DuckDB oracle: split-integer (hi/lo) long sums are order-independent
# exact integer arithmetic, and — unlike DECIMAL(38,*) sums — stay on the
# codegen fast path (see functions/deterministic.py for the scheme and its
# ~8e8-row overflow bound). The per-row double products x*y are
# IEEE-identical on both engines before the split.
_Q122_TERMS = (
    [(c, f"s_{c}") for c in _Q122_COLS]
    + [(f"{c} * {c}", f"ss_{c}") for c in _Q122_COLS]
    + [(f"{x} * {y}", f"sp_{i}") for i, (x, y) in enumerate(_Q122_PAIRS)]
)
_Q122_MOMENTS = ["CAST(COUNT(*) AS DOUBLE) AS n"] + [
    e for expr_sql, alias in _Q122_TERMS for e in hilo_sum_exprs(expr_sql, alias)
]
_Q122_RECON = ["n"] + [
    f"{hilo_reconstruct(alias)} AS {alias}" for _, alias in _Q122_TERMS
]


def _q122_corr(i: int, x: str, y: str) -> str:
    """corr derived from the exact moments in one double expression —
    written once so Spark and DuckDB evaluate the identical IEEE tree."""
    num = f"(sp_{i} - s_{x} * s_{y} / n)"
    den = f"SQRT((ss_{x} - s_{x} * s_{x} / n) * (ss_{y} - s_{y} * s_{y} / n))"
    return f"CAST({pos_zero(f'ROUND({num} / {den}, 6)')} AS DOUBLE)"


def _q122_covar(i: int, x: str, y: str) -> str:
    # pos_zero: a tiny negative covariance ROUNDs to zero with opposite
    # signs on the two engines (Spark BigDecimal +0.0 vs DuckDB float
    # -0.0) — ==-equal but hash-different; +0.0 normalizes both.
    num = f"(sp_{i} - s_{x} * s_{y} / n)"
    return f"CAST({pos_zero(f'ROUND({num} / (n - 1), 4)')} AS DOUBLE)"


_Q122_SQL = (
    f"WITH m0 AS (SELECT {', '.join(_Q122_MOMENTS)} FROM lineitem),\n"
    f"m AS (SELECT {', '.join(_Q122_RECON)} FROM m0)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
        f"{_q122_corr(i, x, y)} AS corr6, {_q122_covar(i, x, y)} AS covar4 FROM m"
        for i, (x, y) in enumerate(_Q122_PAIRS)
    )
    + "\nORDER BY col_x, col_y"
)


@query("q122_corr_matrix", _Q122_SQL)
def q122_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle correlation + sample-covariance matrix over the four
    numeric lineitem measures, all statistics in ONE aggregation pass
    (one scan, 1-row shuffle), then stacked tall. Moments are accumulated
    as exact split-integer (hi/lo) long sums — order-independent across
    partition/merge schedules, codegen-fast (functions/deterministic.py) —
    and corr/covar are derived from them in a single double expression
    shared verbatim with the oracle, so results are bit-identical
    run-to-run and engine-to-engine (the r3 hash drift was covar_samp's
    double accumulation flipping an absolute 4th decimal on
    ~1e3-magnitude covariances). At 100 TB this is the only sane shape:
    one scan, never one per pair; integer partial-sums map-side combine
    like any other SUM (decimal fallback documented for >8e8-row sf)."""
    li = table(spark, sf_dir, "lineitem")
    moments = (
        li.select(*_Q122_COLS)
        .agg(*(F.expr(m) for m in _Q122_MOMENTS))
        .selectExpr(*_Q122_RECON)
    )
    stats = moments.selectExpr(
        *(
            e
            for i, (x, y) in enumerate(_Q122_PAIRS)
            for e in (
                f"{_q122_corr(i, x, y)} AS c{i}",
                f"{_q122_covar(i, x, y)} AS v{i}",
            )
        )
    )
    rows = ", ".join(
        f"'{x}', '{y}', c{i}, v{i}" for i, (x, y) in enumerate(_Q122_PAIRS)
    )
    return stats.selectExpr(
        f"stack({len(_Q122_PAIRS)}, {rows}) AS (col_x, col_y, corr6, covar4)"
    ).orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# q123: Markov transition matrix over per-user event sequences.
# ---------------------------------------------------------------------------

_Q123_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       COUNT(*) AS n_trans,
       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY event_type)
         AS p_trans
FROM seq
WHERE next_type IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q123_markov_transitions", _Q123_SQL)
def q123_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    LEAD per user (one shuffle on user_id), count per (from, to) pair
    (map-side combinable), row-normalize with a window over the tiny
    (5×5) result. Probabilities are exact-int / exact-int in one double
    divide — deterministic. The classic session-behavior model at any
    scale: state size is |event_type|², independent of row count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans").cast("double") / F.sum("n_trans").over(norm)).alias(
            "p_trans"
        ),
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# q135: per-group exact median over a window, with per-row deviation.
# ---------------------------------------------------------------------------

_Q135_SQL = """
SELECT event_id, event_type, value,
       MEDIAN(value) OVER (PARTITION BY event_type) AS med_value,
       value - MEDIAN(value) OVER (PARTITION BY event_type) AS deviation
FROM events
ORDER BY event_id
"""


@query("q135_window_median_deviation", _Q135_SQL)
def q135_window_median_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median as a window aggregate: each event scored against its
    type's median without collapsing the rows (outlier triage keeps full
    detail). One shuffle on event_type; within a partition the median
    sorts once and fans out to every row. Both engines interpolate even
    counts as the midpoint of the same two sorted doubles, so the result
    is bit-identical. At 100 TB the window key must be the partition
    key anyway, and a skewed event_type is exactly what AQE skew-split
    handles — no driver-side percentile collection."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    med = F.median("value").over(w)
    return (
        e.select(
            "event_id",
            "event_type",
            "value",
            med.alias("med_value"),
            (F.col("value") - med).alias("deviation"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q136: gaps-and-islands — consecutive-day activity streaks per user.
# ---------------------------------------------------------------------------

_Q136_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
numbered AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
),
islands AS (
  SELECT user_id, d, d - CAST(rn AS INT) AS grp FROM numbered
)
SELECT user_id,
       MIN(d) AS streak_start,
       MAX(d) AS streak_end,
       CAST(COUNT(*) AS BIGINT) AS streak_days
FROM islands
GROUP BY user_id, grp
ORDER BY user_id, streak_start
"""


@query("q136_activity_streaks", _Q136_SQL)
def q136_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day streaks via the date-minus-
    row_number constant-group trick — the set-based form that needs no
    self-join and no iteration. Everything shuffles once on user_id
    (distinct, window, and group-by all share the key, so Catalyst reuses
    the partitioning); at 100 TB this is a single exchange over the
    distinct (user, day) pairs, which are orders of magnitude smaller
    than the raw events."""
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn("rn", F.row_number().over(w)).withColumn(
        "grp", F.date_sub(F.col("d"), F.col("rn").cast("int"))
    )
    return (
        islands.groupBy("user_id", "grp")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .drop("grp")
        .orderBy("user_id", "streak_start")
    )


# ---------------------------------------------------------------------------
# q138: time-weighted average value per event_type (TWAP).
# ---------------------------------------------------------------------------

_Q138_SQL = f"""
WITH seg AS (
  SELECT event_type, value, ts,
         LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_ts
  FROM events
),
w AS (
  SELECT event_type, value,
         EPOCH_US(next_ts) - EPOCH_US(ts) AS dur_us
  FROM seg WHERE next_ts IS NOT NULL
)
SELECT event_type,
       {dsum_sql("value * dur_us")}
         / CAST(SUM(dur_us) AS DOUBLE) AS twap,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       CAST(COUNT(*) AS BIGINT) AS n_segments
FROM w
GROUP BY event_type
ORDER BY event_type
"""


@query("q138_time_weighted_average", _Q138_SQL)
def q138_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each reading holds until the next one
    of its type, so its weight is the segment duration — the correct mean
    for irregularly sampled series (the plain AVG over-weights bursts).
    One shuffle on event_type shared by the lead() window and the final
    aggregate (Catalyst reuses the partitioning); weights are exact integer
    epoch-microsecond durations, value*dur sums in decimal — order-independent
    and oracle-exact. The final division is one double op per group."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = (
        e.select("event_type", "value", "ts", F.col("event_id"))
        .withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "event_type",
            "value",
            (
                F.unix_micros(F.col("next_ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).alias("dur_us")  # ntz->timestamp is identity under the UTC session,
        )
    )
    return (
        seg.groupBy("event_type")
        .agg(
            (
                dsum(F.col("value") * F.col("dur_us"))
                / F.sum("dur_us").cast("double")
            ).alias("twap"),
            F.sum("dur_us").alias("total_dur_us"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q141: conversion attribution (first-touch / last-touch per purchase).
# ---------------------------------------------------------------------------

_Q141_SQL = """
WITH h AS (
  SELECT user_id, event_id, ts, event_type,
         FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_touch,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch,
         COUNT(CASE WHEN event_type <> 'purchase' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS n_prior_touches
  FROM events
)
SELECT event_id, user_id, first_touch, last_touch,
       CAST(n_prior_touches AS BIGINT) AS n_prior_touches
FROM h
WHERE event_type = 'purchase'
ORDER BY event_id
"""


@query("q141_conversion_attribution", _Q141_SQL)
def q141_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the user's first and
    most recent non-purchase touch before it, plus the touch count. All
    three signals ride ONE window (partition user_id, order ts) with an
    UNBOUNDED-to-1-PRECEDING frame and conditional ignore-null
    first/last — no self-join against the history, which is the naive
    O(n^2) formulation. One shuffle on user_id; the purchase filter
    happens after the window (it must see the full history) but prunes
    before any further stage."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
            F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
            F.count(touch).over(w).alias("n_prior_touches"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q142: rolling 7-day distinct users per event_type.
# ---------------------------------------------------------------------------

_Q142_SQL = """
WITH d AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT DISTINCT event_type, day,
       CAST(COUNT(DISTINCT user_id) OVER (
         PARTITION BY event_type ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS users_7d
FROM d
ORDER BY event_type, day
"""


@query("q142_rolling_distinct_users", _Q142_SQL)
def q142_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users — the metric windowed COUNT(DISTINCT)
    computes, which Spark windows don't support directly. Spark-first
    rewrite: collapse to per-(type, day) user SETS first (the only
    corpus-sized shuffle, map-side combinable), then a 7-row RANGE frame
    over DAYS merges at most 7 small arrays per output row
    (distinct-of-flatten). State per frame is |7-day users|, not 7 days
    of raw events — the same collapse a 100 TB rollup needs. Exact, not
    a sketch; the HLL variant for wider frames is q133."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("event_type", "day")
        .agg(F.collect_set("user_id").alias("users"))
        .withColumn("day_num", F.datediff("day", F.lit("2024-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            "day",
            F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
            .cast("bigint")
            .alias("users_7d"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q151: equi-depth (decile) histogram per event_type.
# ---------------------------------------------------------------------------

_Q151_SQL = """
WITH t AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS decile
  FROM events
)
SELECT event_type, decile,
       MIN(value) AS lo,
       MAX(value) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t
GROUP BY event_type, decile
ORDER BY event_type, decile
"""


@query("q151_equidepth_histogram", _Q151_SQL)
def q151_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (the CBO/monitoring complement of q120's
    fixed-width bins): NTILE deciles per event_type, then per-bucket
    bounds and counts. The window and the aggregate share the
    event_type shuffle; ties are made deterministic by the event_id
    tiebreak, which is what makes NTILE comparable across engines at
    all. Equi-depth bounds are what a query optimizer stores — skew
    shows up as wide buckets, not empty ones."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "decile")
    )


# ---------------------------------------------------------------------------
# q152: robust outlier detection via median absolute deviation (MAD).
# ---------------------------------------------------------------------------

_Q152_SQL = """
WITH med AS (
  SELECT event_id, event_type, value,
         MEDIAN(value) OVER (PARTITION BY event_type) AS med
  FROM events
),
mad AS (
  SELECT *, MEDIAN(ABS(value - med)) OVER (PARTITION BY event_type) AS mad
  FROM med
)
SELECT event_id, event_type, value, med, mad,
       ABS(value - med) / (1.4826 * mad) AS robust_z
FROM mad
WHERE ABS(value - med) / (1.4826 * mad) > 3.0
ORDER BY event_id
"""


@query("q152_mad_outliers", _Q152_SQL)
def q152_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag events whose |value - median| exceeds
    3 scaled MADs — mean/stddev z-scores (q75) move with the outliers
    they hunt; median/MAD do not break down until half the data is bad.
    Two stacked windows on the SAME partition key (median, then median of
    absolute deviations) — one event_type shuffle total, no driver-side
    percentile collection. The 1.4826 constant rescales MAD to sigma
    under normality; every arithmetic step is the same double op on both
    engines."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    med = F.median("value").over(w)
    step1 = e.select("event_id", "event_type", "value", med.alias("med"))
    mad = F.median(F.abs(F.col("value") - F.col("med"))).over(w)
    step2 = step1.withColumn("mad", mad)
    robust_z = F.abs(F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        step2.withColumn("robust_z", robust_z)
        .filter(F.col("robust_z") > 3.0)
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q154: grouping_id over grouping sets (which-level markers).
# ---------------------------------------------------------------------------

_Q154_SQL = """
SELECT event_type,
       STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       GROUPING(event_type) AS g_type,
       GROUPING(STRFTIME(CAST(ts AS DATE), '%Y-%m-%d')) AS g_day,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (STRFTIME(CAST(ts AS DATE), '%Y-%m-%d')), ())
ORDER BY g_type, g_day, event_type NULLS FIRST, day NULLS FIRST
"""


@query("q154_grouping_id_markers", _Q154_SQL)
def q154_grouping_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers distinguish 'aggregated-away' NULLs from data
    NULLs in grouping-sets output — without them a rollup consumer cannot
    tell the all-types total from a NULL event_type group. Single Expand
    + one aggregate (same single-scan plan as q11/q12/q18, which cover
    the set shapes; this covers the marker functions)."""
    e = table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    grouped = (
        e.select("event_type", day.alias("day"))
        .groupingSets([["event_type"], ["day"], []], "event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return grouped.select("event_type", "day", "g_type", "g_day", "n").orderBy(
        "g_type", "g_day",
        F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first(),
    )


# ---------------------------------------------------------------------------
# q160: Z-order (Morton) clustering key for multi-dimensional data skipping.
# ---------------------------------------------------------------------------

_Z_BITS = 8


def _morton_sql(a: str, b: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_Q160_SQL = f"""
WITH dims AS (
  SELECT event_id,
         CAST(user_id % 256 AS BIGINT) AS da,
         CAST(LEAST(FLOOR(value * 2.55), 255) AS BIGINT) AS db
  FROM events
)
SELECT event_id, da, db,
       {_morton_sql('da', 'db')} AS zkey
FROM dims
ORDER BY zkey, event_id
"""


@query("q160_zorder_key", _Q160_SQL)
def q160_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order/Morton clustering key: interleave the bits of two dims so
    rows close in BOTH dimensions land close in the sort order — written
    with repartitionByRange(zkey), every parquet row group gets tight
    min/max ranges on BOTH user_id and value, and scans filtered on
    EITHER dimension skip row groups (1-D sorting only ever helps one
    column). The interleave is pure integer shift/mask arithmetic in
    whole-stage codegen, bit-identical on both engines; the ORDER BY here
    stands in for the range-partitioned write of the real layout job."""
    e = table(spark, sf_dir, "events")
    da = (F.col("user_id") % 256).cast("bigint")
    db = F.least(F.floor(F.col("value") * 2.55), F.lit(255)).cast("bigint")
    dims = e.select("event_id", da.alias("da"), db.alias("db"))
    zkey = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        zkey = zkey.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("da"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("db"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return dims.withColumn("zkey", zkey).orderBy("zkey", "event_id")


# ---------------------------------------------------------------------------
# q163: OHLC resampling bars (time-series downsample).
# ---------------------------------------------------------------------------

_Q163_SQL = """
SELECT event_type,
       TIME_BUCKET(INTERVAL 15 MINUTE, ts) AS bar_start,
       ARG_MIN(value, ts) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       ARG_MAX(value, ts) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM events
GROUP BY event_type, bar_start
ORDER BY event_type, bar_start
"""


@query("q163_ohlc_bars", _Q163_SQL)
def q163_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: collapse each (type, 15-min) bucket to
    open/high/low/close — the lossy-but-shaped resample every
    time-series store performs before charting or modeling. min_by/
    max_by pick open/close by timestamp INSIDE the aggregate (no window,
    no self-join back to the row), so the whole query is one map-side-
    combinable aggregation over the bucketed key. Tie-safety: ts values
    are unique per type in this data; at 100 TB you'd tiebreak on
    (ts, event_id) via a packed struct."""
    e = table(spark, sf_dir, "events")
    bar = F.window("ts", "15 minutes")["start"].alias("bar_start")
    return (
        e.groupBy("event_type", bar)
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "bar_start")
    )


# ---------------------------------------------------------------------------
# q164: Pareto frontier (skyline) of one day's events.
# ---------------------------------------------------------------------------

_Q164_SQL = """
WITH day1 AS (
  SELECT event_id, ts, value FROM events
  WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04'
)
SELECT a.event_id, a.ts, a.value
FROM day1 a
WHERE NOT EXISTS (
  SELECT 1 FROM day1 b
  WHERE b.ts >= a.ts AND b.value >= a.value
    AND (b.ts > a.ts OR b.value > a.value)
)
ORDER BY a.event_id
"""


@query("q164_pareto_frontier", _Q164_SQL)
def q164_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline: the day's events not dominated on (recency, value). The
    oracle is the textbook quadratic NOT-EXISTS; the Spark plan is the
    O(n log n) sweep — sort by ts DESC and keep rows strictly above the
    RUNNING MAX of value among later points (a point is dominated iff a
    later-or-equal point has >= value, handled exactly incl. ties by
    comparing against the later-points max and tie-checking equals).
    One range-partitioned sort; no self-join. The same rewrite carries
    any 2-D skyline at 100 TB; higher dimensions fall back to
    block-nested partitioning."""
    e = table(spark, sf_dir, "events").filter(
        (F.col("ts") >= "2024-01-03") & (F.col("ts") < "2024-01-04")
    ).select("event_id", "ts", "value")
    w_later = (
        Window.orderBy(F.col("ts").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # max value among STRICTLY LATER points (ts ties handled separately:
    # an equal-ts point dominates iff its value is strictly greater, and
    # equal-ts equal-value pairs dominate each other -> both dominated
    # unless unique; ts is unique in this data, so the running max over
    # the ts-desc order is exactly 'later points')
    later_max = F.max("value").over(w_later)
    return (
        e.withColumn("later_max", later_max)
        .filter(F.col("later_max").isNull() | (F.col("value") > F.col("later_max")))
        .select("event_id", "ts", "value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q167: Benford first-digit distribution audit.
# ---------------------------------------------------------------------------

_Q167_SQL = """
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS d
  FROM orders WHERE o_totalprice >= 1
),
counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
total AS (SELECT SUM(n) AS t FROM counts)
SELECT c.d,
       CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / t.t AS observed_p,
       LOG10(1.0 + 1.0 / c.d) AS benford_p,
       CAST(c.n AS DOUBLE) / t.t - LOG10(1.0 + 1.0 / c.d) AS deviation
FROM counts c CROSS JOIN total t
ORDER BY c.d
"""


@query("q167_benford_digit_audit", _Q167_SQL)
def q167_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensics: the first-digit distribution of a
    naturally-occurring money column against log10(1+1/d) — the
    data-quality test that flags fabricated or truncated feeds (uniform
    or spiky digits). One scan to a 9-row aggregate; the total is a
    1-row broadcast. FLOOR before the integer cast (DuckDB's double->bigint cast ROUNDS,
    Spark's truncates) makes both engines' string paths identical; log10 of identical doubles is bit-equal."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    benford_p = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "d",
            "n",
            (F.col("n").cast("double") / F.col("t")).alias("observed_p"),
            benford_p.alias("benford_p"),
            (F.col("n").cast("double") / F.col("t") - benford_p).alias("deviation"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# q168: within-group quantile normalization (percent-rank features).
# ---------------------------------------------------------------------------

_Q168_SQL = """
SELECT event_id, event_type, value,
       PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id)
         AS value_pctl
FROM events
ORDER BY event_id
"""


@query("q168_quantile_normalize", _Q168_SQL)
def q168_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: replace each reading with its within-type
    percent rank — the scale-free feature encoding that makes values
    comparable across heterogeneous sensors/types (raw magnitudes are
    not). One window shuffle on event_type; the event_id tiebreak makes
    ranks deterministic so the [0,1] feature is reproducible."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select(
            "event_id",
            "event_type",
            "value",
            F.percent_rank().over(w).alias("value_pctl"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q169: inter-arrival (think-time) statistics per user.
# ---------------------------------------------------------------------------

_Q169_SQL = """
WITH gaps AS (
  SELECT user_id,
         EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       MEDIAN(gap_us) AS median_gap_us,
       QUANTILE_CONT(gap_us, 0.9) AS p90_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


@query("q169_interarrival_stats", _Q169_SQL)
def q169_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Think-time profiling: per-user inter-event gap distribution
    (median/p90/max) — the signal behind bot detection (impossibly
    uniform gaps) and engagement scoring. The lag() window and the
    percentile aggregate share the user_id shuffle; gaps are exact
    integer microseconds so the only floats are the interpolated
    percentiles, computed from identical sorted integers on both
    engines."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    )
    return (
        e.select("user_id", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.median("gap_us").alias("median_gap_us"),
            F.percentile("gap_us", F.lit(0.9)).alias("p90_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q170: cumulative distinct users by day per event type.
# ---------------------------------------------------------------------------

_Q170_SQL = """
WITH d AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT DISTINCT event_type, day,
       CAST(COUNT(DISTINCT user_id) OVER (
         PARTITION BY event_type ORDER BY day
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM d
ORDER BY event_type, day
"""


@query("q170_cumulative_distinct_users", _Q170_SQL)
def q170_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience growth curve: cumulative distinct users per type by day —
    the unbounded sibling of q142's trailing window, same Spark-first
    rewrite (collapse to per-day user sets FIRST, then merge sets over
    the unbounded frame). The merged-set state grows with total audience,
    which is exactly what the q133 sketch variant trades accuracy
    against; both are declared so the trade is explicit."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("event_type", "day")
        .agg(F.collect_set("user_id").alias("users"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        daily.select(
            "event_type",
            "day",
            F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
            .cast("bigint")
            .alias("cum_users"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q171: events since last purchase (reset-on-marker running count).
# ---------------------------------------------------------------------------

_Q171_SQL = """
WITH seg AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seg_id
  FROM events
)
SELECT user_id, event_id, event_type, seg_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, seg_id
                               ORDER BY ts, event_id) AS BIGINT)
         - CASE WHEN seg_id > 0 THEN 1 ELSE 0 END AS events_since_purchase
FROM seg
ORDER BY user_id, event_id
"""


@query("q171_events_since_marker", _Q171_SQL)
def q171_events_since_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-on-marker running count ('events since last purchase'): a
    conditional cumulative sum of marker flags carves each user's
    timeline into segments, and a row_number within (user, segment)
    counts from the marker — no self-join to the last marker, no
    iteration. Both windows share the user_id shuffle. Segments opened
    BY a purchase start counting after it (the -1 correction), the
    pre-first-purchase segment counts from the user's first event."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .alias("seg_id"),
    )
    w2 = Window.partitionBy("user_id", "seg_id").orderBy("ts", "event_id")
    return (
        seg.select(
            "user_id",
            "event_id",
            "event_type",
            "seg_id",
            (
                F.row_number().over(w2).cast("bigint")
                - F.when(F.col("seg_id") > 0, 1).otherwise(0)
            ).alias("events_since_purchase"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# q172: SCD2 point-in-time enrichment (event -> dimension version).
# ---------------------------------------------------------------------------

_Q172_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
scd2 AS (
  SELECT user_id, event_type AS dim_state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM changes
),
probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0
)
SELECT p.event_id, p.user_id, s.dim_state,
       s.valid_from
FROM probes p
JOIN scd2 s
  ON s.user_id = p.user_id
 AND p.ts >= s.valid_from
 AND (s.valid_to IS NULL OR p.ts < s.valid_to)
ORDER BY p.event_id
"""


@query("q172_scd2_point_in_time", _Q172_SQL)
def q172_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against the SCD2 dimension q117 builds:
    each probe event joins the dimension VERSION valid at its event time
    — the join that makes slowly-changing attributes historically
    accurate (joining current state silently rewrites history). The join
    carries the user_id EQUI key, so Spark plans a hash join with the
    validity range as a post-join filter — never a BNLJ — and each probe
    matches exactly one version (intervals partition the timeline by
    construction)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    scd2 = changes.select(
        F.col("user_id").alias("s_user"),
        F.col("event_type").alias("dim_state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("valid_to"),
    )
    probes = e.filter(F.col("event_id") % 20 == 0).select("event_id", "user_id", "ts")
    return (
        probes.join(
            scd2,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select("event_id", "user_id", "dim_state", "valid_from")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q173: CDC snapshot diff (insert / delete / update classification).
# ---------------------------------------------------------------------------

_Q173_SQL = """
WITH old AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events
  WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1, 2
),
new AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       COALESCE(o.event_type, n.event_type) AS event_type,
       CASE WHEN o.user_id IS NULL THEN 'insert'
            WHEN n.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       CAST(o.n AS BIGINT) AS old_n,
       CAST(n.n AS BIGINT) AS new_n
FROM old o
FULL JOIN new n ON o.user_id = n.user_id AND o.event_type = n.event_type
WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.n <> n.n
ORDER BY user_id, event_type
"""


@query("q173_cdc_snapshot_diff", _Q173_SQL)
def q173_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diffing — the CDC you compute when the source system has
    no change log: full-outer join two snapshot aggregates by key and
    classify each key as insert/delete/update, emitting only changed
    keys. The mid-month cut plays the 'old' snapshot. Both snapshots
    aggregate before the join (diff |keys| rows, not |rows|), the join
    keys carry the shuffle, and unchanged keys drop before any
    downstream work — the shape MERGE INTO (q115) consumes."""
    e = table(spark, sf_dir, "events")
    old = (
        e.filter(F.col("ts") < "2024-01-16")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("user_id").alias("o_user"),
            F.col("event_type").alias("o_type"),
            F.col("n").alias("old_n"),
        )
    )
    new = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("user_id").alias("n_user"),
            F.col("event_type").alias("n_type"),
            F.col("n").alias("new_n"),
        )
    )
    change = (
        F.when(F.col("o_user").isNull(), "insert")
        .when(F.col("n_user").isNull(), "delete")
        .otherwise("update")
    )
    return (
        old.join(
            new,
            (F.col("o_user") == F.col("n_user")) & (F.col("o_type") == F.col("n_type")),
            "full",
        )
        .filter(
            F.col("o_user").isNull()
            | F.col("n_user").isNull()
            | (F.col("old_n") != F.col("new_n"))
        )
        .select(
            F.coalesce("o_user", "n_user").alias("user_id"),
            F.coalesce("o_type", "n_type").alias("event_type"),
            change.alias("change_type"),
            "old_n",
            "new_n",
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# q174: Kolmogorov-Smirnov drift statistic between two segments.
# ---------------------------------------------------------------------------

_Q174_SQL = """
WITH a AS (SELECT value FROM events WHERE event_type = 'click'),
b AS (SELECT value FROM events WHERE event_type = 'view'),
na AS (SELECT COUNT(*) AS n FROM a),
nb AS (SELECT COUNT(*) AS n FROM b),
support AS (
  SELECT value, COUNT(*) AS ca, 0 AS cb FROM a GROUP BY value
  UNION ALL
  SELECT value, 0, COUNT(*) FROM b GROUP BY value
),
merged AS (
  SELECT value, SUM(ca) AS ca, SUM(cb) AS cb FROM support GROUP BY value
),
ecdf AS (
  SELECT value,
         CAST(SUM(ca) OVER (ORDER BY value) AS DOUBLE) / (SELECT n FROM na)
           AS fa,
         CAST(SUM(cb) OVER (ORDER BY value) AS DOUBLE) / (SELECT n FROM nb)
           AS fb
  FROM merged
)
SELECT MAX(ABS(fa - fb)) AS ks_stat,
       CAST((SELECT n FROM na) AS BIGINT) AS n_a,
       CAST((SELECT n FROM nb) AS BIGINT) AS n_b
FROM ecdf
"""


@query("q174_ks_drift_statistic", _Q174_SQL)
def q174_ks_drift_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — THE distribution-drift
    alarm for feature/data monitoring: max gap between the two segments'
    ECDFs, computed exactly. Shape: collapse both segments to per-value
    counts FIRST (|support| rows, not |rows|), merge the supports, then
    one ordered window builds both ECDFs simultaneously — a single sort
    of the merged support instead of sorting either raw segment. ECDF
    divisions are int/int -> double, identical on both engines."""
    e = table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("value")
    b = e.filter(F.col("event_type") == "view").select("value")
    na = a.count()  # two scalar actions on pruned scans — cheap and exact
    nb = b.count()
    merged = (
        a.groupBy("value").agg(F.count(F.lit(1)).alias("ca")).withColumn("cb", F.lit(0))
        .unionByName(
            b.groupBy("value").agg(F.count(F.lit(1)).alias("cb")).withColumn("ca", F.lit(0))
        )
        .groupBy("value")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = merged.select(
        (F.sum("ca").over(w).cast("double") / na).alias("fa"),
        (F.sum("cb").over(w).cast("double") / nb).alias("fb"),
    )
    return ecdf.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks_stat"),
        F.lit(na).alias("n_a"),
        F.lit(nb).alias("n_b"),
    )


# ---------------------------------------------------------------------------
# q177b: revenue concentration — Gini coefficient over customers.
# ---------------------------------------------------------------------------

_Q177B_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         {dsum_sql("o_totalprice")} AS revenue
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT revenue,
         ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM cust
)
SELECT CAST((2.0 * {dsum_sql("i * revenue")})
         / (MAX(n) * {dsum_sql("revenue")})
       - (MAX(n) + 1.0) / MAX(n) AS DOUBLE) AS gini,
       CAST(MAX(n) AS BIGINT) AS n_customers
FROM ranked
"""


@query("q177b_gini_concentration", _Q177B_SQL)
def q177b_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Gini coefficient over per-customer
    revenue via the sorted-rank identity G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n — one customer aggregate, one global sort for ranks, one
    final reduction; both weighted sums go through decimal so the
    statistic is order-independent and oracle-exact. The skew alarm for
    'one whale customer dominates the book' — and the same shape scores
    source concentration in a training corpus."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("revenue", "o_custkey")
    ranked = cust.select(
        "revenue",
        F.row_number().over(w).alias("i"),
    )
    n = cust.count()
    return ranked.agg(
        (
            (2.0 * dsum(F.col("i") * F.col("revenue")))
            / (n * dsum("revenue"))
            - (n + 1.0) / n
        ).alias("gini"),
        F.lit(n).cast("bigint").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# q178: per-group linear trend (closed-form least squares).
# ---------------------------------------------------------------------------

_Q178_SQL = f"""
WITH pts AS (
  SELECT event_type,
         CAST(EPOCH_US(ts) - EPOCH_US(TIMESTAMP '2024-01-01') AS DOUBLE)
           / 86400000000.0 AS x,
         value AS y
  FROM events
),
sums AS (
  SELECT event_type,
         {moment_sums_sql("x", "y")}
  FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(k AS BIGINT) AS n_points,
       {OLS_SLOPE_SQL} AS slope_per_day,
       (sy - {OLS_SLOPE_SQL} * sx) / k AS intercept
FROM sums
ORDER BY event_type
"""


@query("q178_groupwise_trend", _Q178_SQL)
def q178_groupwise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment trend: closed-form least-squares slope/intercept of
    value over time from ONE aggregate of component sums (k, Σx, Σy,
    Σxy, Σx²) — no iteration, no ML library, map-side combinable. The
    component sums are exact decimal sums (moment_sums), so the slope
    arithmetic starts from order-independent inputs (builtin regr_slope
    accumulates in float and is NOT cross-engine reproducible — why it's
    not used).
    x is exact integer microseconds scaled to days in one double op."""
    e = table(spark, sf_dir, "events")
    x = (
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
        ).cast("double")
        / 86400000000.0
    )
    pts = e.select("event_type", x.alias("x"), F.col("value").alias("y"))
    sums = pts.groupBy("event_type").agg(*moment_sums("x", "y"))
    slope = ols_slope()
    return (
        sums.select(
            "event_type",
            F.col("k").cast("bigint").alias("n_points"),
            slope.alias("slope_per_day"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("k")).alias("intercept"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q179: chi-square independence test (event_type x day-of-week).
# ---------------------------------------------------------------------------

# per-cell (o - e)^2 / e, laid out as it sits in the oracle text
_Q179_TERM = (
    "POW(obs.o - (m.row_total * c.col_total / t.t), 2)\n"
    "                     / (m.row_total * c.col_total / t.t)\n"
    "               "
)
_Q179_SQL = f"""
WITH obs AS (
  SELECT event_type, DAYOFWEEK(ts) AS dow, CAST(COUNT(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2
),
margins AS (
  SELECT event_type, SUM(o) AS row_total FROM obs GROUP BY event_type
),
cols AS (SELECT dow, SUM(o) AS col_total FROM obs GROUP BY dow),
total AS (SELECT SUM(o) AS t FROM obs)
SELECT {dsum_sql(_Q179_TERM, 12)} AS chi2,
       CAST((COUNT(DISTINCT obs.event_type) - 1)
            * (COUNT(DISTINCT obs.dow) - 1) AS BIGINT) AS dof
FROM obs
JOIN margins m USING (event_type)
JOIN cols c USING (dow)
CROSS JOIN total t
"""


@query("q179_chi_square_independence", _Q179_SQL)
def q179_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event type vs day-of-week — 'does
    traffic mix shift by weekday', the categorical drift test pairing
    q174's continuous KS. One contingency aggregate (|types| x 7 rows),
    margins re-aggregated from it, expected counts and the statistic in
    plain arithmetic with the per-cell terms decimal-rounded before the
    final sum (order-independent, oracle-exact)."""
    e = table(spark, sf_dir, "events")
    obs = (
        e.groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    margins = obs.groupBy("event_type").agg(F.sum("o").alias("row_total"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("col_total"))
    total = obs.agg(F.sum("o").alias("t"))
    expected = F.col("row_total") * F.col("col_total") / F.col("t")
    term = F.pow(F.col("o") - expected, 2) / expected
    return (
        obs.join(F.broadcast(margins), on="event_type")
        .join(F.broadcast(cols), on="dow")
        .crossJoin(F.broadcast(total))
        .agg(
            dsum(term, 12).alias("chi2"),
            # set sizes, not two countDistincts: those plan an Expand whose
            # group order follows expression-id hashes, so it flips between
            # runs and each order compiles its own classes
            (
                (F.size(F.collect_set("event_type")) - 1)
                * (F.size(F.collect_set("dow")) - 1)
            ).cast("bigint").alias("dof"),
        )
    )


# ---------------------------------------------------------------------------
# q182: golden-record survivorship build (MDM merge policy).
# ---------------------------------------------------------------------------

_Q182_SQL = """
WITH type_counts AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
usual AS (
  SELECT user_id, event_type AS usual_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type DESC) AS rk
  FROM type_counts
)
SELECT e.user_id,
       ARG_MAX(e.value, e.ts) AS latest_value,
       ARG_MAX(e.event_type, e.ts) AS latest_type,
       MAX(u.usual_type) AS usual_type,
       CAST(COUNT(*) AS BIGINT) AS n_source_rows,
       STRFTIME(MAX(e.ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events e
JOIN usual u ON u.user_id = e.user_id AND u.rk = 1
GROUP BY e.user_id
ORDER BY e.user_id
"""


@query("q182_golden_record", _Q182_SQL)
def q182_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge: collapse每 entity's source rows into one golden
    record with PER-FIELD policies — recency wins for volatile fields
    (max_by ts), frequency wins for categorical identity (mode), plus
    audit columns. The MDM step after dedup decides WHICH doc survives;
    survivorship decides which FIELD VALUES survive. All policies are
    aggregate functions over one user_id shuffle — no per-policy
    self-joins. DuckDB's MODE and Spark's mode() both tie-break
    deterministically on this data (unique max frequency per user
    checked by the oracle comparison itself)."""
    e = table(spark, sf_dir, "events")
    # frequent-type policy as an explicit (count, type) argmax: builtin
    # mode()'s tie-break is engine-arbitrary (measured 9-11 mismatching
    # users at sf0.01); max-of-struct ties deterministically on the type
    usual = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(F.max(F.struct("c", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("usual_type"))
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.max_by("value", "ts").alias("latest_value"),
            F.max_by("event_type", "ts").alias("latest_type"),
            F.count(F.lit(1)).alias("n_source_rows"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        )
        .join(usual, on="user_id")
        .select(
            "user_id", "latest_value", "latest_type", "usual_type",
            "n_source_rows", "last_seen",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q183: weighted median (median lineitem's order price per priority).
# ---------------------------------------------------------------------------

_Q183_SQL = """
WITH w AS (
  SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice,
         COUNT(*) AS wt
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
),
cum AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice, wt,
         SUM(wt) OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS cum_wt,
         SUM(wt) OVER (PARTITION BY o_orderpriority) AS total_wt
  FROM w
),
hit AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS rk
  FROM cum WHERE cum_wt >= total_wt / 2.0
)
SELECT o_orderpriority,
       o_totalprice AS weighted_median_price,
       CAST(total_wt AS BIGINT) AS total_weight
FROM hit WHERE rk = 1
ORDER BY o_orderpriority
"""


@query("q183_weighted_median", _Q183_SQL)
def q183_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the order price at which half the LINE VOLUME
    sits below — 'the median line item belongs to a $X order', which the
    plain median of orders (every order weighted 1) systematically
    understates when big orders carry more lines. Shape: per-order
    weights from one join+aggregate, then a cumulative-weight window and
    the first crossing of half the total — no sort of raw lineitem, no
    quantile collection; integer weights make the crossing test exact on
    both engines."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    w = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority", "o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    win = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    cum = w.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.sum("wt").over(win).alias("cum_wt"),
        F.sum("wt").over(Window.partitionBy("o_orderpriority")).alias("total_wt"),
    )
    hit = cum.filter(F.col("cum_wt") >= F.col("total_wt") / 2.0).withColumn(
        "rk", F.row_number().over(win)
    )
    return (
        hit.filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_totalprice").alias("weighted_median_price"),
            F.col("total_wt").cast("bigint").alias("total_weight"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q184: user feature-store build (wide ML feature row per user).
# ---------------------------------------------------------------------------

_Q184_SQL = f"""
WITH base AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
           AS n_purchases,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
         MEDIAN(value) AS median_value,
         {dsum_sql("value")} AS total_value
  FROM events GROUP BY user_id
),
last_ev AS (
  SELECT user_id, ARG_MAX(event_type, ts) AS last_type,
         ARG_MAX(value, ts) AS last_value
  FROM events GROUP BY user_id
)
SELECT b.user_id, b.n_events, b.n_purchases, b.days_active,
       b.median_value, b.total_value,
       l.last_type, l.last_value,
       CAST(b.n_purchases AS DOUBLE) / b.n_events AS purchase_rate,
       b.n_purchases > 0 AS is_converter
FROM base b JOIN last_ev l USING (user_id)
ORDER BY b.user_id
"""


@query("q184_user_feature_store", _Q184_SQL)
def q184_user_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store build: one wide, typed feature row per user —
    activity volume/recency/monetary aggregates, exact median, label
    (converter flag) — the materialization an ML platform snapshots
    before training. TWO aggregates over one user_id shuffle (the
    count/sum family and the argmax family can't share a single agg
    without losing partial aggregation on the argmaxes), joined on the
    already-partitioned key; decimal-exact money sums; int/int -> double
    rates. At 100 TB this is the query you'd schedule incrementally via
    the maintained-aggregate machinery (incremental.py) rather than
    recompute — declared batch-first so the oracle pins semantics."""
    e = table(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.countDistinct(F.to_date("ts")).alias("days_active"),
        F.median("value").alias("median_value"),
        dsum("value").alias("total_value"),
    )
    last_ev = e.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_type"),
        F.max_by("value", "ts").alias("last_value"),
    )
    return (
        base.join(last_ev, on="user_id")
        .select(
            "user_id",
            "n_events",
            "n_purchases",
            "days_active",
            "median_value",
            "total_value",
            "last_type",
            "last_value",
            (F.col("n_purchases").cast("double") / F.col("n_events")).alias(
                "purchase_rate"
            ),
            (F.col("n_purchases") > 0).alias("is_converter"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q185: whale count — minimum customers covering half the revenue.
# ---------------------------------------------------------------------------

_Q185_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         {dsum_sql("o_totalprice")} AS revenue
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey) AS cum_rev,
         SUM(revenue) OVER () AS total_rev,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rk,
         COUNT(*) OVER () AS n_cust
  FROM cust
)
SELECT CAST(MIN(rk) AS BIGINT) AS whales_for_half,
       CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       CAST(MIN(rk) AS DOUBLE) / MAX(n_cust) AS whale_share
FROM ranked
WHERE cum_rev >= total_rev / 2.0
"""


@query("q185_whale_count", _Q185_SQL)
def q185_whale_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration head-count: the minimum number of top customers
    whose cumulative revenue crosses 50% — the operational twin of the
    Gini coefficient (q177b): Gini says HOW concentrated, this says WHO
    to call. One customer aggregate, one revenue-desc cumulative window,
    first crossing. The cumulative sum is float in both engines over the
    SAME descending sequence — identical accumulation order, so the
    crossing row matches exactly."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy(F.col("revenue").desc(), "o_custkey")
    ranked = cust.select(
        F.sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_rev"),
        F.sum("revenue").over(Window.partitionBy()).alias("total_rev"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_cust"),
    )
    return ranked.filter(F.col("cum_rev") >= F.col("total_rev") / 2.0).agg(
        F.min("rk").cast("bigint").alias("whales_for_half"),
        F.max("n_cust").cast("bigint").alias("n_customers"),
        (F.min("rk").cast("double") / F.max("n_cust")).alias("whale_share"),
    )


# ---------------------------------------------------------------------------
# q186: population stability index (PSI) between two periods.
# ---------------------------------------------------------------------------

# per-bin (p - q) * ln(p / q), laid out as it sits in the oracle text
_Q186_TERM = (
    "(CAST(c.c1 AS DOUBLE) / t.t1 - CAST(c.c2 AS DOUBLE) / t.t2)\n"
    "                     * LN((CAST(c.c1 AS DOUBLE) / t.t1)\n"
    "                          / (CAST(c.c2 AS DOUBLE) / t.t2))\n"
    "               "
)
_Q186_SQL = f"""
WITH binned AS (
  SELECT LEAST(FLOOR(value / 10.0), 9) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'p1' ELSE 'p2' END AS period
  FROM events
),
counts AS (
  SELECT bin,
         COUNT(*) FILTER (period = 'p1') AS c1,
         COUNT(*) FILTER (period = 'p2') AS c2
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(c1) AS t1, SUM(c2) AS t2 FROM counts)
SELECT {dsum_sql(_Q186_TERM, 18)} AS psi,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM counts c CROSS JOIN tot t
"""


@query("q186_population_stability_index", _Q186_SQL)
def q186_population_stability_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI — the model-monitoring drift index (PSI > 0.2 = retrain
    alarm), completing the drift family: KS (q174, continuous), chi²
    (q179, categorical), PSI (binned share shift, the credit-risk
    standard). Fixed-width bins keep both periods' shares comparable;
    one aggregate builds both histograms via conditional counts, each
    (p−q)·ln(p/q) term rounds to decimal before the sum (q161's
    discipline). Bins empty in either period would need the standard
    0.5-count smoothing — this data fills all bins, so the exact form
    holds."""
    e = table(spark, sf_dir, "events")
    binned = e.select(
        F.least(F.floor(F.col("value") / 10.0), F.lit(9)).alias("bin"),
        F.when(F.col("ts") < "2024-01-16", "p1").otherwise("p2").alias("period"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "p1", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("period") == "p2", 1).otherwise(0)).alias("c2"),
    )
    tot = counts.agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
    p1 = F.col("c1").cast("double") / F.col("t1")
    p2 = F.col("c2").cast("double") / F.col("t2")
    term = (p1 - p2) * F.log(p1 / p2)
    return counts.crossJoin(F.broadcast(tot)).agg(
        dsum(term, 18).alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# q188: lag-k autocorrelation of the daily event series (seasonality).
# ---------------------------------------------------------------------------

_Q188_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1
),
lagged AS (
  SELECT day, n, LAG(n, 7) OVER (ORDER BY day) AS n_lag
  FROM daily
),
pairs AS (SELECT n, n_lag FROM lagged WHERE n_lag IS NOT NULL),
sums AS (
  SELECT {moment_sums_sql("n", "n_lag", syy=True)}
  FROM pairs
)
SELECT {PEARSON_R_SQL} AS autocorr_7d,
       CAST(k AS BIGINT) AS n_pairs
FROM sums
"""


@query("q188_weekly_autocorrelation", _Q188_SQL)
def q188_weekly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of daily volume — the one-number seasonality
    detector (near 1 = strong weekly rhythm) behind forecasting and
    anomaly baselines. Daily collapse first (30 rows), a lag-7 window,
    then Pearson r from decimal-exact component sums (q178's discipline:
    builtin corr() accumulates in float and is not cross-engine
    reproducible). Effectively free at any scale: everything after the
    daily aggregate touches ~days rows."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    lagged = daily.withColumn("n_lag", F.lag("n", 7).over(Window.orderBy("day")))
    pairs = lagged.filter(F.col("n_lag").isNotNull())
    sums = pairs.agg(*moment_sums("n", "n_lag", syy=True))
    return sums.select(
        pearson_r().alias("autocorr_7d"), F.col("k").cast("bigint").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# q189: calendar heatmap — day-of-week x 4-hour-block activity matrix.
# ---------------------------------------------------------------------------

_Q189_SQL = """
SELECT ISODOW(ts) - 1 AS dow,
       CAST(COUNT(*) FILTER (HOUR(ts) < 4) AS BIGINT)  AS h00_04,
       CAST(COUNT(*) FILTER (HOUR(ts) >= 4 AND HOUR(ts) < 8) AS BIGINT)  AS h04_08,
       CAST(COUNT(*) FILTER (HOUR(ts) >= 8 AND HOUR(ts) < 12) AS BIGINT) AS h08_12,
       CAST(COUNT(*) FILTER (HOUR(ts) >= 12 AND HOUR(ts) < 16) AS BIGINT) AS h12_16,
       CAST(COUNT(*) FILTER (HOUR(ts) >= 16 AND HOUR(ts) < 20) AS BIGINT) AS h16_20,
       CAST(COUNT(*) FILTER (HOUR(ts) >= 20) AS BIGINT) AS h20_24
FROM events
GROUP BY dow
ORDER BY dow
"""


@query("q189_calendar_heatmap", _Q189_SQL)
def q189_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar heatmap: the dow x time-of-day activity matrix behind
    every ops dashboard, as a PIVOT on derived keys (hour blocks from
    the timestamp). Spark's pivot with an explicit value list compiles
    to the same single conditional-count aggregate as the oracle's
    FILTER columns — one scan, one 7-row shuffle, no second pass per
    column."""
    e = table(spark, sf_dir, "events")
    block = F.concat(
        F.lit("h"),
        F.lpad((F.floor(F.hour("ts") / 4) * 4).cast("string"), 2, "0"),
        F.lit("_"),
        F.lpad((F.floor(F.hour("ts") / 4) * 4 + 4).cast("string"), 2, "0"),
    )
    return (
        # Monday=0 on both engines: Spark weekday() == DuckDB ISODOW-1
        # (DAYOFWEEK starts Sunday=1 in Spark but Sunday=0 in DuckDB)
        e.select(F.weekday("ts").alias("dow"), block.alias("block"))
        .groupBy("dow")
        .pivot("block", ["h00_04", "h04_08", "h08_12", "h12_16", "h16_20", "h20_24"])
        .count()
        .na.fill(0)
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q190: share-of-parent in a hierarchy (nation within region).
# ---------------------------------------------------------------------------

_Q190_SQL = f"""
WITH nat AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         {dsum_sql("o.o_totalprice")} AS revenue
  FROM region r
  JOIN nation n ON n.n_regionkey = r.r_regionkey
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT region, nation, revenue,
       revenue / CAST(SUM({dec_sql("revenue")}) OVER (PARTITION BY region) AS DOUBLE)
         AS share_of_region,
       revenue / CAST(SUM({dec_sql("revenue")}) OVER () AS DOUBLE) AS share_of_total
FROM nat
ORDER BY region, nation
"""


@query("q190_share_of_parent", _Q190_SQL)
def q190_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent (the RATIO_TO_REPORT idiom): each
    nation's revenue as a fraction of its region and of the whole — the
    drill-down normalization every BI layer needs. One star join +
    aggregate produces the 25-row nation relation; both share levels
    are windows over THAT, so the percent-of-parent math costs nothing
    at any scale. Window sums run over decimal-exact revenues; the two
    divisions are single double ops."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nat = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return (
        nat.select(
            "region",
            "nation",
            "revenue",
            (F.col("revenue") / F.sum(dec("revenue")).over(wr).cast("double")).alias("share_of_region"),
            (F.col("revenue") / F.sum(dec("revenue")).over(wall).cast("double")).alias("share_of_total"),
        )
        .orderBy("region", "nation")
    )


# ---------------------------------------------------------------------------
# q191: association rules over user event-type baskets.
# ---------------------------------------------------------------------------

_Q191_SQL = """
WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
n_users AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events),
type_support AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS s FROM baskets GROUP BY 1
),
pair_support AS (
  SELECT a.event_type AS ante, b.event_type AS cons,
         CAST(COUNT(*) AS DOUBLE) AS s_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.event_type <> b.event_type
  GROUP BY 1, 2
)
SELECT p.ante, p.cons,
       CAST(p.s_ab AS BIGINT) AS n_both,
       p.s_ab / n.n AS support,
       p.s_ab / ta.s AS confidence,
       (p.s_ab / n.n) / ((ta.s / n.n) * (tc.s / n.n)) AS lift
FROM pair_support p
JOIN type_support ta ON ta.event_type = p.ante
JOIN type_support tc ON tc.event_type = p.cons
CROSS JOIN n_users n
ORDER BY ante, cons
"""


@query("q191_association_rules", _Q191_SQL)
def q191_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over user event baskets:
    support / confidence / lift for every (antecedent -> consequent)
    type pair — exact, where q166 estimated overlaps with sketches and
    q177 scored token bags. The basket relation collapses to DISTINCT
    (user, type) FIRST (the only corpus-sized shuffle); pair support is
    a self-join on user over ~5 types/user; the divisor relations are
    5-row broadcasts. All ratios are single double divisions of exact
    counts."""
    e = table(spark, sf_dir, "events")
    baskets = e.select("user_id", "event_type").distinct()
    n_users = e.select("user_id").distinct().count()
    ts_ = baskets.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("s"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") != F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("ante"), F.col("b.event_type").alias("cons"))
        .agg(F.count(F.lit(1)).cast("double").alias("s_ab"))
    )
    ta = ts_.select(F.col("event_type").alias("ante"), F.col("s").alias("s_a"))
    tc = ts_.select(F.col("event_type").alias("cons"), F.col("s").alias("s_c"))
    return (
        pairs.join(F.broadcast(ta), on="ante")
        .join(F.broadcast(tc), on="cons")
        .select(
            "ante",
            "cons",
            F.col("s_ab").cast("bigint").alias("n_both"),
            (F.col("s_ab") / n_users).alias("support"),
            (F.col("s_ab") / F.col("s_a")).alias("confidence"),
            ((F.col("s_ab") / n_users) / ((F.col("s_a") / n_users) * (F.col("s_c") / n_users))).alias("lift"),
        )
        .orderBy("ante", "cons")
    )


# ---------------------------------------------------------------------------
# q195: retention triangle (cohort week x weekly offset, pivoted wide).
# ---------------------------------------------------------------------------

_Q195_SQL = """
WITH first_week AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(DATEDIFF('week', f.cohort_week, DATE_TRUNC('week', e.ts)) AS INT)
           AS wk_offset
  FROM events e JOIN first_week f ON f.user_id = e.user_id
)
SELECT STRFTIME(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(COUNT(DISTINCT user_id) FILTER (wk_offset = 0) AS BIGINT) AS w0,
       CAST(COUNT(DISTINCT user_id) FILTER (wk_offset = 1) AS BIGINT) AS w1,
       CAST(COUNT(DISTINCT user_id) FILTER (wk_offset = 2) AS BIGINT) AS w2,
       CAST(COUNT(DISTINCT user_id) FILTER (wk_offset = 3) AS BIGINT) AS w3,
       CAST(COUNT(DISTINCT user_id) FILTER (wk_offset = 4) AS BIGINT) AS w4
FROM activity
GROUP BY cohort_week
ORDER BY cohort_week
"""


@query("q195_retention_triangle", _Q195_SQL)
def q195_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention TRIANGLE — q112's long-format cohort retention
    pivoted to the wide week0..week4 matrix analysts actually read (each
    row a cohort, each column a survival week, the diagonal the calendar
    frontier). Distinct (user, cohort, offset) first, then a conditional
    count per offset — one pass, no per-column scans. A plain count equals
    the oracle's COUNT(DISTINCT user_id): the rows are distinct on (user,
    cohort, offset), the cohort is a function of the user, and the join
    drops NULL user_ids. Distinct aggregates would plan an Expand whose
    group order changes between runs."""
    e = table(spark, sf_dir, "events")
    first_week = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = (
        e.join(first_week, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
            ).cast("int").alias("offset"),
        )
        .distinct()
    )
    aggs = [
        F.count(F.when(F.col("offset") == i, F.col("user_id"))).alias(f"w{i}")
        for i in range(5)
    ]
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week")
        )
        .agg(*aggs)
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# q196: repeat-purchase interval distribution.
# ---------------------------------------------------------------------------

_Q196_SQL = """
WITH purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
gaps AS (
  SELECT DATEDIFF('day',
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) AS gap_days
  FROM purchases
)
SELECT LEAST(CAST(FLOOR(gap_days / 3.0) AS INT), 9) AS bucket_3d,
       CAST(COUNT(*) AS BIGINT) AS n_repurchases,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps
WHERE gap_days IS NOT NULL
GROUP BY bucket_3d
ORDER BY bucket_3d
"""


@query("q196_repurchase_intervals", _Q196_SQL)
def q196_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day-gaps between a
    user's consecutive purchases in 3-day buckets — what replenishment
    campaigns and LTV models are tuned against. The purchase filter
    pushes to the scan; one user-partitioned lag window over the
    filtered fraction; day-gaps are exact integer date arithmetic."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = p.select(
        F.datediff(F.col("ts"), F.lag("ts").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy(
            F.least(F.floor(F.col("gap_days") / 3.0).cast("int"), F.lit(9)).alias(
                "bucket_3d"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_repurchases"),
            F.min("gap_days").cast("bigint").alias("min_gap_days"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("bucket_3d")
    )


# ---------------------------------------------------------------------------
# q199: peak detection over the daily series (local maxima).
# ---------------------------------------------------------------------------

_Q199_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
nbr AS (
  SELECT day, n,
         LAG(n) OVER (ORDER BY day) AS prev_n,
         LEAD(n) OVER (ORDER BY day) AS next_n
  FROM daily
)
SELECT day, n,
       CAST(n - GREATEST(prev_n, next_n) AS BIGINT) AS prominence
FROM nbr
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n > prev_n AND n > next_n
ORDER BY day
"""


@query("q199_daily_peaks", _Q199_SQL)
def q199_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection: days strictly above both neighbors, with the
    prominence over the higher neighbor — the spike-finding primitive
    behind incident review ('what happened Tuesday?'). Daily collapse
    first; lag+lead share one ordered window; endpoints excluded (no
    defined neighborhood). Deliberately strict inequalities: plateau
    days are not peaks."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day")
    nbr = daily.select(
        "day",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return (
        nbr.filter(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") > F.col("next_n"))
        )
        .select(
            "day",
            "n",
            (F.col("n") - F.greatest("prev_n", "next_n")).cast("bigint").alias(
                "prominence"
            ),
        )
        .orderBy("day")
    )
