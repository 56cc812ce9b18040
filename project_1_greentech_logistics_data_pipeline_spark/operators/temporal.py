"""Temporal operators: as-of join, range join, tumbling-window aggregation,
sessionization, latest-per-key.

The reference's only time handling is a processing-time stamp
(Glue_job.py:81) and string event timestamps it never parses; these are the
event-time operators a real telemetry/analytics engine needs (SURVEY §2.3
as-of row, §2.8 event-time row). Batch forms here (with DuckDB oracles);
streaming forms with watermarks live in streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.deterministic import dec, dec_sql, dsum, dsum_sql
from ..registry import query, table


# ---------------------------------------------------------------------------
# As-of join (nearest earlier right row per left row, per key)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
) -> DataFrame:
    """Union-then-window as-of join: O(n log n) per key, one shuffle each
    side on (key), no range-join blowup.

    Tag both inputs, union by name, sort within key by (ts, side) with right
    rows first on ties (<= semantics), and carry the most recent right
    payload forward with last(..., ignorenulls=True). This is the scalable
    plan for 100 TB: a crossJoin+filter as-of degrades quadratically per key,
    while this is a single sort-merge pass; skewed keys are handled by AQE.
    """
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[p].dataType).alias(p) for p in payload],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != key],
        F.col(key).alias(key) if key in left.columns else F.col(key),
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_side"),
        *payload,
    ).select(*lcols, "_asof_ts", "_side", *payload)

    unioned = l_tagged.unionByName(r_tagged)
    w = (
        W.partitionBy(key)
        .orderBy("_asof_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "_side",
        *[F.last(p, ignorenulls=True).over(w).alias(p) for p in payload],
    )
    return carried.filter(F.col("_side") == 1).drop("_side")


_Q30_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts, r.o_orderkey AS last_orderkey,
       r.o_orderdate AS last_orderdate
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


@query("q30_asof_join", _Q30_SQL)
def q30_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the customer's most recent order at event time.
    Right side deduped per (custkey, orderdate) first — the testdata has
    duplicate dates per customer, which would make ASOF nondeterministic."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    r = (
        o.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_orderkey",
        )
    )
    left = e.select("event_id", "user_id", "ts")
    joined = asof_join(
        left, r, key="user_id", left_ts="ts", right_ts="o_orderdate",
        payload=["o_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


# ---------------------------------------------------------------------------
# Range join against a small banding dimension (broadcast)
# ---------------------------------------------------------------------------

_BANDS = [
    ("low", 0.0, 25.0),
    ("mid", 25.0, 75.0),
    ("high", 75.0, 101.0),
]

_Q31_SQL = f"""
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 101.0)
)
SELECT b.band, COUNT(*) AS n_events,
       {dsum_sql("e.value")} AS sum_value
FROM events e
JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
ORDER BY b.band
"""


@query("q31_range_join_bands", _Q31_SQL)
def q31_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding via broadcast range join: the only sane plan at scale is
    BroadcastNestedLoopJoin with the tiny band table broadcast — the fact
    side streams through unshuffled."""
    e = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Tumbling window aggregation (batch form of the streaming windowed agg)
# ---------------------------------------------------------------------------

_Q32_SQL = f"""
SELECT
  STRFTIME(TIME_BUCKET(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {dsum_sql("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("q32_tumbling_window_agg", _Q32_SQL)
def q32_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows via F.window — identical semantics to the
    Structured Streaming version in streaming/jobs.py, run in batch."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands; 30-minute inactivity gap)
# ---------------------------------------------------------------------------

SESSION_GAP_SQL = "INTERVAL '30 minutes'"


def sessionize(events: DataFrame, *cols: str) -> DataFrame:
    """``(user_id, event_id, ts, *cols, session_id)``: a user's session
    starts at their first event and after every gap longer than
    :data:`SESSION_GAP_SQL`, compared as an exact interval (microseconds,
    not truncated seconds); ``session_id`` is the running count of starts
    in (ts, event_id) order. One shuffle on user_id, two window passes over
    the same partitioning. Oracle twin: :func:`_sessions_ctes_sql`."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    keep = ["user_id", "event_id", "ts", *cols]
    prev = F.col("prev")
    is_new = F.when((F.col("ts") - prev > F.expr(SESSION_GAP_SQL)) | prev.isNull(), 1)
    return (
        events.select(*keep, F.lag("ts").over(w).alias("prev"))
        .select(*keep, is_new.otherwise(0).alias("is_new"))
        .select(
            *keep,
            F.sum("is_new")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("session_id"),
        )
    )


def _sessions_ctes_sql(*cols: str) -> str:
    """Oracle twin of :func:`sessionize`: CTEs ``marked`` and ``sessions``
    over ``events``."""
    sel = ", ".join(["user_id", "event_id", "ts", *cols])
    prev = "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    return f"""marked AS (
  SELECT {sel},
    CASE WHEN ts - {prev}
              > {SESSION_GAP_SQL}
         OR {prev} IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT {sel},
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)"""


_Q33_SQL = f"""
WITH {_sessions_ctes_sql()}
SELECT user_id, session_id,
  COUNT(*) AS n_events,
  STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
  CAST(DATEDIFF('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
FROM sessions
GROUP BY user_id, session_id
"""


@query("q33_sessionize", _Q33_SQL)
def q33_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (:func:`sessionize`). The streaming
    twin is session_window() in streaming/jobs.py."""
    # ntz has no direct long cast; go through ltz (session tz is UTC)
    epoch = F.col("ts").cast("timestamp").cast("long")
    return (
        sessionize(table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            (F.max(epoch) - F.min(epoch)).cast("bigint").alias("duration_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Latest-per-key via max_by (the DAG's sorted()[-1] newest-file pick,
# kafka_to_glue_dag.py:47-48, done as a distributed aggregate)
# ---------------------------------------------------------------------------

_Q34_SQL = """
SELECT
  user_id,
  ARG_MAX(event_id, ts) AS last_event_id,
  ARG_MAX(event_type, ts) AS last_event_type,
  STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
GROUP BY user_id
"""


@query("q34_latest_per_key", _Q34_SQL)
def q34_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by latest-reading-per-key: a partial-aggregatable alternative to
    the row_number top-1 pattern — no window sort, map-side combine works.
    (ts is unique per user in the testdata, so arg_max is deterministic.)"""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Hierarchical (hypertable-style) time rollup: hour -> day from the hourly
# pre-aggregate, not from raw
# ---------------------------------------------------------------------------

_Q94_SQL = f"""
WITH hourly AS (
  SELECT DATE_TRUNC('hour', ts) AS bucket_ts,
    COUNT(*) AS n_events,
    SUM({dec_sql("value")}) AS v
  FROM events GROUP BY 1
), daily AS (
  SELECT DATE_TRUNC('day', bucket_ts) AS bucket_ts,
    SUM(n_events) AS n_events, SUM(v) AS v
  FROM hourly GROUP BY 1
)
SELECT 'hour' AS level, bucket_ts, CAST(n_events AS BIGINT) AS n_events,
       CAST(v AS DOUBLE) AS total_value
FROM hourly
UNION ALL
SELECT 'day' AS level, bucket_ts, CAST(n_events AS BIGINT) AS n_events,
       CAST(v AS DOUBLE) AS total_value
FROM daily
"""


@query("q94_hierarchical_time_rollup", _Q94_SQL)
def q94_hierarchical_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (hour + day) in ONE pass:
    GROUPING SETS ((hour), (day)) compiles to a single scan + Expand +
    partial aggregation, so the raw table is read once and the shuffle
    carries only per-partition (hour ∪ day) partial aggregates. The naive
    union-of-two-aggregations plan was measured to scan raw twice (Spark
    does not dedupe the shared subtree under union); the two-level
    rollup-from-pre-aggregate form is what you'd *materialize* in a real
    hypertable — as a single query, Expand wins. Sums stay exact decimals
    until the final projection, so the oracle's rollup-from-hourly plan is
    value-identical (decimal addition is associative; double's is not)."""
    e = table(spark, sf_dir, "events")
    keyed = e.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "value",
    )
    return (
        keyed.groupingSets([["h"], ["d"]], "h", "d")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).alias("v"),
            F.grouping("h").alias("g_h"),
        )
        .select(
            F.when(F.col("g_h") == 0, "hour").otherwise("day").alias("level"),
            F.coalesce("h", "d").alias("bucket_ts"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("v").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Binned interval join: large x large time-proximity join without BNLJ
# ---------------------------------------------------------------------------


def binned_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance_expr: str,
) -> DataFrame:
    """Join rows whose timestamps fall within +/- tolerance of each other,
    at shuffle-join cost instead of a broadcast-nested-loop cartesian.

    Technique: bucket both sides into tolerance-width time bins
    (`F.window`), explode the LEFT side to its bin and both neighbors, and
    equi-join on the bin — every within-tolerance pair shares one of the
    three bins, and each pair matches exactly once because the right side
    keeps its single home bin. The residual |l-r| <= tolerance predicate
    runs after the equi-join. This is the standard rewrite that makes a
    range-only join scale: a pure range predicate gives Spark no equi keys,
    so the planner falls back to BroadcastNestedLoopJoin (fine vs a small
    dim — q31 — catastrophic large x large). Cost: 3x left shuffle volume,
    one shuffle each side, SMJ/SHJ on the bin.

    tolerance_expr: SQL interval literal body, e.g. "INTERVAL 5 MINUTES" —
    must equal the bin width passed below.
    """
    dur = tolerance_expr.replace("INTERVAL", "").strip().lower()
    l = left.withColumn(
        "bin",
        F.explode(
            F.array(
                F.expr(f"{_w_start(left_ts, dur)} - {tolerance_expr}"),
                F.expr(_w_start(left_ts, dur)),
                F.expr(f"{_w_start(left_ts, dur)} + {tolerance_expr}"),
            )
        ),
    )
    r = right.withColumn("bin", F.expr(_w_start(right_ts, dur)))
    cond = (
        (F.col("bin") == F.col("rbin"))
        & (F.col(right_ts) >= F.expr(f"{left_ts} - {tolerance_expr}"))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + {tolerance_expr}"))
    )
    return l.join(r.withColumnRenamed("bin", "rbin"), cond)


def _w_start(ts: str, dur: str) -> str:
    return f"window({ts}, '{dur}').start"


_Q97_SQL = """
SELECT
  CAST(DATE_TRUNC('day', e.ts) AS TIMESTAMP) AS day,
  COUNT(*) AS n_pairs,
  COUNT(DISTINCT e.event_id) AS n_errors_with_purchase
FROM events e
JOIN events p
  ON p.event_type = 'purchase'
 AND p.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE
WHERE e.event_type = 'error'
GROUP BY day
ORDER BY day
"""


@query("q97_binned_interval_join", _Q97_SQL)
def q97_binned_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-proximity join of two large event streams (errors x purchases
    within +/- 5 minutes) via binned_interval_join — the batch twin of the
    stream-stream interval join, and the plan that survives 100 TB where
    the naive range-only join (the oracle's form) degenerates to a
    nested-loop cartesian."""
    e = table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    pairs = binned_interval_join(err, pur, "e_ts", "p_ts", "INTERVAL 5 MINUTES")
    return (
        pairs.groupBy(F.date_trunc("day", "e_ts").alias("day"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("e_id").alias("n_errors_with_purchase"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Funnel analysis: ordered view -> click -> purchase progression per user
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel(
    events: DataFrame, names: tuple[str, ...], deadlines: tuple[int | None, ...] = (None, None)
) -> DataFrame:
    """One row of per-stage user counts, aliased ``names``: users who
    viewed, then clicked AFTER their first view, then purchased AFTER
    that first click — stage order enforced by timestamps, not mere event
    existence. ``deadlines`` optionally bounds each conversion (hours
    after the previous stage's first time; None = unbounded). Oracle
    twin: :func:`_funnel_sql`.

    One conditional minimum per stage, stacked as window projections over
    ONE user_id partitioning: a single shuffle serves all stages (a staged
    join formulation was measured at 16 exchanges — each stage's subtree
    re-executed). At 100 TB the per-user pass is the whole cost; the
    funnel itself is a 3-row driver-side reduction."""
    w = W.partitionBy("user_id")
    staged, prev = events.select("user_id", "event_type", "ts"), None
    for stage, hours in zip(FUNNEL_STAGES, (None, *deadlines)):
        cond = F.col("event_type") == stage
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        if hours is not None:
            cond = cond & (F.col("ts") <= F.col(prev) + F.expr(f"INTERVAL {hours} HOURS"))
        prev = f"t_{stage}"
        staged = staged.withColumn(prev, F.min(F.when(cond, F.col("ts"))).over(w))
    cols = [f"t_{stage}" for stage in FUNNEL_STAGES]
    per_user = staged.groupBy("user_id").agg(*(F.first(c).alias(c) for c in cols))
    return per_user.agg(*(F.count(c).alias(n) for c, n in zip(cols, names)))


def _funnel_sql(
    names: tuple[str, ...], deadlines: tuple[int | None, ...] = (None, None)
) -> str:
    """Oracle twin of :func:`funnel`: one CTE per stage, each joined to
    the previous stage's first time."""

    def within(prev: str, hours: int | None) -> str:
        return "" if hours is None else f"\n    AND e.ts <= {prev} + INTERVAL {hours} HOUR"

    return f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view{within("v.t_view", deadlines[0])}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click{within("c.t_click", deadlines[1])}
  GROUP BY e.user_id
)
SELECT
  (SELECT COUNT(*) FROM v) AS {names[0]},
  (SELECT COUNT(*) FROM c) AS {names[1]},
  (SELECT COUNT(*) FROM p) AS {names[2]}
"""


_Q111_NAMES = ("n_viewed", "n_clicked_after_view", "n_purchased_after_click")


@query("q111_funnel_analysis", _funnel_sql(_Q111_NAMES))
def q111_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel over all time."""
    return funnel(table(spark, sf_dir, "events"), _Q111_NAMES)


# ---------------------------------------------------------------------------
# Cohort retention: first-active-week cohorts x weekly activity offsets
# ---------------------------------------------------------------------------

_Q112_SQL = """
WITH first_week AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
    CAST(DATEDIFF('day', f.cohort_week, DATE_TRUNC('week', e.ts)) / 7 AS BIGINT)
      AS week_offset
  FROM events e JOIN first_week f ON e.user_id = f.user_id
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, week_offset, COUNT(*) AS n_active_users
FROM activity
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@query("q112_cohort_retention", _Q112_SQL)
def q112_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, counted
    per week-offset of later activity. Two aggregations over the same
    user_id partitioning (first-touch, then distinct user-week activity) —
    the cohort dim joins back via broadcast since distinct users << events.
    The week offset is day-difference/7 against the cohort week, identical
    integer arithmetic on both engines."""
    e = table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    first_week = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        e.join(F.broadcast(first_week), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(week, F.col("cohort_week")) / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q176: time-bounded funnel (convert WITHIN a deadline per stage)
# ---------------------------------------------------------------------------

_Q176_NAMES = ("n_viewed", "n_clicked_within_6h", "n_purchased_within_48h")
_Q176_DEADLINES = (6, 48)  # hours: click after first view, purchase after that click


@query("q176_funnel_time_bounded", _funnel_sql(_Q176_NAMES, _Q176_DEADLINES))
def q176_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: q111's ordered stages with per-stage conversion
    WINDOWS (click within 6h of first view, purchase within 48h of that
    click) — the form product analytics actually reports, since an
    unbounded funnel credits conversions that happen weeks later. Same
    single-shuffle formulation, deadlines folded into the conditions."""
    return funnel(table(spark, sf_dir, "events"), _Q176_NAMES, _Q176_DEADLINES)


# ---------------------------------------------------------------------------
# q181: top session paths (ordered event-type sequences per session)
# ---------------------------------------------------------------------------

_Q181_SQL = f"""
WITH {_sessions_ctes_sql("event_type")},
paths AS (
  SELECT user_id, session_id,
         STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path,
         COUNT(*) AS path_len
  FROM sessions GROUP BY user_id, session_id
)
SELECT path,
       CAST(MAX(path_len) AS BIGINT) AS path_len,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
HAVING COUNT(*) >= 5
ORDER BY n_sessions DESC, path
LIMIT 25
"""


@query("q181_top_session_paths", _Q181_SQL)
def q181_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the most common ordered event-type journeys per
    session (q33's gap sessionization feeding an order-preserving
    path-string aggregation) — 'view>click>purchase happens 40x' is the
    product-analytics output funnels can't give (funnels fix the stages;
    paths DISCOVER them). Order inside the path comes from sort_array
    over (ts, event_id, type) structs, never bare collect_list; the path
    space collapses map-side before the global top-25
    TakeOrderedAndProject."""
    sessions = sessionize(table(spark, sf_dir, "events"), "event_type")
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.max("path_len").alias("path_len"),
            F.count(F.lit(1)).alias("n_sessions"),
        )
        .filter(F.col("n_sessions") >= 5)
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q202: first-session conversion (cold-start quality of acquisition)
# ---------------------------------------------------------------------------

_Q202_SQL = f"""
WITH {_sessions_ctes_sql("event_type")},
first_sessions AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         COUNT(*) AS n_events
  FROM sessions WHERE session_id = 1
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_first_session_converters,
       CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS first_session_cvr,
       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_first_session_events
FROM first_sessions
"""


@query("q202_first_session_conversion", _Q202_SQL)
def q202_first_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start conversion: did a user's FIRST session (q33's 30-min
    gap rule) contain a purchase — the acquisition-quality number that a
    lifetime conversion rate (q111) hides, since later sessions carry
    accumulated intent. Same one-shuffle sessionization; the first
    session filters by running session_id = 1 before any aggregation."""
    sessions = sessionize(table(spark, sf_dir, "events"), "event_type")
    first = (
        sessions.filter(F.col("session_id") == 1)
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return first.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_first_session_converters"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias(
            "first_session_cvr"
        ),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "mean_first_session_events"
        ),
    )
