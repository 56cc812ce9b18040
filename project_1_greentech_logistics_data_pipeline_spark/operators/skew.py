"""Skew-mitigation helpers (SURVEY §4 shuffle-strategy row).

AQE's skew-join splitting handles most cases at runtime; salted_join is the
explicit fallback for pathological keys (one key owning a double-digit
percentage of rows) or for engines/paths where AQE can't re-plan (e.g.
streaming joins). Semantics-preserving: verified against the plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import dsum, dsum_sql
from ..registry import query, table


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a salted key: the (large, skewed) left side gets a
    random salt in [0, salt_buckets); the (smaller) right side is replicated
    once per salt value. The shuffle then spreads each hot key over
    salt_buckets partitions instead of one straggler.

    Cost model: right side is duplicated salt_buckets times — use when
    right is modest and left's key distribution is the problem. Column
    overlap rules match df.join(..., on=key): one key column in the output.
    """
    salted_left = left.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    salted_right = right.withColumn("_salt", salts)
    out = salted_left.join(salted_right, on=[key, "_salt"], how=how)
    return out.drop("_salt")


# ---------------------------------------------------------------------------
# q116: salted join under pathological key skew, oracle = the plain join.
#
# events.event_type has 5 distinct values, each owning ~20% of the table —
# the textbook hot-key distribution where an unsalted shuffle join puts a
# fifth of the fact table on one reducer. Salting spreads each hot key over
# salt_buckets partitions; because the (tiny) dim side is replicated per
# salt, the join RESULT is independent of the salt assignment, so the plain
# join is an exact oracle. The final agg re-merges salted partials
# map-side, so the extra shuffle column costs nothing downstream.
# ---------------------------------------------------------------------------

_Q116_SQL = f"""
WITH dim AS (
  SELECT DISTINCT event_type, LENGTH(event_type) AS type_weight FROM events
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       {dsum_sql("e.value * d.type_weight")}
         AS weighted_value,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE e.value IS NOT NULL
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("q116_skew_salted_join", _Q116_SQL)
def q116_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key (20%-per-key) fact-to-dim join via salted_join, then a
    per-key weighted aggregate. Scale shape: the dim is 5 rows ×
    salt_buckets replicas, so even forced through a shuffle join no
    reducer sees more than ~1/(keys·buckets) of the fact table; in
    practice AQE broadcast-converts the dim and the salt is free
    insurance for the streaming/non-AQE paths this helper exists for.
    Semantics-preserving vs the unsalted plan by construction
    (oracle = plain join)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type"))
    )
    joined = salted_join(ev, dim, "event_type", salt_buckets=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * F.col("type_weight")).alias("weighted_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q204: key-skew profile — the diagnostic run BEFORE picking a join strategy.
# ---------------------------------------------------------------------------

_Q204_SQL = """
WITH k AS (
  SELECT o_custkey AS key, COUNT(*) AS key_rows
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(SUM(key_rows) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(key_rows) AS BIGINT) AS max_key_rows
  FROM k
)
SELECT
  t.n_rows,
  t.n_keys,
  t.max_key_rows,
  CAST(ROUND(t.max_key_rows * t.n_keys / CAST(t.n_rows AS DOUBLE), 6) AS DOUBLE)
    AS skew_factor,
  CAST(ROUND(t.max_key_rows / CAST(t.n_rows AS DOUBLE), 6) AS DOUBLE)
    AS top_key_share,
  CAST((SELECT COUNT(*) FROM k
        WHERE key_rows * t.n_keys > 4 * t.n_rows) AS BIGINT) AS n_hot_keys
FROM tot t
"""


@query("q204_key_skew_profile", _Q204_SQL)
def q204_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of a prospective join/agg key: row count, key
    cardinality, heaviest key, skew factor (max key size relative to the
    mean — Spark's own AQE skew-join trigger compares against median x5;
    mean x4 here matches the 'hot key' rule of thumb), top-key share, and
    the hot-key count. This is the diagnostic a pipeline runs BEFORE
    choosing broadcast vs shuffle vs salted_join vs AQE-only at 100 TB —
    one cached (key, count) histogram feeding two 1-row aggregates, no
    data leaves the cluster.

    The hot-key predicate is evaluated with exact integer cross
    multiplication (key_rows * n_keys > 4 * n_rows), not a float mean, so
    the count is bit-deterministic against the oracle."""
    o = table(spark, sf_dir, "orders")
    # localCheckpoint: the histogram feeds both the totals and the hot-key
    # count; unmaterialized, each branch would rescan and re-aggregate the
    # fact table. Checkpoint blocks are reclaimed by the ContextCleaner when
    # the DataFrame is GC'd — unlike cache(), which pins the plan in the
    # CacheManager for the session lifetime (long-lived library callers
    # would accumulate executor memory).
    k = (
        o.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("key_rows"))
        .localCheckpoint(eager=True)
    )
    tot = k.agg(
        F.sum("key_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("key_rows").cast("bigint").alias("max_key_rows"),
    )
    hot = (
        k.crossJoin(F.broadcast(tot.select("n_rows", "n_keys")))
        .filter(
            F.col("key_rows") * F.col("n_keys")
            > F.lit(4) * F.col("n_rows")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hot_keys"))
    )
    return (
        tot.crossJoin(F.broadcast(hot))
        .select(
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.round(
                F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows").cast("double"),
                6,
            ).alias("skew_factor"),
            F.round(F.col("max_key_rows") / F.col("n_rows").cast("double"), 6).alias(
                "top_key_share"
            ),
            "n_hot_keys",
        )
    )


# ---------------------------------------------------------------------------
# q205: join-size forecast — exact output cardinality WITHOUT running the join.
# ---------------------------------------------------------------------------

_Q205_SQL = """
WITH a AS (SELECT o_custkey AS key, COUNT(*) AS ca FROM orders GROUP BY 1),
b AS (SELECT c_custkey AS key, COUNT(*) AS cb FROM customer GROUP BY 1),
j AS (SELECT a.key, a.ca, b.cb FROM a JOIN b USING (key))
SELECT
  COALESCE(CAST(SUM(ca * cb) AS BIGINT), 0) AS join_rows,
  CAST(COUNT(*) AS BIGINT) AS matched_keys,
  COALESCE(CAST(MAX(ca * cb) AS BIGINT), 0) AS max_key_output,
  CAST((SELECT SUM(ca) FROM a) AS BIGINT)
    - COALESCE(CAST(SUM(ca) AS BIGINT), 0) AS left_rows_unmatched,
  CAST((SELECT SUM(cb) FROM b) AS BIGINT)
    - COALESCE(CAST(SUM(cb) AS BIGINT), 0) AS right_rows_unmatched
FROM j
"""


@query("q205_join_size_forecast", _Q205_SQL)
def q205_join_size_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inner-join output cardinality WITHOUT executing the join:
    |A JOIN B on k| = sum over matched keys of cntA(k)*cntB(k). Two
    group-bys + one key-histogram join move only (key, count) pairs —
    at 100 TB that is the difference between forecasting a 10^14-row
    blow-up from kilobytes of histogram and discovering it as a dead
    executor. Also reports the heaviest key's output contribution (the
    q204 skew signal at join granularity) and unmatched row mass per
    side (anti-join sizes, for free from the same histograms).

    All arithmetic is exact integer (BIGINT sums of products), so the
    forecast is bit-deterministic against the oracle AND against the
    real join's count."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    # localCheckpoint both histograms: each feeds its per-side total AND
    # the histogram join; unmaterialized, orders/customer would be scanned
    # twice. ContextCleaner reclaims the blocks (cache() would pin them).
    a = (
        o.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("ca"))
        .localCheckpoint(eager=True)
    )
    b = (
        c.groupBy(F.col("c_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=True)
    )
    tot_a = a.agg(F.sum("ca").cast("bigint").alias("ta"))
    tot_b = b.agg(F.sum("cb").cast("bigint").alias("tb"))
    j = a.join(b, on="key")
    zero = F.lit(0).cast("bigint")
    return (
        j.agg(
            # coalesce: with zero matched keys SUM/MAX over the empty join
            # are NULL — the forecast must report 0 joined rows and the full
            # per-side totals unmatched instead of NULL-propagating.
            F.coalesce(F.sum(F.col("ca") * F.col("cb")).cast("bigint"), zero).alias(
                "join_rows"
            ),
            F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
            F.coalesce(
                F.max(F.col("ca") * F.col("cb")).cast("bigint"), zero
            ).alias("max_key_output"),
            F.coalesce(F.sum("ca").cast("bigint"), zero).alias("_ma"),
            F.coalesce(F.sum("cb").cast("bigint"), zero).alias("_mb"),
        )
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "join_rows",
            "matched_keys",
            "max_key_output",
            (F.col("ta") - F.col("_ma")).alias("left_rows_unmatched"),
            (F.col("tb") - F.col("_mb")).alias("right_rows_unmatched"),
        )
    )
