"""SparkSession construction and runtime tuning.

The reference builds its session at Glue/Glue_job.py:18-22 (Delta extension +
catalog). Here the session is plain Spark (delta-spark is not installed in
this environment; the Delta sink is pluggable in sources/writers.py), with
the settings that matter at scale turned on explicitly:

- AQE (adaptive query execution): runtime broadcast-join conversion, skew-join
  splitting, shuffle-partition coalescing. At 100 TB these are the difference
  between a plan that works and one that doesn't.
- spark.sql.session.timeZone=UTC: timestamps in the testdata are naive UTC;
  pinning the session zone makes results reproducible across hosts.
- Arrow: pandas interchange for the Pandas-UDF slow path.
- Codegen class cache (``CODEGEN_CACHE_ENTRIES``): Spark keeps the classes
  Janino compiles in one JVM-wide cache of 100 entries by default. The
  registered query surface plus the batch and stream pipelines generate
  2,276 distinct classes (one pass at sf0.001 on local[4], counted with
  ``CodegenMetrics``), so a session that mixes queries evicted and
  recompiled every query's classes on each run. The cache size is a static
  conf, set once in :func:`get_spark`; :func:`tune` warns when a session
  it did not build keeps a smaller cache. Generated class names carry no
  codegen stage id: AQE numbers stages in the order they materialize,
  which differs between runs of one plan. With the id in the name the
  query surface alone generated 2,704 classes and, even in an unbounded
  cache, recompiled 122 of them on a re-run.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Runtime-settable SQL confs (safe to apply to a session we did not build,
# e.g. the driver-provided one). Keys here must all be dynamic confs.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local[32] testing default; a real cluster sizes this to ~2-3x cores or
    # relies on AQE coalescing from a higher initial number.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS) — scan as long, convert
    # in readers.load_table (Spark has no native nanos timestamp scan)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the stage id in a generated class name would make one plan's classes
    # miss the codegen cache whenever AQE numbers its stages differently
    "spark.sql.codegen.useIdInClassName": "false",
}

# Static conf: fixed when the SparkContext starts, so RUNTIME_CONF cannot
# carry it. 4,096 entries hold the surface's 2,276 classes (see the module
# docstring) with about 80% headroom for new queries and plan variants.
CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096


_tune_warned: set[str] = set()
_cache_warned = False


def tune(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to an existing session (driver-provided or ours).

    Every declared query calls this first so behavior does not depend on who
    constructed the session. A key the session refuses (non-dynamic in some
    deployment) is skipped so the remaining keys still apply; the first
    refusal of each key in a process emits one RuntimeWarning naming it, and
    so does the first session seen with a codegen cache smaller than
    CODEGEN_CACHE_ENTRIES (it cannot be resized at runtime)."""
    global _cache_warned
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k not in _tune_warned:
                _tune_warned.add(k)
                warnings.warn(
                    f"tune could not set {k}={v} ({type(e).__name__}); the "
                    "session keeps its own value",
                    RuntimeWarning,
                    stacklevel=2,
                )
    cache = int(spark.conf.get(CODEGEN_CACHE_KEY))
    if cache < CODEGEN_CACHE_ENTRIES and not _cache_warned:
        _cache_warned = True
        warnings.warn(
            f"{CODEGEN_CACHE_KEY}={cache} is below "
            f"{CODEGEN_CACHE_ENTRIES}; generated classes get evicted and "
            "recompiled when queries mix (build the session with get_spark)",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def get_spark(app_name: str = "p1gl-spark", master: str | None = None) -> SparkSession:
    """Build (or get) a tuned session. Used by tests and bench.py."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


_release_warned = False


def release_local_checkpoint(df) -> None:
    """Best-effort release of the RDD blocks behind a localCheckpoint()ed
    DataFrame once no future plan can reference it (the iterative
    operators' per-round label/rank relations — r14 ADVICE: without this,
    every round's checkpoint blocks stay resident until
    release_session_state, growing executor storage linearly in the round
    count at corpus scale).

    A checkpointed DataFrame's logical plan is a LogicalRDD over the
    materialized internal RDD; unpersisting THAT RDD (not ``df.rdd``,
    which is a derived conversion pipeline) frees the blocks. Safe only
    when the caller guarantees the relation is never computed again —
    localCheckpoint truncates lineage, so a post-release recompute would
    raise. Best-effort (broad except): the py4j plan walk touches Spark
    internals, and a failed release only means the pre-r15 accumulation
    behavior, never a wrong result. The first failure in a process emits
    one RuntimeWarning so the fallback is visible."""
    global _release_warned
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception as e:
        if not _release_warned:
            _release_warned = True
            warnings.warn(
                "release_local_checkpoint could not release checkpoint blocks "
                f"({type(e).__name__}); they stay resident until "
                "release_session_state",
                RuntimeWarning,
                stacklevel=2,
            )


def release_session_state(spark: SparkSession) -> None:
    """Drop session state the query library may have pinned: cached
    relations (the dedup/curation family caches its packed token sets —
    CacheManager holds those for the session lifetime) and
    localCheckpoint RDD blocks from the iterative operators.

    Contract: long-lived sessions that run many library queries own cache
    cleanup and should call this between logical units of work (bench.py
    calls it between every query; a streaming/serving caller should do
    the same at batch boundaries). Python gc runs FIRST because dead
    py4j handles pin their JVM counterparts; the final System.gc() lets
    the ContextCleaner reap broadcast/shuffle blocks a 128 GiB driver
    heap would otherwise never collect.
    """
    import gc

    gc.collect()
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:
        pass
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
