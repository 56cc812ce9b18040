"""Determinism under repartitioning: every declared query must return the
SAME rows regardless of shuffle-partition count.

This is the distributed-correctness failure class the DuckDB oracle
differential can only catch by luck: an unsorted collect_list, a first()
without an ordering, a float sum whose grouping is partition-dependent, or
a row_number over a non-total order all produce results that depend on how
the data happens to be split. Running each query at 32 and again at 7
shuffle partitions (coprime, so group-to-partition assignments genuinely
differ) and comparing full sorted row sets pins partition-independence for
the whole surface.

Mechanics matter here: every query fn calls tune() internally, which
applies RUNTIME_CONF (including shuffle.partitions=32) while BUILDING the
plan — so run B patches RUNTIME_CONF itself, making tune() apply 7. That
covers the iterative operators too (CC/PageRank/LPA execute their rounds
inside fn()), not just the lazy tail. The first version of this test set
the session conf before fn() and was silently reset to 32 by tune() —
vacuously green, caught in the round-3 self-review; the meta-test below
keeps the harness honest.

Float cells are compared exactly — the declared queries route float
aggregates through decimal(38,6) casts or round() precisely so that
partition count cannot perturb them; a tolerance here would mask the very
bug class this test exists for.
"""

from __future__ import annotations

import os

from project_1_greentech_logistics_data_pipeline_spark import session as _session

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _canon(rows):
    def key(t):
        return tuple((x is None, str(x)) for x in t)

    return sorted((tuple(r) for r in rows), key=key)


def _run_at(spark, fn, n_partitions: str):
    """Build AND collect a query with shuffle.partitions pinned, surviving
    the tune() every query fn performs internally."""
    prev = _session.RUNTIME_CONF["spark.sql.shuffle.partitions"]
    _session.RUNTIME_CONF["spark.sql.shuffle.partitions"] = n_partitions
    spark.conf.set("spark.sql.shuffle.partitions", n_partitions)
    try:
        return _canon(fn(spark, SF_DIR).collect())
    finally:
        _session.RUNTIME_CONF["spark.sql.shuffle.partitions"] = prev
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_harness_detects_partition_dependence(spark):
    """Meta-check that the A/B harness is not vacuous: the pinned conf must
    actually reach physical planning, i.e. a plain shuffle produces 32 vs 7
    partitions under the two settings (AQE coalescing disabled so the raw
    setting is observable)."""
    from pyspark.sql import functions as F

    def shuffled_partitions():
        # rebuilt per call: a DataFrame caches its physical plan after the
        # first action, freezing the partition count it planned with —
        # the same reason _run_at rebuilds the query for each setting
        df = spark.range(0, 10000).withColumn("k", F.col("id") % 100)
        return df.repartition("k").groupBy("k").count().rdd.getNumPartitions()

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        n32 = shuffled_partitions()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        n7 = shuffled_partitions()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert (n32, n7) == (32, 7)  # the conf genuinely changes the shuffle


def test_results_independent_of_shuffle_partitions(spark, surface_cache):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    diffs = []
    for name, fn in qs.items():
        # the 32-partition baseline comes from the session SurfaceCache:
        # identical code path (fn under tune()'s default 32) — only the
        # 7-partition run must execute fresh (r15 suite-wall-time pass)
        a = _canon(surface_cache.rows(SF_DIR, name))
        b = _run_at(spark, fn, "7")
        if a != b:
            first = next(
                (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                min(len(a), len(b)),
            )
            diffs.append(
                f"{name}: {len(a)} vs {len(b)} rows; first divergence at "
                f"row {first}: {a[first] if first < len(a) else '<none>'} != "
                f"{b[first] if first < len(b) else '<none>'}"
            )
    assert not diffs, "partition-dependent results:\n" + "\n".join(diffs)


def test_surface_cache_fill_ignores_leaked_conf(spark, surface_cache, monkeypatch):
    """A conf a test leaks must not reach a cached baseline: a cold fill runs
    under the session defaults and the leaked value is back afterwards."""
    import __spark_entry__ as entrymod

    aqe = "spark.sql.adaptive.enabled"
    seen = []

    def probe(s, sf_dir):
        seen.append(s.conf.get(aqe))
        return s.range(1)

    monkeypatch.setattr(entrymod, "queries", lambda: {"probe": probe})
    cache = type(surface_cache)(spark)  # fresh memo: the fill must be cold
    default, prev = spark.newSession().conf.get(aqe), spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        cache.entry(SF_DIR, "probe")
        after = spark.conf.get(aqe)
    finally:
        spark.conf.set(aqe, prev)
    assert default == "true"
    assert seen == [default]
    assert after == "false"
