from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from project_1_greentech_logistics_data_pipeline_spark.session import get_spark

    # 4 cores: A/B-measured vs local[8] on the heaviest two test files
    # (8:50 vs 9:34 — more cores add task overhead on the tiny test sfs,
    # r15). Override with SPARK_GRAFT_TEST_CPUS for other machines.
    import os

    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    s = get_spark("p1gl-tests", master=f"local[{cpus}]")
    yield s
    s.stop()


class SurfaceCache:
    """Session-scoped memo of each declared query's (columns, schema,
    collected rows) per sf dir, computed lazily under the product's
    default tune() config (shuffle.partitions=32) — exactly the state
    every full-surface test previously recomputed for itself.

    Why (r15, VERDICT item 2): the suite ran the ENTIRE query surface
    4-5 separate times (oracle differential, vacuous-result sweep x2
    sfs, -0.0 sweep, determinism baseline, scalar-schema sweep), and the
    driver's pytest budget cut the 29-minute run off. One collect per
    (query, sf) now serves every consumer; each test keeps its own
    assertions at full strength. The determinism test still re-executes
    everything fresh at 7 partitions — only its 32-partition BASELINE
    (identical config, identical code path) comes from here. Scope:
    in-process test infrastructure only — bench.py and the driver's
    oracle check execute queries from parquet as before.

    Two documented hazards (review-caught, r15): (1) the every-25
    cache-fill release below calls release_session_state, which
    unpersists ALL persistent RDDs in the shared session — a test must
    not hold a live checkpointed/cached DataFrame across a
    surface_cache access on a cold key (none of the current consumers
    do; they read plain Python rows). (2) the memo pins every consumed
    query's collected rows for the session — a few MB per sf at the
    test scale factors; pointing ORACLE_SF_DIR at a much larger sf
    grows driver RSS accordingly."""

    def __init__(self, spark):
        self._spark = spark
        self._memo: dict = {}
        self._since_release = 0
        # the confs a fresh session of this SparkContext starts with
        # (SparkSession.builder confs included): every cold fill runs under
        # exactly these, so a conf a test leaked cannot poison a baseline
        self._defaults = spark.newSession().conf.getAll

    def _set_confs(self, confs: dict) -> None:
        current = self._spark.conf.getAll
        for k in current.keys() - confs.keys():
            self._spark.conf.unset(k)
        for k, v in confs.items():
            if current.get(k) != v:
                self._spark.conf.set(k, v)

    def entry(self, sf_dir: str, name: str):
        key = (sf_dir, name)
        if key not in self._memo:
            import __spark_entry__ as entrymod

            from project_1_greentech_logistics_data_pipeline_spark.session import (
                release_session_state,
            )

            before = self._spark.conf.getAll
            self._set_confs(self._defaults)
            try:
                df = entrymod.queries()[name](self._spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
            finally:
                self._set_confs(before)
            self._memo[key] = (list(df.columns), df.schema, rows)
            # unpin cache/localCheckpoint blocks the iterative family
            # leaves behind (the negzero test's every-25 cadence)
            self._since_release += 1
            if self._since_release >= 25:
                release_session_state(self._spark)
                self._since_release = 0
        return self._memo[key]

    def rows(self, sf_dir: str, name: str):
        return self.entry(sf_dir, name)[2]


@pytest.fixture(scope="session")
def surface_cache(spark):
    return SurfaceCache(spark)
