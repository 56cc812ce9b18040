"""The benchmark's workloads.

Each workload prepares its inputs from the seed, runs one untimed warm pass
over every unit it times (checking outputs), and then runs whole passes
over the same units. A unit is one ``run_batch`` call, one streaming
micro-batch (its trigger execution), or one query (plan build plus noop
write). ``run_pass`` fills a ``Pass`` with the unit records; given a
tracer it also records spans around each layer boundary.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import itertools
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from project_1_greentech_logistics_data_pipeline_spark import pipeline, registry, testing
from project_1_greentech_logistics_data_pipeline_spark.session import release_session_state
from project_1_greentech_logistics_data_pipeline_spark.sources import readers
from project_1_greentech_logistics_data_pipeline_spark.streaming import jobs as streaming_jobs

import datagen
import spans
import stats


@dataclass
class Unit:
    kind: str  # query name, "run_batch" or "micro_batch"
    seconds: float
    ok: bool


@dataclass
class Pass:
    units: list[Unit] = field(default_factory=list)
    wall_s: float = 0.0  # units plus the end-of-pass release, no checks
    events: int = 0  # input rows of correct units that count events
    events_s: float = 0.0  # summed seconds of those units
    release_s: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def merge(self, other: "Pass") -> None:
        self.units += other.units
        self.wall_s += other.wall_s
        self.events += other.events
        self.events_s += other.events_s
        self.release_s += other.release_s
        self.errors += other.errors


def warm_concurrently(spark, p: Pass, tasks) -> None:
    """Run warm-up tasks (each filling its own Pass) on one thread per core,
    then release session state once. The warm pass only has to execute
    every unit once before timing starts; overlapping the units' first,
    compile-bound executions keeps set-up short."""
    parts = []
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        futures = []
        for task in tasks:
            part = Pass()
            parts.append(part)
            futures.append(pool.submit(task, part))
        for f in futures:
            f.result()
    for part in parts:
        p.merge(part)
    _release(spark, p)


def _release(spark, p: Pass) -> None:
    """``release_session_state`` once at the end of a pass: it drops the
    cached and checkpointed blocks units pin, so it never runs while units
    run concurrently."""
    t = time.perf_counter()
    release_session_state(spark)
    sec = time.perf_counter() - t
    p.release_s.append(sec)
    p.wall_s += sec


def _nullspan():
    return contextlib.nullcontext({"attrs": {}})


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Telemetry:
    """Reference-parity ETL: one ``run_batch`` over a multi-file raw batch,
    then a file-stream drain of a backlog of small raw files through
    ``run_stream_pipeline`` (availableNow, one file per trigger)."""

    BATCH_EVENTS, BATCH_FILES = 20_000, 8
    STREAM_FILES, STREAM_EVENTS_PER_FILE = 2, 1000
    WARM_ROUNDS = 2

    def __init__(self, spark, work: str, seed: int, listener: spans.ProgressListener):
        self.spark, self.work, self.seed = spark, work, seed
        self.listener = listener
        self.n_drains = 0
        self.output_ids = itertools.count(1)  # next() is atomic, so warm threads can share it
        self.batch_raw = os.path.join(work, "raw_batch")
        self.stream_raw = os.path.join(work, "raw_stream")

    def prepare(self) -> dict:
        exp_b = testing.write_raw_batches(
            self.batch_raw, n_events=self.BATCH_EVENTS, n_files=self.BATCH_FILES, seed=self.seed
        )
        exp_s = testing.write_raw_batches(
            self.stream_raw,
            n_events=self.STREAM_FILES * self.STREAM_EVENTS_PER_FILE,
            n_files=self.STREAM_FILES,
            seed=self.seed + 1,
        )
        # the corrupt line routes to rejected, so it counts there too
        self.expect_batch = dict(
            curated=exp_b["curated"],
            rejected=exp_b["rejected"] + exp_b["n_corrupt_lines"],
            corrupt=exp_b["n_corrupt_lines"],
        )
        self.expect_stream = dict(
            curated=exp_s["curated"], rejected=exp_s["rejected"] + exp_s["n_corrupt_lines"]
        )
        self.stream_triggers = len(os.listdir(self.stream_raw))
        return dict(
            batch_events=exp_b["n_events"], batch_files=self.BATCH_FILES + 1,
            stream_events=exp_s["n_events"], stream_files=self.stream_triggers,
        )

    def _out(self) -> tuple[str, int]:
        i = next(self.output_ids)
        return os.path.join(self.work, f"out_{i}"), i

    def unit_names(self) -> list[str]:
        return ["run_batch", "micro_batch"]

    def run_pass(self, p: Pass, tracer: spans.Tracer | None = None) -> None:
        self._batch(p, tracer)
        self._stream(p, tracer)

    def warm_tasks(self) -> list:
        """The batch path and the stream path as two warm tasks, each run
        ``WARM_ROUNDS`` times: after a single untimed run the first timed
        ``run_batch`` and drain were still 20-50% slower than the second."""

        def repeat(step, p: Pass) -> None:
            for _ in range(self.WARM_ROUNDS):
                step(p)

        return [functools.partial(repeat, self._batch), functools.partial(repeat, self._stream)]

    def _batch(self, p: Pass, tracer: spans.Tracer | None = None) -> None:
        out, _ = self._out()
        t = time.perf_counter()
        try:
            with tracer.span("pipeline.run_batch") if tracer else _nullspan() as rec:
                res = pipeline.run_batch(self.spark, self.batch_raw, out)
            sec = time.perf_counter() - t
            got = dict(curated=res.curated_count, rejected=res.rejected_count,
                       corrupt=res.corrupt_count)
            misses = stats.routing_misses(self.expect_batch, got)
        except Exception as e:  # a failed unit is counted, not fatal
            sec, got, misses = time.perf_counter() - t, {}, [repr(e)]
        p.wall_s += sec
        p.errors += [f"run_batch {m}" for m in misses]
        events = got.get("curated", 0) + got.get("rejected", 0)
        p.units.append(Unit("run_batch", sec, not misses))
        if not misses:
            p.events += events
            p.events_s += sec
        if tracer:
            rec["attrs"]["bytes"] = _du(out)
            rec["attrs"]["events"] = events
            self.parse_only(tracer)
        shutil.rmtree(out, ignore_errors=True)

    def parse_only(self, tracer: spans.Tracer) -> None:
        """The reader alone: raw JSON parse into a noop sink."""
        with tracer.span("readers.parse"):
            readers.read_raw_telemetry(self.spark, self.batch_raw).write.format(
                "noop"
            ).mode("overwrite").save()

    def _stream(self, p: Pass, tracer: spans.Tracer | None = None) -> None:
        out, i = self._out()
        ckpt = os.path.join(self.work, f"ckpt_{i}")
        k, n = self.n_drains, self.stream_triggers
        self.n_drains += 1
        progress, got, misses = [], {}, []
        t = time.perf_counter()
        try:
            with tracer.span("streaming.run_stream_pipeline") if tracer else _nullspan() as rec:
                try:
                    res = streaming_jobs.run_stream_pipeline(
                        self.spark, self.stream_raw, out, ckpt, max_files_per_trigger=1
                    )
                finally:
                    p.wall_s += time.perf_counter() - t
            progress = self.listener.wait_for(k, res["batches"])
            got = dict(
                curated=self.spark.read.parquet(f"{out}/curated").count(),
                rejected=self.spark.read.parquet(f"{out}/rejected").count(),
            )
            misses = stats.routing_misses(self.expect_stream, got)
            if len(progress) != n:
                misses.append(f"{len(progress)} micro-batches, expected {n}")
        except Exception as e:
            misses.append(repr(e))
        p.errors += [f"stream {m}" for m in misses]
        secs = [b["duration_ms"]["triggerExecution"] / 1000.0 for b in progress]
        p.units += [Unit("micro_batch", sec, not misses) for sec in secs]
        # a drain that reported fewer batches still attempted n of them
        p.units += [Unit("micro_batch", 0.0, False)] * max(0, n - len(progress))
        if not misses:
            p.events += got["curated"] + got["rejected"]
            p.events_s += sum(secs)
        rec["attrs"]["progress"] = progress
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# dsum-heavy TPC-H shapes, the Expand family, set operations and
# stage-heavy plans: the read-only analytics mix.
ANALYTICS = [
    "q01_pricing_summary",
    "q129_tpch_q20_dominant_supplier",
    "q10_agg_distinct",
    "q12_agg_cube",
    "q17_set_ops",
    "q87_tpch_q22_dormant_customers",
    "q179_chi_square_independence",
    "q205_join_size_forecast",
]
# One LLM-data curation query each from operators.bpe, .dedup, .similarity,
# longest first so the concurrent warm pass starts it first.
CURATION = [
    "q140_bpe_learn_merges",
    "q44_ngram_jaccard_neardup",
    "q48_knn_bruteforce",
]


def rows_checksum(rows, cols) -> str:
    """Order-insensitive checksum of a result (the oracle harness's row
    normalization, then a hash of the sorted rows)."""
    from tests.oracle_harness import _norm_rows

    return hashlib.sha256(repr(_norm_rows(cols, rows)).encode()).hexdigest()


class Queries:
    """Named queries over generated tables, in a fixed cycle whose start
    the seed rotates. A name missing from ``registry.queries()`` is a
    failed unit on every pass."""

    SF = 0.01
    DATA_SEED = 42

    def __init__(self, spark, work: str, seed: int, names=ANALYTICS, count_events=True):
        self.spark, self.work, self.seed = spark, work, seed
        self.count_events = count_events  # add scanned table rows to Pass.events
        self.warm_order = list(names)  # the same for every seed
        r = seed % len(names)
        self.names = self.warm_order[r:] + self.warm_order[:r]
        self.data = os.path.join(work, "data")

    def prepare(self) -> dict:
        self.rows = datagen.write_tables(self.data, self.SF, self.DATA_SEED)
        return dict(sf=self.SF, rows=self.rows)

    def load_registry(self) -> None:
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()
        self.checksums: dict[str, str] = {}
        self.events: dict[str, int] = {}

    def unit_names(self) -> list[str]:
        return self.names

    def _input_rows(self, df) -> int:
        tables = {os.path.basename(f).split(".parquet")[0] for f in df.inputFiles()}
        return sum(self.rows.get(t, 0) for t in tables)

    def warm(self, p: Pass) -> None:
        warm_concurrently(self.spark, p, self.warm_tasks())

    def warm_tasks(self) -> list:
        return [functools.partial(self._warm_one, name) for name in self.warm_order]

    def _warm_one(self, name: str, p: Pass) -> None:
        """Run one unit, then collect its result and check it against the
        DuckDB oracle, or record the checksum of a rows-only result for the
        timed passes to match."""
        from tests import oracle_harness

        df = self._unit(name, p, None)
        if df is None:
            return
        try:
            self.events[name] = self._input_rows(df)
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
            if name in self.oracles:
                oracle_harness.compare(
                    self.spark, self.data, None, self.oracles[name], name,
                    cached=(cols, df.schema, rows),
                )
            else:
                self.checksums[name] = rows_checksum(rows, cols)
        except Exception as e:
            p.errors.append(f"{name} check: {str(e)[:300]}")
            p.units[-1].ok = False

    def run_pass(self, p: Pass, tracer: spans.Tracer | None = None) -> None:
        for name in self.names:
            df = self._unit(name, p, tracer)
            if df is not None and name in self.checksums:
                try:
                    cols = list(df.columns)
                    got = rows_checksum([tuple(r) for r in df.collect()], cols)
                    if got != self.checksums[name]:
                        raise ValueError("checksum differs from the warm pass")
                except Exception as e:
                    p.errors.append(f"{name} check: {str(e)[:300]}")
                    p.units[-1].ok = False
            if p.units[-1].ok and self.count_events:
                p.events += self.events.get(name, 0)
                p.events_s += p.units[-1].seconds
        _release(self.spark, p)

    def _unit(self, name: str, p: Pass, tracer):
        """One query: plan build, then a noop write. Returns the DataFrame,
        or None when the unit failed."""
        fn = self.fns.get(name)
        if fn is None:
            p.errors.append(f"{name}: not in registry.queries()")
            p.units.append(Unit(name, 0.0, False))
            return None
        mod = fn.__module__.rsplit(".", 1)[-1]
        t = time.perf_counter()
        try:
            with tracer.span(f"operators.{mod}", query=name) if tracer else _nullspan() as rec:
                with tracer.span("build") if tracer else _nullspan():
                    df = fn(self.spark, self.data)
                tb = time.perf_counter()
                with tracer.span("write") if tracer else _nullspan():
                    df.write.format("noop").mode("overwrite").save()
            rec["attrs"]["build_s"] = tb - t
            sec = time.perf_counter() - t
            p.units.append(Unit(name, sec, True))
        except Exception as e:
            sec = time.perf_counter() - t
            p.errors.append(f"{name}: {str(e)[:300]}")
            p.units.append(Unit(name, sec, False))
            df = None
        p.wall_s += sec
        return df


class Pipelines:
    """Everything that writes or builds eagerly: the telemetry batch and
    stream ETL, then the curation queries (whose plan construction runs
    Spark jobs)."""


    def __init__(self, spark, work: str, seed: int, listener: spans.ProgressListener):
        self.telemetry = Telemetry(spark, work, seed, listener)
        self.curation = Queries(spark, work, seed, CURATION, count_events=False)

    def prepare(self) -> dict:
        return dict(telemetry=self.telemetry.prepare(), curation=self.curation.prepare())

    def load_registry(self) -> None:
        self.curation.load_registry()

    def unit_names(self) -> list[str]:
        return self.telemetry.unit_names() + self.curation.unit_names()

    def warm(self, p: Pass) -> None:
        warm_concurrently(self.telemetry.spark, p,
                          self.telemetry.warm_tasks() + self.curation.warm_tasks())

    def run_pass(self, p: Pass, tracer: spans.Tracer | None = None) -> None:
        self.telemetry.run_pass(p, tracer)
        self.curation.run_pass(p, tracer)
