"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipelines,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Builds a Spark session on local[<cpus>],
makes the workload's inputs from the seed, runs one untimed warm pass over
every unit (checking outputs), then the workload's fixed number of timed
passes (``PASSES``; ``--seconds`` is accepted but does not change the work,
so a faster engine does the same work in less time). Prints a line that
describes the run, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.perfbench-work/`` (removed at exit)
and, for traced runs, the span dump under ``perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

DRIVER_MEMORY = "3g"
# Timed passes per run, fixed so every run times the same units: two
# samples of every unit, 14 units in all on pipelines and 16 on analytics.
PASSES = {"pipelines": 2, "analytics": 2}
WORKLOADS = list(PASSES)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={work}/spark-local",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
            f"--driver-java-options '{java_opts}'",
            "pyspark-shell",
        ]
    )


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Peak summed resident set size of the Python process and its JVM over a
    block, sampled every 50 ms."""

    def __init__(self, pids: list[int], every_s: float = 0.05):
        self.pids, self.every_s = pids, every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(_rss_kb(p) for p in self.pids) / 1024.0)

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args):
        self.args = args
        self.root = ROOT
        self.work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
        self.spark = None
        self.gateway_proc = None

    # -- session ------------------------------------------------------------

    def start_session(self):
        from project_1_greentech_logistics_data_pipeline_spark import session

        t = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t
        self.gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def stop_session(self):
        if self.spark is None:
            return
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            proc = self.gateway_proc
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the launcher exits when stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()

    def describe_env(self) -> dict:
        import pyspark

        conf = self.spark.conf
        return dict(
            cpus=_cpus(),
            master=self.spark.sparkContext.master,
            default_parallelism=self.spark.sparkContext.defaultParallelism,
            shuffle_partitions=conf.get("spark.sql.shuffle.partitions"),
            aqe=conf.get("spark.sql.adaptive.enabled"),
            spark=self.spark.version,
            pyspark=pyspark.__version__,
            python=platform.python_version(),
            driver_memory=self.spark.sparkContext.getConf().get("spark.driver.memory"),
        )

    # -- main ---------------------------------------------------------------

    def main(self) -> tuple[dict, dict]:
        import workloads as wl

        a = self.args
        os.makedirs(self.work, exist_ok=True)
        _configure_env(self.work, _cpus())
        t_setup = time.perf_counter()
        self.start_session()
        import spans

        self.listener = spans.ProgressListener()
        self.spark.streams.addListener(self.listener)
        if a.workload == "pipelines":
            w = wl.Pipelines(self.spark, self.work, a.seed, self.listener)
        else:
            w = wl.Queries(self.spark, self.work, a.seed)
        t = time.perf_counter()
        inputs = w.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        w.load_registry()
        registry_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = wl.Pass()
        w.warm(warm)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        warm_by_kind: dict[str, float] = {}
        for u in warm.units:
            warm_by_kind[u.kind] = round(warm_by_kind.get(u.kind, 0.0) + u.seconds, 3)
        setup_parts = dict(session_s=self.session_start_s, inputs_s=prepare_s,
                           registry_s=registry_s, warm_s=warm_s,
                           warm_release_s=sum(warm.release_s), warm_units_s=warm_by_kind)

        # a traced run reports no end-to-end metrics: one untraced pass
        # before the traced one is enough to bracket the tracing overhead
        n_pass = 1 if a.trace else PASSES[a.workload]
        with RssSampler([os.getpid(), self.jvm_pid]) as rss:
            passes = [wl.Pass() for _ in range(n_pass)]
            for p in passes:
                w.run_pass(p)
        result = self._end_to_end(warm, passes, setup_s, rss.peak_mb)
        describe = dict(
            workload=a.workload, seed=a.seed, inputs=inputs, env=self.describe_env(),
            passes=n_pass, unit_order=w.unit_names(), setup=setup_parts,
        )
        describe.update(result.pop("describe"))
        if a.trace:
            import tracing

            # one traced pass between two untraced ones: the overhead is the
            # traced wall minus their mean, so warm-up drift cancels
            traced = tracing.traced_pass(self, w, wl)
            after = wl.Pass()
            w.run_pass(after)
            layer = tracing.per_layer(
                traced, [passes[-1], after], registry_s, self.session_start_s
            )
            result["metrics"] = layer.pop("metrics")
            extra = traced[2].units + after.units
            result["attempted"] += len(extra)
            result["failed"] += sum(not u.ok for u in extra)
            result["correct"] = result["correct"] and not layer["errors"] and not after.errors
            describe["trace"] = layer
        return describe, result

    def _end_to_end(self, warm, passes, setup_s, peak_rss_mb) -> dict:
        import stats

        units = [u for p in passes for u in p.units]
        attempted = len(units) + len(warm.units)
        failed = sum(not u.ok for u in units) + sum(not u.ok for u in warm.units)
        lat = [u.seconds for u in units if u.ok] or [0.0]
        by_kind: dict[str, list[float]] = {}
        for u in units:
            if u.ok:
                by_kind.setdefault(u.kind, []).append(u.seconds)
        tail_p, tail_v = stats.tail(lat)
        wall = sum(p.wall_s for p in passes)
        events = sum(p.events for p in passes)
        events_s = sum(p.events_s for p in passes)
        m = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "geomean_s": (stats.geomean_of_medians(by_kind) if by_kind else 0.0, "s"),
            "events_per_s": (events / events_s if events_s > 0 else 0.0, "1/s"),
        }
        errors = warm.errors + [e for p in passes for e in p.errors]
        return dict(
            correct=failed == 0 and not errors,
            attempted=attempted,
            failed=failed,
            metrics={k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            describe=dict(
                # not an end-to-end metric: it follows the JVM heap's growth
                # and spread about 25% across runs on one host
                peak_rss_mb=peak_rss_mb,
                n_samples=len(lat), tail_percentile=tail_p, tail_s=tail_v,
                tail_beyond=stats.beyond(lat, tail_v),
                fail_ratio=stats.fail_ratio(attempted, failed),
                median_by_kind={k: round(_median(v), 4) for k, v in by_kind.items()},
                samples_by_kind={k: [round(x, 3) for x in v] for k, v in by_kind.items()},
                errors=errors[:20],
            ),
        )


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    run = Run(args)
    try:
        describe, result = run.main()
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    print(json.dumps({"describe": describe}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
