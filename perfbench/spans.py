"""Tracing for the per-layer run.

Spans (name, start, end, parent, job-id range) are kept in memory and
written out once at the end of a run. Layers are timed from the benchmark
side only: public functions are rebound at the module attribute their
callers resolve, so the engine itself is not edited. Spark work is
attributed to a span through the range of job ids submitted while it was
open (the workload is a single closed-loop client, so no other jobs
interleave) and read back from the Spark driver's status store.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Spark:
    """Counters read from the Spark driver JVM: next job id and per-stage metrics
    from the status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def next_job_id(self) -> int:
        # py4j hands the AtomicInteger back as a Python int
        return int(self._jsc.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_stats(self, lo: int, hi: int) -> dict:
        """Totals over jobs [lo, hi): jobs, completed stages and tasks, task
        run time, GC time, shuffle and spill bytes."""
        out = dict(jobs=0, stages=0, tasks=0, task_s=0.0, gc_s=0.0,
                   shuffle_bytes=0, spill_bytes=0)
        if hi <= lo:
            return out
        self.settle()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for jid in range(lo, hi):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped, reused shuffle)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out


class Tracer:
    def __init__(self, spark: Spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = dict(name=name, parent=parent, attrs=attrs)
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["job_lo"] = self.spark.next_job_id()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self.spark.next_job_id()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a copy that records a span per call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._wrapped.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        """Restore every function ``wrap`` rebound."""
        while self._wrapped:
            module, attr, orig = self._wrapped.pop()
            setattr(module, attr, orig)

    def stats(self, rec: dict) -> dict:
        return self.spark.job_stats(rec["job_lo"], rec["job_hi"])

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            dict(id=i, name=s["name"], parent=s["parent"],
                 start_s=round(s["start"] - t0, 6), end_s=round(s["end"] - t0, 6),
                 jobs=[s["job_lo"], s["job_hi"]], **s["attrs"])
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` per streaming run id."""

    def __init__(self):
        self.started: list[str] = []
        self.batches: dict[str, list[dict]] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))
            self._cv.notify_all()

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.batches.setdefault(str(p.runId), []).append(
                dict(batch_id=p.batchId, rows=p.numInputRows, duration_ms=dict(p.durationMs))
            )
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, k: int, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Progress records of the ``k``-th started query (0-based) once
        ``n`` of them have arrived; events reach Python asynchronously,
        possibly after the query has stopped."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.started) > k, timeout_s):
                return []
            run_id = self.started[k]
            self._cv.wait_for(lambda: len(self.batches.get(run_id, [])) >= n, timeout_s)
            return list(self.batches.get(run_id, []))
