"""The traced run: one more pass over the workload's units with spans
recorded around every layer boundary, reduced to per-layer metrics.

``operators.*`` and ``spark.*`` are totals over the traced pass; the other
layer timings are medians over the calls in it. A metric of a layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

import spans

OPERATOR_EXEC = ("relational", "classics2", "classics3", "analytics", "skew")
OPERATOR_BUILD = ("dedup", "similarity", "bpe")

PER_LAYER = (
    [f"operators.{m}.exec_s" for m in OPERATOR_EXEC]
    + [f"operators.{m}.build_s" for m in OPERATOR_BUILD]
    + [
        "readers.parse_s", "pipeline.gate_s", "pipeline.jobs", "writers.write_s",
        "writers.bytes_per_event", "streaming.add_batch_s", "streaming.jobs_per_batch",
        "streaming.engine_s", "session.start_s", "registry.collect_s", "session.release_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.eager_jobs", "spark.task_s",
        "spark.gc_s", "spark.shuffle_mb", "spark.spill_mb", "spark.busy_ratio",
        "trace.overhead_s",
    ]
)

UNITS = {
    "pipeline.jobs": "count", "streaming.jobs_per_batch": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.eager_jobs": "count",
    "writers.bytes_per_event": "B", "spark.shuffle_mb": "MB", "spark.spill_mb": "MB",
    "spark.busy_ratio": "1",
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def install(tracer: spans.Tracer, wl) -> None:
    """Rebind the public functions at the names their callers resolve."""
    from project_1_greentech_logistics_data_pipeline_spark import pipeline

    tracer.wrap(pipeline, "quality_gate", "pipeline.quality_gate")
    tracer.wrap(pipeline, "write_table", "writers.write_table")
    tracer.wrap(wl, "release_session_state", "session.release_session_state")


def traced_pass(run, w, wl):
    """One pass with spans recorded; the spans are dumped to
    ``perfbench-out/trace-<workload>-seed<seed>.json``."""
    tracer = spans.Tracer(spans.Spark(run.spark))
    install(tracer, wl)
    p = wl.Pass()
    try:
        with tracer.span("pass") as rec:
            w.run_pass(p, tracer)
    finally:
        tracer.unwrap()
    rec["attrs"]["wall_s"] = p.wall_s
    out = os.path.join(run.root, "perfbench-out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"trace-{run.args.workload}-seed{run.args.seed}.json"))
    return tracer, rec, p


def _children(tracer, rec, name):
    i = tracer.spans.index(rec)
    return [s for s in tracer.spans if s["parent"] == i and s["name"] == name]


def per_layer(traced, untraced, registry_s: float, start_s: float) -> dict:
    """Per-layer metrics from the traced pass; ``untraced`` are the passes
    that bracket it, for the tracing overhead."""
    tracer, rec, p = traced
    i = tracer.spans.index(rec)
    mine = [s for s in tracer.spans[i + 1:] if s["start"] <= rec["end"]]

    def durs(name):
        return [s["end"] - s["start"] for s in mine if s["name"] == name]

    m = {}
    for mod in OPERATOR_EXEC:
        m[f"operators.{mod}.exec_s"] = sum(durs(f"operators.{mod}"))
    for mod in OPERATOR_BUILD:
        m[f"operators.{mod}.build_s"] = sum(
            s["attrs"]["build_s"] for s in mine if s["name"] == f"operators.{mod}"
        )

    batches = [s for s in mine if s["name"] == "pipeline.run_batch"]
    m["readers.parse_s"] = _med(durs("readers.parse"))
    m["pipeline.gate_s"] = _med(durs("pipeline.quality_gate"))
    m["pipeline.jobs"] = _med([b["job_hi"] - b["job_lo"] for b in batches])
    m["writers.write_s"] = _med(
        [sum(s["end"] - s["start"] for s in _children(tracer, b, "writers.write_table"))
         for b in batches]
    )
    m["writers.bytes_per_event"] = _med(
        [b["attrs"]["bytes"] / b["attrs"]["events"] for b in batches if b["attrs"].get("events")]
    )
    drains = [s for s in mine if s["name"] == "streaming.run_stream_pipeline"]
    progress = [b for d in drains for b in d["attrs"].get("progress", [])]
    m["streaming.add_batch_s"] = _med([b["duration_ms"]["addBatch"] / 1000.0 for b in progress])
    m["streaming.jobs_per_batch"] = _med(
        [(d["job_hi"] - d["job_lo"]) / len(d["attrs"]["progress"])
         for d in drains if d["attrs"].get("progress")]
    )
    m["streaming.engine_s"] = _med(
        [(b["duration_ms"]["triggerExecution"] - b["duration_ms"]["addBatch"]) / 1000.0
         for b in progress]
    )
    m["session.start_s"] = start_s
    m["registry.collect_s"] = registry_s
    m["session.release_s"] = _med(durs("session.release_session_state"))

    st = tracer.stats(rec)
    dur = rec["end"] - rec["start"]
    m["spark.jobs"] = st["jobs"]
    m["spark.stages"] = st["stages"]
    m["spark.tasks"] = st["tasks"]
    m["spark.eager_jobs"] = sum(s["job_hi"] - s["job_lo"] for s in mine if s["name"] == "build")
    m["spark.task_s"] = st["task_s"]
    m["spark.gc_s"] = st["gc_s"]
    m["spark.shuffle_mb"] = st["shuffle_bytes"] / 2**20
    m["spark.spill_mb"] = st["spill_bytes"] / 2**20
    m["spark.busy_ratio"] = st["task_s"] / (dur * len(os.sched_getaffinity(0)))
    untraced_wall = statistics.mean(u.wall_s for u in untraced)
    m["trace.overhead_s"] = p.wall_s - untraced_wall
    return dict(
        metrics={k: {"value": float(m[k]), "unit": UNITS.get(k, "s")} for k in PER_LAYER},
        traced_wall_s=p.wall_s,
        untraced_wall_s=untraced_wall,
        spark=st,
        not_exercised=sorted(k for k, v in m.items() if v == 0),
        errors=p.errors[:20],
    )
