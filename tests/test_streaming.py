"""Structured Streaming tests: exactly-once file processing across restarts
(the behavior the reference hand-rolls with S3 listing + XCom, SURVEY §2.8),
and event-time watermark windows.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from project_1_greentech_logistics_data_pipeline_spark import testing
from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
    run_stream_pipeline,
    sessionized_counts,
    windowed_event_counts,
)


def test_stream_pipeline_exactly_once_resume(spark, tmp_path):
    raw = tmp_path / "raw"
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    exp1 = testing.write_raw_batches(
        raw, n_events=120, n_files=3, seed=1, include_corrupt_line=False
    )

    run_stream_pipeline(spark, str(raw), out, ckpt)
    curated = spark.read.parquet(f"{out}/curated")
    rejected = spark.read.parquet(f"{out}/rejected")
    assert curated.count() == exp1["curated"]
    assert rejected.count() == exp1["rejected"]

    # restart with NO new files: checkpoint must prevent reprocessing
    res2 = run_stream_pipeline(spark, str(raw), out, ckpt)
    assert spark.read.parquet(f"{out}/curated").count() == exp1["curated"]

    # add one new file; only it is processed, outputs accumulate
    extra = [testing.make_event(__import__("random").Random(99), i) for i in range(25)]
    (raw / "kafka_batch_extra.json").write_text(json.dumps(extra))
    run_stream_pipeline(spark, str(raw), out, ckpt)
    curated3 = spark.read.parquet(f"{out}/curated")
    exp_extra = testing.expected_routing(extra)
    assert curated3.count() == exp1["curated"] + exp_extra["curated"]
    assert (
        spark.read.parquet(f"{out}/rejected").count()
        == exp1["rejected"] + exp_extra["rejected"]
    )
    # lineage written per batch with conservation, same layers as run_batch
    tot = _lineage_totals(spark, out)
    assert tot["curated"] + tot["rejected"] == exp1["n_events"] + exp_extra["n_events"]
    assert tot["raw"] == tot["curated"] + tot["rejected"]
    assert tot["corrupt"] == 0
    lin = spark.read.parquet(f"{out}/validated")
    assert lin.filter(F.col("run_timestamp").isNull()).count() == 0


def _lineage_totals(spark, out):
    lin = spark.read.parquet(f"{out}/validated")
    return {
        r["layer"]: r["s"]
        for r in lin.groupBy("layer").agg(F.sum("record_count").alias("s")).collect()
    }


def test_stream_matches_batch(spark, tmp_path):
    """The stream's micro-batches run the batch pipeline: same curated and
    rejected rows, same lineage totals, and the quality gate stamps the
    stream's curated rows too."""
    from project_1_greentech_logistics_data_pipeline_spark.pipeline import run_batch

    raw = tmp_path / "raw"
    exp = testing.write_raw_batches(raw, n_events=120, n_files=3, seed=1)
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
    run_batch(spark, str(raw), batch_out)
    res = run_stream_pipeline(
        spark, str(raw), stream_out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert res["batches"] == len(list(raw.iterdir()))

    def rows(out, layer):
        df = spark.read.parquet(f"{out}/{layer}").drop(
            "processed_at", "processing_date", "batch_id"
        )
        return sorted(map(repr, df.select(sorted(df.columns)).collect()))

    for layer in ("curated", "rejected"):
        assert rows(stream_out, layer) == rows(batch_out, layer), layer

    lin_s = _lineage_totals(spark, stream_out)
    assert lin_s == _lineage_totals(spark, batch_out)
    assert lin_s["raw"] == lin_s["curated"] + lin_s["rejected"]
    assert lin_s["corrupt"] == exp["n_corrupt_lines"]

    statuses = spark.read.parquet(f"{stream_out}/curated").select("ge_validation_status").distinct()
    assert [r[0] for r in statuses.collect()] == ["PASSED"]


def _event_stream(spark, tmp_path, rows):
    d = tmp_path / "events_in"
    d.mkdir(exist_ok=True)
    (d / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return (
        spark.readStream.schema("ts timestamp, user_id long, event_type string, value double")
        .json(str(d))
    )


def test_windowed_counts_with_watermark(spark, tmp_path):
    rows = [
        {"ts": "2026-01-01 00:01:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": "2026-01-01 00:02:30", "user_id": 1, "event_type": "click", "value": 2.0},
        {"ts": "2026-01-01 00:07:00", "user_id": 2, "event_type": "view", "value": 3.0},
        {"ts": "2026-01-01 01:00:00", "user_id": 2, "event_type": "view", "value": 4.0},
    ]
    stream = _event_stream(spark, tmp_path, rows)
    q = (
        windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # the 01:00 row advances the watermark past the first two windows,
    # finalizing them in append mode
    assert got[("2026-01-01 00:00:00", "click")] == 2
    assert got[("2026-01-01 00:05:00", "view")] == 1


def test_session_windows(spark, tmp_path):
    rows = [
        {"ts": "2026-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"ts": "2026-01-01 00:10:00", "user_id": 1, "event_type": "a", "value": 1.0},
        # 40-minute gap -> new session
        {"ts": "2026-01-01 00:50:00", "user_id": 1, "event_type": "a", "value": 1.0},
        # watermark pusher
        {"ts": "2026-01-01 03:00:00", "user_id": 9, "event_type": "a", "value": 1.0},
    ]
    stream = _event_stream(spark, tmp_path, rows)
    q = (
        sessionized_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows_out = [
        (str(r["session_start"]), r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_counts WHERE user_id = 1").collect()
    ]
    assert ("2026-01-01 00:00:00", 1, 2) in rows_out
    assert ("2026-01-01 00:50:00", 1, 1) in rows_out


def test_stream_stream_interval_join(spark, tmp_path):
    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    impressions = [
        {"ts": "2026-01-01 00:00:00", "user_id": 1, "event_type": "imp", "value": 0.0},
        {"ts": "2026-01-01 00:30:00", "user_id": 2, "event_type": "imp", "value": 0.0},
        # watermark pusher
        {"ts": "2026-01-01 02:00:00", "user_id": 9, "event_type": "imp", "value": 0.0},
    ]
    conversions = [
        # within 10 min of user 1's impression -> joins
        {"ts": "2026-01-01 00:05:00", "user_id": 1, "event_type": "conv", "value": 1.0},
        # 25 min after user 2's impression -> outside the interval, dropped
        {"ts": "2026-01-01 00:55:00", "user_id": 2, "event_type": "conv", "value": 1.0},
        {"ts": "2026-01-01 02:00:00", "user_id": 9, "event_type": "conv", "value": 0.0},
    ]
    (tmp_path / "l").mkdir()
    (tmp_path / "r").mkdir()
    left = _event_stream(spark, tmp_path / "l", impressions)
    right = _event_stream(spark, tmp_path / "r", conversions)
    q = (
        stream_stream_interval_join(left, right, max_delay="10 minutes")
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["l_key"], str(r["l_ts"]), str(r["r_ts"]))
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    assert (1, "2026-01-01 00:00:00", "2026-01-01 00:05:00") in got
    assert not any(k == 2 for k, _, _ in got)  # outside max_delay


def test_dedup_within_watermark(spark, tmp_path):
    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        dedup_events_within_watermark,
    )

    rows = [
        {"ts": "2026-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"ts": "2026-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"ts": "2026-01-01 00:01:00", "user_id": 2, "event_type": "b", "value": 1.0},
        {"ts": "2026-01-01 01:00:00", "user_id": 3, "event_type": "c", "value": 1.0},
    ]
    stream = _event_stream(spark, tmp_path, rows)
    q = (
        dedup_events_within_watermark(stream, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT user_id, COUNT(*) AS n FROM dedup_wm GROUP BY user_id").collect()
    counts = {r["user_id"]: r["n"] for r in out}
    assert counts == {1: 1, 2: 1, 3: 1}  # the duplicate collapsed


def test_stream_static_enrichment_join(spark, tmp_path):
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table
    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        enrich_stream_with_dim,
    )

    rows = [
        {"ts": "2026-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"ts": "2026-01-01 00:01:00", "user_id": 2, "event_type": "b", "value": 2.0},
        {"ts": "2026-01-01 00:02:00", "user_id": 999999, "event_type": "c", "value": 3.0},
    ]
    stream = _event_stream(spark, tmp_path, rows)
    dim = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    q = (
        enrich_stream_with_dim(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["user_id"]: r["c_mktsegment"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert len(out) == 3
    assert out[1] is not None and out[2] is not None  # matched dim rows
    assert out[999999] is None  # left join keeps unmatched stream rows


def test_streaming_upsert_merge(spark, tmp_path):
    """foreachBatch + upsert_by_key: later micro-batches overwrite matched
    keys; unmatched keys persist; within-batch duplicate keys resolve to the
    max row."""
    import json as _json
    import os
    import time as _time

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        run_upsert_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    f1 = [
        {"truck_id": "T1", "fuel": 90.0, "seq": 1},
        {"truck_id": "T2", "fuel": 80.0, "seq": 1},
    ]
    f2 = [
        {"truck_id": "T2", "fuel": 70.0, "seq": 2},
        {"truck_id": "T2", "fuel": 75.0, "seq": 3},  # within-batch dup key
        {"truck_id": "T3", "fuel": 60.0, "seq": 2},
    ]
    (d / "a1.json").write_text("\n".join(_json.dumps(r) for r in f1))
    (d / "b2.json").write_text("\n".join(_json.dumps(r) for r in f2))
    now = _time.time()
    os.utime(d / "a1.json", (now - 60, now - 60))
    os.utime(d / "b2.json", (now, now))

    target = str(tmp_path / "tbl")
    q = run_upsert_stream(
        spark,
        str(d),
        target,
        str(tmp_path / "ckpt"),
        keys=["truck_id"],
        schema="truck_id string, fuel double, seq long",
    )
    q.awaitTermination()

    rows = {r["truck_id"]: (r["fuel"], r["seq"]) for r in spark.read.parquet(target).collect()}
    assert rows == {"T1": (90.0, 1), "T2": (75.0, 3), "T3": (60.0, 2)}


def test_streaming_upsert_restart_is_noop(spark, tmp_path):
    """Restarting the upsert stream against the same checkpoint must process
    nothing new and leave the table byte-identical (effectively-once)."""
    import json as _json

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        run_upsert_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    (d / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"truck_id": "T1", "fuel": 10.0, "seq": 1},
                {"truck_id": "T2", "fuel": 20.0, "seq": 1},
            ]
        )
    )
    target = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = "truck_id string, fuel double, seq long"

    q = run_upsert_stream(spark, str(d), target, ckpt, ["truck_id"], schema)
    q.awaitTermination()
    before = sorted(tuple(r) for r in spark.read.parquet(target).collect())

    # restart with the same checkpoint: no new files -> no upsert applied
    q2 = run_upsert_stream(spark, str(d), target, ckpt, ["truck_id"], schema)
    q2.awaitTermination()
    after = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert after == before


def test_streaming_incremental_dedup(spark, tmp_path):
    """Incremental dedup across micro-batches: a text re-arriving in a
    later file (or duplicated within one) is dropped; restarting the
    stream over the same checkpoint changes nothing; new unique docs
    still flow through."""
    import json as _json
    import os
    import time as _time

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        run_incremental_dedup_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    f1 = [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "delta epsilon zeta"},
        {"doc_id": 3, "text": "alpha  beta   gamma"},  # in-batch dup (ws-normalized)
    ]
    f2 = [
        {"doc_id": 4, "text": "ALPHA beta gamma"},  # cross-batch dup (case-normalized)
        {"doc_id": 5, "text": "eta theta iota"},
    ]
    (d / "a1.json").write_text("\n".join(_json.dumps(r) for r in f1))
    (d / "b2.json").write_text("\n".join(_json.dumps(r) for r in f2))
    now = _time.time()
    os.utime(d / "a1.json", (now - 60, now - 60))
    os.utime(d / "b2.json", (now, now))

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id LONG, text STRING"

    def run():
        q = run_incremental_dedup_stream(
            spark, str(d), out, state, ckpt, schema, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    run()
    rows = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 5}  # 3 dropped in-batch, 4 dropped cross-batch
    assert spark.read.parquet(state).count() == 3

    # restart over the same checkpoint: no new input -> nothing changes
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 5}

    # a third file: one old text again, one genuinely new
    f3 = [
        {"doc_id": 6, "text": "delta epsilon zeta"},
        {"doc_id": 7, "text": "kappa lambda mu"},
    ]
    (d / "c3.json").write_text("\n".join(_json.dumps(r) for r in f3))
    # ...after a state swap stopped between its two renames: the backup is
    # restored, so the old text still counts as seen
    os.rename(state, state + "._old")
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 5, 7}
    assert spark.read.parquet(state).count() == 4


def test_watermark_drops_late_rows_with_metric_evidence(spark, tmp_path):
    """A row arriving behind the advanced watermark must be DROPPED (not
    merged into its window), with the state operator's
    numRowsDroppedByWatermark metric as the operational evidence.

    Observed Spark nuance this test pins: the drop applies from the batch
    AFTER the closed window's state is evicted — a late row arriving in
    the same batch in which the watermark first passes the window end
    still merges into the not-yet-evicted state. Hence three batches:
    (0) fill the window and advance event time, (1) a row that carries
    the watermark forward while eviction happens, (2) the late row,
    which must now be dropped."""
    import os
    import time

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        windowed_event_counts,
    )

    d = tmp_path / "in"
    d.mkdir()
    f1 = [
        {"ts": "2024-01-01T00:01:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T00:02:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T02:00:00", "event_type": "click", "value": 1.0},
    ]
    f2 = [{"ts": "2024-01-01T02:01:00", "event_type": "click", "value": 1.0}]
    f3 = [{"ts": "2024-01-01T00:03:00", "event_type": "click", "value": 1.0}]
    for i, f in enumerate((f1, f2, f3)):
        path = d / f"f{i}.json"
        path.write_text("\n".join(json.dumps(r) for r in f))
        now = time.time()
        os.utime(path, (now - 60 + i * 20, now - 60 + i * 20))

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("wm_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        (so["numRowsDroppedByWatermark"] or 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped >= 1, "late row was not dropped by the watermark"
    rows = spark.sql(
        "SELECT * FROM wm_drop WHERE window_start = TIMESTAMP '2024-01-01 00:00:00'"
    ).collect()
    assert len(rows) == 1
    assert rows[0].n_events == 2  # late row excluded from the closed window


def test_stream_stream_left_outer_emits_unmatched_after_eviction(spark, tmp_path):
    """leftOuter stream-stream interval join: an impression with no
    conversion inside its interval must STILL emit (NULL right side) once
    the watermark proves no match can arrive — inner joins silently drop
    it. The NULL-side row appears at state-eviction time, so a trailing
    batch advances both watermarks past the interval."""
    import os
    import time

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    ld, rd = tmp_path / "left", tmp_path / "right"
    ld.mkdir(), rd.mkdir()
    # U1 converts; U2 never does
    l1 = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "view"},
        {"user_id": 2, "ts": "2024-01-01T00:00:30", "event_type": "view"},
    ]
    r1 = [{"user_id": 1, "ts": "2024-01-01T00:02:00", "event_type": "purchase"}]
    # trailing activity far past every interval + watermark
    l2 = [{"user_id": 9, "ts": "2024-01-01T03:00:00", "event_type": "view"}]
    r2 = [{"user_id": 9, "ts": "2024-01-01T03:00:01", "event_type": "purchase"}]
    l3 = [{"user_id": 8, "ts": "2024-01-01T04:00:00", "event_type": "view"}]
    r3 = [{"user_id": 8, "ts": "2024-01-01T04:00:01", "event_type": "purchase"}]
    now = time.time()
    for i, (d, rows) in enumerate(
        ((ld, l1), (rd, r1), (ld, l2), (rd, r2), (ld, l3), (rd, r3))
    ):
        p = d / f"f{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now - 60 + i * 10, now - 60 + i * 10))

    schema = "user_id long, ts timestamp, event_type string"
    left = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(ld))
    right = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(rd))
    q = (
        stream_stream_interval_join(left, right, how="leftOuter")
        .writeStream.format("memory")
        .queryName("ss_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ss_outer ORDER BY l_ts").collect()
    by_user = {r.l_key: r for r in rows}
    assert by_user[1].r_type == "purchase"  # matched pair joined
    assert 2 in by_user, "unmatched impression was dropped (inner-join behavior)"
    assert by_user[2].r_type is None and by_user[2].r_ts is None

def test_incremental_dedup_keeper_is_min_doc_id_regardless_of_schema_order(
    spark, tmp_path
):
    """The q43/q78 keeper rule (min doc_id per fingerprint) must not
    depend on doc_id being the first column of the caller-supplied
    schema (ADVICE r2): run with text FIRST and check the keeper."""
    import json as _json

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        run_incremental_dedup_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    rows = [
        {"text": "same same text", "doc_id": 9},
        {"text": "same  same   text", "doc_id": 2},  # dup, smaller id -> keeper
        {"text": "unique text", "doc_id": 5},
    ]
    (d / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    out = str(tmp_path / "out")
    q = run_incremental_dedup_stream(
        spark, str(d), out, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        "text STRING, doc_id LONG",
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 5}


def test_incremental_dedup_corrupt_state_fails_batch_not_silent(spark, tmp_path):
    """A corrupt/unreadable state store must FAIL the micro-batch (so the
    checkpoint retries), never be treated as 'first batch' — that would
    re-admit seen fingerprints and the idempotent upsert would replace
    originally-kept docs (ADVICE r2)."""
    import json as _json

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from project_1_greentech_logistics_data_pipeline_spark.streaming.jobs import (
        run_incremental_dedup_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.json").write_text(_json.dumps({"doc_id": 1, "text": "hello world"}))
    state = tmp_path / "state"
    state.mkdir()
    (state / "part-00000.parquet").write_text("not a parquet file")
    q = run_incremental_dedup_stream(
        spark, str(d), str(tmp_path / "out"), str(state),
        str(tmp_path / "ckpt"), "doc_id LONG, text STRING",
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed on corrupt state")


def test_state_operator_metrics_and_listener(spark, tmp_path):
    """State-store observability: the windowed agg's state operator must
    surface row counts / memory / watermark drops as a typed DataFrame,
    both per-query (state_operator_metrics, batch_progress) and via the
    engine-wide listener."""
    from project_1_greentech_logistics_data_pipeline_spark.streaming.metrics import (
        StateMetricsListener,
        batch_progress,
        state_operator_metrics,
    )

    lis = StateMetricsListener.install(spark)
    try:
        rows = [
            {"ts": "2026-01-01 00:01:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"ts": "2026-01-01 00:02:30", "user_id": 1, "event_type": "click", "value": 2.0},
            {"ts": "2026-01-01 00:07:00", "user_id": 2, "event_type": "view", "value": 3.0},
            {"ts": "2026-01-01 01:00:00", "user_id": 2, "event_type": "view", "value": 4.0},
        ]
        stream = _event_stream(spark, tmp_path, rows)
        q = (
            windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName("metrics_counts")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        sm = state_operator_metrics(spark, q)
        mrows = sm.collect()
        # the stateful agg ran at least one batch with state rows
        assert mrows, "no state operator metrics captured"
        assert {r["query_id"] for r in mrows} == {str(q.id)}
        assert all(r["operator_name"] for r in mrows)
        assert max(r["num_rows_total"] for r in mrows) >= 1
        assert max(r["memory_used_bytes"] for r in mrows) > 0

        bp = batch_progress(spark, q).collect()
        assert bp and sum(r["num_input_rows"] for r in bp) == len(rows)
        assert any(r["watermark"] for r in bp)

        # listener saw the same operators engine-wide (async delivery:
        # spark delivers progress events on a separate thread)
        import time as _t

        for _ in range(40):
            if lis.frame(spark).count() >= 1:
                break
            _t.sleep(0.25)
        lf = lis.frame(spark)
        assert lf.count() >= 1
        assert lf.schema == sm.schema
    finally:
        lis.uninstall(spark)


def test_windowed_agg_state_recovers_across_restart(spark, tmp_path):
    """Checkpointed window-state recovery: a window left OPEN at shutdown
    (not yet past the watermark) must finalize after restart with counts
    spanning BOTH phases' rows, and a window finalized in phase 1 must not
    be re-emitted — the streaming counterpart of the file-source
    exactly-once test."""
    import json as _json

    d = tmp_path / "win_in"
    d.mkdir()
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")

    def run_phase():
        stream = (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_type string, value double"
            ).json(str(d))
        )
        q = (
            windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def ev(ts, et):
        return {"ts": ts, "user_id": 1, "event_type": et, "value": 1.0}

    # phase 1: two rows in W0 (00:00-00:05), one in W12 (01:00-01:05);
    # the 01:00 row pushes the watermark to 00:50 -> W0 finalizes, W12 open
    (d / "a.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                ev("2026-01-01 00:01:00", "click"),
                ev("2026-01-01 00:02:00", "click"),
                ev("2026-01-01 01:00:30", "view"),
            ]
        )
    )
    run_phase()
    got1 = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {("2026-01-01 00:00:00", "click"): 2}

    # phase 2 (restart from checkpoint): one MORE row in the still-open
    # W12, plus a pusher that finalizes it. Recovery must merge phase-1
    # state (1 view) with the new row (2 total), and not re-emit W0.
    (d / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                ev("2026-01-01 01:01:00", "view"),
                ev("2026-01-01 02:00:00", "click"),
            ]
        )
    )
    run_phase()
    rows = spark.read.parquet(out).collect()
    got2 = {
        (str(r["window_start"]), r["event_type"]): r["n_events"] for r in rows
    }
    assert got2[("2026-01-01 01:00:00", "view")] == 2  # merged across restart
    assert got2[("2026-01-01 00:00:00", "click")] == 2
    # W0 appears exactly once (no duplicate finalization after restart)
    assert len([r for r in rows if str(r["window_start"]) == "2026-01-01 00:00:00"]) == 1
