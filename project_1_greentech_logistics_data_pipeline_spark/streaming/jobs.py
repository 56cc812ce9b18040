"""Structured Streaming jobs — the idiomatic replacement for the reference's
hand-rolled micro-batch loop (SURVEY §2.8).

Reference behavior -> Spark primitive:
- S3 list-and-compare new-file detection with XCom state
  (kafka_to_glue_dag.py:37-53)            -> file-source checkpointed offsets
- bounded drain, <=500 msgs / 60 s
  (consumer_etl.py:20-21,43-53)           -> maxFilesPerTrigger / AvailableNow
- one-run-at-a-time Glue lock
  (kafka_to_glue_dag.py:34,66-73)         -> a single StreamingQuery
- at-least-once with overwrite masking
  (consumer_etl.py:34, Glue_job.py:125)   -> checkpoint + per-batch idempotent
                                             appends keyed by batch_id
- no event time at all (Glue_job.py:45,81) -> watermarks + tumbling/session
                                             windows over events

Each micro-batch runs the batch pipeline's own code (readers.parse_raw_lines
+ pipeline.route_and_write: parse -> normalize -> validate -> split -> gate ->
write -> lineage) — one code path for both modes, which is the point of
Structured Streaming's incremental-query model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_fp_expr
from ..pipeline import route_and_write
from ..sources.readers import parse_raw_lines
from ..sources.writers import restore_interrupted_swap, upsert_by_key


def _start_available_now(stream: DataFrame, process, checkpoint_dir: str):
    """foreachBatch ``process`` over ``stream`` with a checkpoint, draining
    what is there now (AvailableNow) and then stopping."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_pipeline(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> dict:
    """File-source streaming pipeline with AvailableNow: process every raw
    batch file exactly once (across restarts, via the checkpoint WAL)
    through the batch pipeline, each micro-batch writing its own
    ``{layer}/batch_id=N`` directories (a replay overwrites, never
    duplicates).

    Returns {'batches': n} after the query drains and stops.
    """
    # the raw layer is one JSON array per file (consumer_etl.py:63-67); the
    # file stream reads lines, exactly like the batch reader
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(raw_dir)

    batches_seen: list[int] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batches_seen.append(batch_id)
        route_and_write(
            batch_df.sparkSession, parse_raw_lines(batch_df), out_dir, batch_id=batch_id
        )

    _start_available_now(raw, _process, checkpoint_dir).awaitTermination()
    return {"batches": len(batches_seen)}


# --- event-time operators over a stream of events ---------------------------


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts with a watermark: late rows beyond the
    watermark are dropped and closed windows emit finalized results (append
    mode). The batch twin is operators/temporal.py::q32 — same window fn."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (dynamic-gap tumbling): the streaming-native form of
    the batch gaps-and-islands q33."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "10 minutes",
    left_watermark: str = "20 minutes",
    right_watermark: str = "20 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with a watermark-bounded time-range condition
    (impression->conversion attribution shape): right.ts in
    [left.ts, left.ts + max_delay].

    Both watermarks plus the interval bound make the join state FINITE —
    Spark evicts left rows once the right watermark passes left.ts +
    max_delay, so state size is O(rate x window), not O(stream length).
    Without the time-range condition a stream-stream join must buffer
    everything forever; this is the only shape that survives an unbounded
    stream at production rates.

    how="leftOuter" keeps unmatched left rows: they emit with NULL right
    columns AT EVICTION TIME (when the watermark proves no match can
    still arrive) — the impression-without-conversion output, which an
    inner join silently discards."""
    lw = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
    )
    rw = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    return lw.join(
        rw,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
        how,
    )


def dedup_events_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: dropDuplicatesWithinWatermark
    keeps each key only until the watermark passes it, unlike plain
    dropDuplicates on a stream, whose state grows without bound. This is the
    streaming twin of the batch exact-dedup operators (q43/q43b) and the
    correct at-scale answer to at-least-once sources (the reference's Kafka
    consumer commits offsets before writing - consumer_etl.py:34 - so
    duplicates are expected on its failure path)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["user_id", "ts", "event_type"]
    )


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    (batch) dimension table. Spark re-plans the static side per micro-batch,
    so a small dim broadcasts — the streaming side never shuffles. This is
    the streaming twin of the batch broadcast star join (q04) and the
    standard shape for attaching slowly-changing reference data to a
    stream; for fast-changing dims, swap the static side for a Delta table
    (re-read each micro-batch picks up updates)."""
    return stream.join(F.broadcast(dim), stream[stream_key] == dim[dim_key], how)


def run_upsert_stream(
    spark,
    input_dir: str,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str],
    schema: str,
    max_files_per_trigger: int = 1,
):
    """Streaming CDC-style MERGE: each micro-batch is upserted into the
    target by key (writers.upsert_by_key) — later batches overwrite matched
    keys, new keys insert. Combined with the checkpointed file source this
    gives effectively-once table maintenance on plain files: a replayed
    batch re-applies the same upsert, which is idempotent, so failure +
    restart cannot duplicate rows (the reference's rejected `append` sink
    accumulates duplicates on every re-run — Glue_job.py:128, SURVEY §3).

    Within a batch, duplicate keys are resolved deterministically before the
    merge by picking ONE whole row per key — max_by over the non-key struct —
    never per-column maxima, which could stitch fields from different source
    rows into a record that never existed.
    """
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        w_cols = [c for c in batch_df.columns if c not in keys]
        # One whole winning row per key: order by the non-key struct
        # (field-by-field, deterministic) and keep it intact.
        latest = (
            batch_df.groupBy(*keys)
            .agg(
                F.max(F.struct(*w_cols)).alias("_row")
            )
            .select(*keys, *[F.col(f"_row.{c}").alias(c) for c in w_cols])
        )
        upsert_by_key(batch_df.sparkSession, target_path, latest, keys=keys)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(input_dir)
    )
    return _start_available_now(stream, _process, checkpoint_dir)


def run_incremental_dedup_stream(
    spark,
    input_dir: str,
    output_path: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    max_files_per_trigger: int = 1,
):
    """Streaming incremental exact-dedup: documents arrive continuously;
    each micro-batch keeps only docs whose canonical fingerprint (q43's
    md5 of whitespace-normalized text) has never been seen, appends the
    survivors to ``output_path`` and their fingerprints to the
    ``state_path`` store — the streaming form of the corpus curation
    pass, where the 'already seen' set grows across micro-batches instead
    of requiring a full-corpus re-scan per arrival.

    Exactly-once without a transaction log: BOTH sinks are key-idempotent
    (upsert_by_key on fingerprint), so a replayed micro-batch re-applies
    the same upserts and changes nothing — the checkpointed source plus
    idempotent sinks compose to effectively-once, the same argument as
    run_upsert_stream. Within a batch, the kept doc per fingerprint is
    the min-doc_id row (deterministic, matches q43/q78's keeper rule).

    At scale the state store is a fingerprint-partitioned table and the
    anti-join prunes to the partitions the batch touches; the per-batch
    work is O(batch) + one broadcast-able lookup, never O(corpus)."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        b = batch_df.withColumn("fingerprint", doc_fp_expr())
        if "doc_id" not in b.columns:
            raise ValueError(
                "incremental dedup schema must include doc_id "
                "(the q43/q78 keeper rule is min-doc_id per fingerprint)"
            )
        other = [c for c in b.columns if c != "fingerprint"]
        # One deterministic keeper per fingerprint within the batch:
        # min of the whole row struct, built with doc_id EXPLICITLY first
        # so the keeper policy is min-doc_id regardless of the
        # caller-supplied schema's column order (q43/q78 rule).
        rest = [c for c in other if c != "doc_id"]
        keep = (
            b.groupBy("fingerprint")
            .agg(F.min(F.struct("doc_id", *rest)).alias("_row"))
            .select("fingerprint", *[F.col(f"_row.{c}").alias(c) for c in other])
        )
        # a crash between the state swap's two renames leaves only the
        # backup; restore it first, or the missing table reads as "no state"
        restore_interrupted_swap(state_path)
        # Only treat a MISSING state store as "first batch". Any other
        # read failure (corrupt files, transient IO) must fail the batch
        # so the checkpoint retries — silently assuming no state would
        # let seen fingerprints through and the idempotent upsert would
        # then REPLACE originally-kept docs with later duplicates.
        jvm_path = sess._jvm.org.apache.hadoop.fs.Path(state_path)
        fs = jvm_path.getFileSystem(
            sess._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            seen = sess.read.parquet(state_path).select("fingerprint")
            fresh = keep.join(seen, on="fingerprint", how="left_anti")
        else:  # first batch: no state yet
            fresh = keep
        fresh = fresh.localCheckpoint()  # both sinks reuse one computation
        if not fresh.take(1):
            return
        upsert_by_key(sess, output_path, fresh, keys=["fingerprint"])
        upsert_by_key(
            sess,
            state_path,
            fresh.select("fingerprint", F.lit(batch_id).alias("first_batch_id")),
            keys=["fingerprint"],
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(input_dir)
    )
    return _start_available_now(stream, _process, checkpoint_dir)
