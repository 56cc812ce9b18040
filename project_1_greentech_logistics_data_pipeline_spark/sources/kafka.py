"""Kafka source/sink adapters (SURVEY §2.1 S1/S2).

The reference produces per-message with a synchronous send loop
(Kafka/Producer/Producer.py:54-69,142-144) and drains with a bounded
consumer loop (Kafka/Consumer/consumer_etl.py:30-53). The Spark-native
equivalents are the kafka DataSource read/write options below.

This environment has no Kafka broker or spark-sql-kafka package, so these
builders only CONSTRUCT readers/writers (options + schema projection); the
streaming tests exercise the downstream pipeline through the file source,
whose micro-batches run readers.parse_raw_lines + pipeline.route_and_write.
On a cluster, adding the spark-sql-kafka-0-10 package makes these
functional unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TELEMETRY_SCHEMA

DEFAULT_TOPIC = "truck-telemetry"


def kafka_telemetry_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 500,
) -> DataFrame:
    """readStream from Kafka -> typed telemetry rows.

    The reference's bounded drain (<=500 msgs per run, consumer_etl.py:20)
    maps to maxOffsetsPerTrigger; its earliest auto_offset_reset (:32) maps
    to startingOffsets; its group-id offset tracking maps to the query
    checkpoint (exactly-once instead of the reference's at-least-once).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    return parse_kafka_telemetry(raw)


def parse_kafka_telemetry(raw: DataFrame) -> DataFrame:
    """Kafka wire format -> telemetry rows: one JSON object per message
    value (Producer.py:58), so a single from_json with the struct schema.
    Corrupt payloads surface in _corrupt_record (engine correction 4) via
    PERMISSIVE mode's corrupt-record column — a top-level struct from_json
    returns an all-NULL struct for malformed input, not a NULL, so a plain
    isNull() check cannot detect corruption."""
    schema_with_corrupt = T.StructType(
        list(TELEMETRY_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    event = F.from_json(
        F.col("value").cast("string"),
        schema_with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return raw.select(
        event.alias("event"),
        F.col("timestamp").alias("_kafka_timestamp"),
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
    ).select("event.*", "_kafka_timestamp", "_kafka_partition", "_kafka_offset")


def kafka_telemetry_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    checkpoint_dir: str | None = None,
):
    """writeStream to Kafka: rows serialized to JSON values keyed by
    truck_id (keeps per-truck ordering within a partition — the reference's
    synchronous per-message send achieves ordering by paying a round trip
    per event, Producer.py:142-144)."""
    payload = df.select(
        F.col("truck_id").cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )
    writer = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
