"""Readers.

- ``load_table``: schema-declared parquet scan of a driver testdata table.
  Declaring the schema (instead of relying on footer inference per query)
  keeps planning cheap and makes pushdown/pruning deterministic.
- ``parse_raw_lines`` / ``read_raw_telemetry``: the reference's raw layer is
  one *JSON array of event objects per file* (consumer_etl.py:63-67). The
  reference parses this in two passes (from_json array<string> -> explode ->
  from_json struct, Glue_job.py:32-48); we parse once with the full
  ``array<struct>`` schema — half the JSON CPU, same rows (SURVEY §4
  "codegen" row). Corrupt file lines are captured, not silently nulled.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLE_NAMES, TELEMETRY_SCHEMA, TESTDATA_SCHEMAS
from ..session import tune


# path -> (mtime_ns at sniff time, nanos column tuple)
_NS_TS_COLS: dict[str, tuple] = {}
_sniff_warned = False


def _ns_ts_cols(path: str, name: str) -> tuple:
    """Timestamp columns of table ``name`` that are TIMESTAMP(NANOS) on disk
    at ``path`` (which Spark cannot scan natively).

    The driver's testdata regenerates per round and has shipped events.ts
    both as TIMESTAMP(NANOS) and TIMESTAMP(MICROS); sniffing EVERY
    timestamp column of every table (not just events.ts) means a future
    regeneration that flips orders/lineitem dates to nanos degrades to the
    same long-scan+convert path instead of a read error. One footer read
    per path decides the scan plan — O(1) at any data scale, never data
    pages. A failed sniff falls back to the declared timestamp scan (which
    fails on a nanos file); the first failure in a process emits one
    RuntimeWarning naming the path.
    """
    global _sniff_warned
    # Validated by mtime: a file regenerated in place with a different
    # timestamp unit — the exact drift this sniff exists for — invalidates
    # the cached plan instead of reading with a stale one until restart.
    # One entry per path (stale-mtime entries are replaced, not
    # accumulated). Caveat: for a parquet DIRECTORY whose part files are
    # truncate-rewritten without touching the directory entry, st_mtime
    # may not move; the driver testdata is single-file-per-table, where
    # the file mtime always moves on rewrite.
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = 0
    cached = _NS_TS_COLS.get(path)
    cols = cached[1] if cached is not None and cached[0] == mtime else None
    if cols is None:
        ts_fields = [
            f.name
            for f in TESTDATA_SCHEMAS[name].fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        ]
        try:
            import pyarrow.parquet as pq

            schema = pq.ParquetDataset(path).schema
            cols = tuple(
                c
                for c in ts_fields
                if "timestamp[ns" in str(schema.field(c).type)
            )
        except Exception as e:
            cols = ()
            if not _sniff_warned:
                _sniff_warned = True
                warnings.warn(
                    f"timestamp-unit footer sniff of {path} failed "
                    f"({type(e).__name__}); scanning it with the declared "
                    "timestamp types, which fails on a TIMESTAMP(NANOS) file",
                    RuntimeWarning,
                    stacklevel=2,
                )
        _NS_TS_COLS[path] = (mtime, cols)
    return cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _ns_ts_cols(path, name)
    if ns_cols:
        # parquet TIMESTAMP(NANOS) -> scan those columns as long
        # (nanosAsLong conf, set by tune()), then exact integer ns->us
        # conversion to the declared timestamp type.
        tune(spark)
        # Always derived from the sniffed ns_cols — a static per-table
        # physical schema (the round-2 shape, PHYSICAL_SCHEMAS["events"])
        # would mistype columns whenever the actually-nanos set differs
        # from the historical one.
        physical = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.LongType() if f.name in ns_cols else f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in TESTDATA_SCHEMAS[name].fields
            ]
        )
        df = spark.read.schema(physical).parquet(path)
        for c in ns_cols:
            declared = TESTDATA_SCHEMAS[name][c].dataType.simpleString()
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000")).cast(declared)
            )
        return df.select(*(f.name for f in TESTDATA_SCHEMAS[name].fields))
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view for spark.sql entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def parse_raw_lines(
    raw: DataFrame, schema: T.StructType = TELEMETRY_SCHEMA
) -> DataFrame:
    """Parse a ``value`` column of raw array-of-JSON lines into typed
    telemetry rows — the one parse shared by the batch reader and the
    streaming micro-batch.

    One pass: from_json with array<struct<...>> + explode. A line that fails
    to parse as a JSON array yields a row with ``_corrupt_record`` set and all
    telemetry columns NULL, so corrupt input is observable downstream
    (SURVEY §4 correction 4). Scales: narrow ops only, no shuffle, no
    driver-side collect.
    """
    arr = F.from_json(F.col("value"), T.ArrayType(schema))
    # Compute _corrupt_record BEFORE exploding: carrying the raw line through
    # the explode duplicates the whole multi-hundred-KB array string onto
    # every event row (measured 20x slowdown at 20k events). After this
    # projection, valid lines carry only a NULL.
    pre = raw.select(
        arr.alias("_events"),
        F.when(arr.isNull(), F.col("value")).alias("_corrupt_record"),
    )
    return (
        pre.select(F.explode_outer("_events").alias("event"), "_corrupt_record")
        # explode_outer keeps one NULL row per unparseable line (wanted: that
        # is the corrupt record) but also one per EMPTY array (unwanted
        # phantom row for an empty batch file) — keep only real events or
        # genuinely corrupt lines.
        .filter(F.col("_corrupt_record").isNotNull() | F.col("event").isNotNull())
        .select("event.*", "_corrupt_record")
    )


def read_raw_telemetry(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Raw batch files -> typed telemetry rows (file parallelism = input
    splits)."""
    return parse_raw_lines(spark.read.text(raw_dir))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV scan with a DECLARED schema — never inferSchema, which triggers an
    extra full pass over the data before the real job (prohibitive at scale)
    and can silently flip column types between runs. PERMISSIVE mode routes
    malformed rows to nulls rather than failing the scan, matching the
    engine's ingestion stance (corrupt input is observable, not fatal)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with declared schema + _corrupt_record capture."""
    full = T.StructType(list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC scan with declared schema (columnar, predicate pushdown like
    parquet — supported as an interchange format, parquet stays the default
    sink)."""
    return spark.read.schema(schema).orc(path)


def read_evolved(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a table whose files were appended under EVOLVED schemas
    (columns added over time) as one unified relation: mergeSchema unions
    the per-file schemas, older files surface NULL for later-added columns.

    This mirrors Delta's mergeSchema=true read/write semantics
    (reference Glue_job.py:128) on plain parquet/ORC files. Note the
    footer-merge costs one extra pass over file metadata (not data) at
    planning time — at 100 TB prefer a table format (Delta/Iceberg) whose
    log stores the authoritative schema; this is the no-dependency
    equivalent."""
    return spark.read.option("mergeSchema", "true").format(fmt).load(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Ingest opaque media files via Spark's built-in binaryFile source —
    the filesystem entry point for the multimodal column pipeline
    (operators/multimodal.py): each file becomes one row of
    (path, modificationTime, length, content binary), which
    `media_table`-shaped selects can project into the
    (content, mime, meta) contract. Filter with pathGlobFilter at the
    SOURCE (partition-prune level — unmatched files are never opened);
    spark.sql.files.maxPartitionBytes governs how many small media files
    pack into one task at 100 TB."""
    tune(spark)
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)
