"""Writers: parquet-first, Delta pluggable.

The reference writes Delta (Glue_job.py:125,128,142) with mergeSchema=true.
delta-spark is not installed in this environment, so the default format is
parquet; passing format="delta" works unchanged on a cluster where Delta is
on the classpath. Partitioning by a date column is the engine's default for
the curated layer — the reference writes unpartitioned (SURVEY §4), which at
100 TB forecloses partition pruning entirely.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.deterministic import dec


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode).format(fmt)
    if fmt == "delta":
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


# --- staged-rename swap -----------------------------------------------------
# A plain-file table is replaced by writing the new version to a sibling
# staging dir, renaming the target to a backup, renaming staging into place,
# and deleting the backup. A failed write leaves the target untouched; a crash
# between the two renames leaves only the backup, which the next call
# restores before it reads the table.


def _backup(path: str) -> str:
    return path.rstrip("/") + "._old"


def restore_interrupted_swap(path: str) -> None:
    """Rename the backup back if a swap stopped between its two renames
    (target missing, backup present)."""
    if not os.path.exists(path) and os.path.exists(_backup(path)):
        os.rename(_backup(path), path)


def _read_committed(spark, path: str, fmt: str) -> DataFrame | None:
    """The table's last committed version, or None if it was never written."""
    restore_interrupted_swap(path)
    return spark.read.format(fmt).load(path) if os.path.exists(path) else None


def _swap_in(df: DataFrame, path: str, fmt: str) -> None:
    """Write ``df`` to staging, then swap it in as ``path``."""
    staging, backup = path.rstrip("/") + "._staging", _backup(path)
    df.write.mode("overwrite").format(fmt).save(staging)
    # the target exists here (or never did), so any backup is a stale
    # leftover of a swap that completed both renames
    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def compact_table(
    spark,
    path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a table directory's small files into ~target_file_bytes files.

    Streaming sinks (foreachBatch appends, micro-batch file sources) emit
    one-file-per-task-per-batch; over days that degrades scans (driver file
    listing, per-file open cost, tiny rowgroups defeat parquet stats). This
    is the maintenance op Delta calls OPTIMIZE, expressed on plain files:
    size the output file count from the actual on-disk bytes, rewrite with
    coalesce (no shuffle — merging files does not need a repartition), and
    swap in via a staging directory. Returns the output file count.

    At real scale run this per partition directory (date=...) so the
    rewrite is bounded and partition pruning is preserved."""
    restore_interrupted_swap(path)
    df = spark.read.format(fmt).load(path)
    data_files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    total = sum(os.path.getsize(f) for f in data_files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    _swap_in(df.coalesce(n_out), path, fmt)
    return n_out


def upsert_by_key(
    spark,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    fmt: str = "parquet",
) -> None:
    """Key-based upsert (MERGE .. WHEN MATCHED UPDATE / NOT MATCHED INSERT)
    on a plain-file table: survivors = target anti-join updates on the keys,
    result = survivors ∪ updates, swapped in via a staging dir.

    This is the copy-on-write merge Delta/Iceberg implement per-file; without
    a transaction log the rewrite unit is the whole table, so at scale call
    it per partition directory (the anti-join prunes to partitions present
    in `updates`). The swap keeps the old data until the new write has
    fully succeeded — a failed job leaves the target untouched (the staging
    dir is abandoned, never half-applied).

    Reference parity: the curated `overwrite` (Glue_job.py:125) is the
    degenerate upsert where every key matches; this generalizes it to
    incremental loads the reference re-runs from scratch.
    """
    target = _read_committed(spark, target_path, fmt)
    if target is not None:
        survivors = target.join(
            updates.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
        )
        merged = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    _swap_in(merged, target_path, fmt)


def incremental_agg(
    spark,
    state_path: str,
    batch: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: keep a
    persisted (keys, cnt, total) state and fold each new batch in WITHOUT
    rescanning history — O(batch + state), not O(all data ever).

    The batch is partially aggregated first (map-side combine on the
    incoming data only), unioned with the previous state, and re-merged:
    count and decimal-sum are associative/commutative, so fold(state,
    batch) == full recompute — the equivalence test pins that. The state
    swap is the staged-rename pattern (``_swap_in``), so a failed
    update leaves the previous state intact. Algebraic aggregates (avg =
    total/cnt) derive at read time; holistic ones (exact median) need the
    raw data and are out of scope by design — use sketches (q95's
    approx_percentile is mergeable and could be folded the same way).

    Returns the new state DataFrame (keys, cnt bigint, total decimal)."""
    partial = batch.groupBy(*keys).agg(
        F.count("*").alias("cnt"),
        F.sum(dec(value_col)).alias("total"),
    )
    prev = _read_committed(spark, state_path, "parquet")
    if prev is not None:
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
        )
    else:
        merged = partial
    _swap_in(merged, state_path, "parquet")
    return spark.read.parquet(state_path)
