"""Multimodal columns (SURVEY §2.10): image/audio/video as opaque binary +
typed metadata, with Pandas-UDF feature extraction over mapInPandas.

The container has no image/audio codecs, so the DECODE step is stubbed
(deterministic fake features, or NotImplementedError when strict) — but the
Spark-side plumbing is real and tested: schema (binary + mime + map metadata),
Arrow batch shape through mapInPandas, partition-preserving narrow execution,
and the metadata path (byte length, content hash, mime grouping) runs
entirely JVM-side with an exact DuckDB oracle.

At 100 TB: binary payloads ride in parquet with the metadata columns;
decode/feature-extract is mapInPandas (Arrow batches, no per-row pickling);
filters on mime/meta prune at the scan before any Python runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.deterministic import pos_zero
from ..registry import query, table


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: text bytes stand in for the
    opaque payload (no codecs in this environment); mime derives from source.
    The column shape is the real contract: content binary, mime string,
    meta map<string,string>."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.col("text").cast("binary").alias("content"),
            F.concat(F.lit("image/fake-"), F.col("source")).alias("mime"),
            F.create_map(
                F.lit("lang"), F.col("lang"),
                F.lit("source"), F.col("source"),
                F.lit("n_chars"), F.col("n_chars").cast("string"),
                # EXIF-style declared dimensions: carried as metadata so
                # filters/resize planning run JVM-side without decoding —
                # the 100 TB pattern (decode only to transform pixels)
                F.lit("width"),
                ((F.col("n_chars") % 1920) + 16).cast("string"),
                F.lit("height"),
                (((F.col("n_chars") * 7) % 1080) + 16).cast("string"),
            ).alias("meta"),
        ).alias("media"),
    )


def video_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video assets: the deterministic doc_id % 5 == 0 slice of documents
    as opaque video payloads. meta carries container-level facts a real
    demuxer would surface without decoding (duration, fps) — derived
    SQL-expressibly from n_chars so frame-sampling has an exact oracle."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.col("text").cast("binary").alias("content"),
            F.concat(F.lit("video/fake-"), F.col("source")).alias("mime"),
            F.create_map(
                F.lit("duration_ms"), (F.col("n_chars") * 40).cast("string"),
                F.lit("fps"), F.lit("24"),
                F.lit("source"), F.col("source"),
            ).alias("meta"),
        ).alias("media"),
    )


_Q50_SQL = """
SELECT
  ('image/fake-' || source) AS mime,
  COUNT(*) AS n_assets,
  CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
  MIN(SHA256(text)) AS min_sha256
FROM documents
GROUP BY 1
"""


@query("q50_multimodal_meta", _Q50_SQL)
def q50_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata path over the media column: size, hash, mime rollup — all
    JVM-side on the binary payload, no decode needed."""
    m = media_table(spark, sf_dir)
    return (
        m.select(
            F.col("media.mime").alias("mime"),
            F.octet_length(F.col("media.content")).alias("nbytes"),
            F.lower(F.sha2(F.col("media.content"), 256)).alias("sha"),
        )
        .groupBy("mime")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("nbytes").cast("bigint").alias("total_bytes"),
            F.min("sha").alias("min_sha256"),
        )
    )


# --- stubbed decode / feature extraction ------------------------------------

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("nbytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8


def decode_media(content: bytes, mime: str) -> dict:
    """REAL decoder entry point — requires image/audio codecs that are not
    installed in this environment."""
    raise NotImplementedError(
        "media decoding requires codec libraries (PIL/ffmpeg) not present in "
        "this environment; use fake_decode for deterministic plumbing tests"
    )


def fake_decode(content: bytes, mime: str) -> dict:
    """Deterministic stand-in for decode: 'dimensions' and a feature vector
    derived from the bytes, so the distributed plumbing is fully testable."""
    n = len(content)
    acc = 2166136261
    for byte in content[:256]:  # FNV-1a over a bounded prefix
        acc = ((acc ^ byte) * 16777619) % (1 << 32)
    feature = []
    h = acc
    for _ in range(FEATURE_DIM):
        h = (h * 1103515245 + 12345) % (1 << 31)
        feature.append((h / float(1 << 31)) * 2.0 - 1.0)
    return {
        "width": (acc % 1920) + 1,
        "height": ((acc >> 8) % 1080) + 1,
        "feature": feature,
    }


def extract_features(media_df: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.
    strict=True routes through the real (NotImplementedError) decoder.

    Only (media_id, mime, content) cross the Arrow boundary — the meta
    map is dead weight for decode and is projected away JVM-side before
    any row is serialized to Python (same discipline as resize_media)."""
    decoder = decode_media if strict else fake_decode

    pruned = media_df.select(
        "media_id",
        F.col("media.mime").alias("mime"),
        F.col("media.content").alias("content"),
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "mime": [], "nbytes": [],
                "width": [], "height": [], "feature": [],
            }
            for media_id, mime, content in zip(
                pdf["media_id"], pdf["mime"], pdf["content"]
            ):
                d = decoder(bytes(content), mime)
                out["media_id"].append(media_id)
                out["mime"].append(mime)
                out["nbytes"].append(len(content))
                out["width"].append(d["width"])
                out["height"].append(d["height"])
                out["feature"].append(d["feature"])
            yield pd.DataFrame(out)

    return pruned.mapInPandas(_extract, schema=FEATURE_SCHEMA)


# Exact oracle for the Pandas-UDF decode path: fake_decode's FNV-1a over
# the first 256 payload bytes re-derived in pure SQL — a recursive CTE
# steps the hash one byte (one lowercase-hex pair) per level, then
# width/height fall out of the same % arithmetic the Python runs. This
# checks the mapInPandas plumbing end-to-end (bytes in, per-asset scalars
# out) against an engine that never runs the Python. Integer sums, not
# rounded averages: double ROUND of a quotient is not engine-identical at
# ties (see functions/deterministic.py), while SUM(int) is exact.
# mime uses '||' (not CONCAT): DuckDB's CONCAT SKIPS NULL arguments where
# Spark's F.concat NULL-propagates; '||' NULL-propagates on both engines,
# so a NULL documents.source groups as NULL mime on both sides.
# PRECONDITION: doc_id is UNIQUE in documents (PK; verified by
# tests/test_extensions.py). The recursion joins fnv->base USING (doc_id)
# to fetch the next hex pair, so a duplicate doc_id would fan out hash
# states in the oracle while the Python path hashes each row
# independently — the uniqueness makes the per-key recursion well-defined.
_Q51_SQL = """
WITH RECURSIVE base AS (
  SELECT doc_id,
         ('image/fake-' || source) AS mime,
         OCTET_LENGTH(ENCODE(text)) AS nbytes,
         LOWER(HEX(ENCODE(text))) AS hx,
         LEAST(OCTET_LENGTH(ENCODE(text)), 256) AS nb
  FROM documents
  WHERE text IS NOT NULL
),
fnv AS (
  SELECT doc_id, 0 AS i, CAST(2166136261 AS BIGINT) AS acc FROM base
  UNION ALL
  SELECT f.doc_id, f.i + 1,
         (xor(f.acc,
              CAST((STRPOS('0123456789abcdef', SUBSTR(b.hx, 2*f.i + 1, 1)) - 1) * 16
                 + (STRPOS('0123456789abcdef', SUBSTR(b.hx, 2*f.i + 2, 1)) - 1) AS BIGINT))
          * 16777619) % 4294967296 AS acc
  FROM fnv f JOIN base b USING (doc_id)
  WHERE f.i < b.nb
),
decoded AS (
  SELECT b.mime, b.nbytes,
         f.acc % 1920 + 1 AS width,
         (f.acc // 256) % 1080 + 1 AS height
  FROM fnv f JOIN base b USING (doc_id)
  WHERE f.i = b.nb
)
SELECT mime,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
       CAST(SUM(width) AS BIGINT) AS sum_width,
       CAST(SUM(height) AS BIGINT) AS sum_height
FROM decoded GROUP BY mime
"""


@query("q51_media_features", _Q51_SQL)
def q51_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode->feature-extract over media assets (stubbed decode, real
    plumbing), then a JVM-side rollup of the extracted features. The
    oracle recomputes fake_decode's FNV-1a dimension derivation in pure
    SQL (recursive CTE over hex pairs), so the Python decode path is
    exactly cross-checked, not just row-counted."""
    # NULL-payload contract made explicit on both sides: the oracle's base
    # CTE has WHERE text IS NOT NULL; without this twin filter a NULL
    # content would crash the Python worker while the oracle silently
    # dropped the row — divergence instead of a loud shared failure
    assets = media_table(spark, sf_dir).filter(
        F.col("media.content").isNotNull()
    )
    feats = extract_features(assets)
    return (
        feats.groupBy("mime")
        .agg(
            F.count("*").cast("bigint").alias("n_assets"),
            F.sum("nbytes").cast("bigint").alias("total_bytes"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
        )
    )


# ---------------------------------------------------------------------------
# resize / frame-sample — the remaining multimodal verbs
# ---------------------------------------------------------------------------

RESIZE_MAX_W = 256
RESIZE_MAX_H = 256
FRAME_MAX_PER_ASSET = 32


def _fit_dims(w: int, h: int, max_w: int = RESIZE_MAX_W, max_h: int = RESIZE_MAX_H):
    """Aspect-preserving fit, never upscaling — INTEGER math only, shared
    verbatim (as arithmetic) with the DuckDB oracle so the Python path is
    exactly checked rather than rounded into agreement."""
    if w <= max_w and h <= max_h:
        return w, h
    if w * max_h >= h * max_w:  # width-limited
        return max_w, max(1, (h * max_w) // w)
    return max(1, (w * max_h) // h), max_h


def fake_resize(content: bytes, new_w: int, new_h: int) -> bytes:
    """Deterministic stand-in for the pixel resample: the payload is the
    source bytes cycled to the fake-compressed size new_w*new_h*3//64 + 16
    (len() of this is the oracle-checked out_bytes column)."""
    out_len = (new_w * new_h * 3) // 64 + 16
    if not content:
        return b"\x00" * out_len
    reps = out_len // len(content) + 1
    return (content * reps)[:out_len]


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("orig_w", T.IntegerType()),
        T.StructField("orig_h", T.IntegerType()),
        T.StructField("new_w", T.IntegerType()),
        T.StructField("new_h", T.IntegerType()),
        T.StructField("out_bytes", T.LongType()),
    ]
)


def _declared_dims() -> tuple:
    """(w, h) extraction shared by resize_media and the fallback routing:
    try_cast leaves NULL for missing or garbage metadata (ANSI cast would
    throw). getItem (GetMapValue), NOT element_at (ElementAt): only the
    former is simplified by SimplifyExtractValueOps, which is what lets
    unused meta entries (and their source columns) fall out of the scan."""
    return (
        F.col("media.meta")["width"].try_cast("int"),
        F.col("media.meta")["height"].try_cast("int"),
    )


def media_without_declared_dims(media_df: DataFrame) -> DataFrame:
    """Complement of resize_media's input: assets whose declared dims are
    missing/unparseable — the set a caller routes to the decode-first
    path (extract_features) instead. Shares the exact predicate with
    resize_media so the two partitions are guaranteed disjoint-and-total."""
    w, h = _declared_dims()
    return media_df.filter(w.isNull() | h.isNull())


def videos_without_duration(media_df: DataFrame) -> DataFrame:
    """Complement of sample_frames' input: assets without parseable
    duration_ms container metadata (same contract as above)."""
    return media_df.filter(
        F.col("media.meta")["duration_ms"].try_cast("long").isNull()
    )


def resize_media(media_df: DataFrame, strict: bool = False) -> DataFrame:
    """Resize every asset to fit RESIZE_MAX_W x RESIZE_MAX_H: declared
    dimensions are read from metadata JVM-side (no decode — the EXIF
    path), only (binary, dims) cross the Arrow boundary, and the pixel
    step itself is the stubbed decoder (fake payload, or
    NotImplementedError when strict).

    Plumbing contract at 100 TB: narrow 1:1 mapInPandas — no shuffle, no
    driver state, partition-preserving; column pruning keeps everything
    except (content, dims) out of the Arrow transfer, and batch memory is
    bounded by spark.sql.execution.arrow.maxRecordsPerBatch x payload
    size.

    Scan-pruning note: against a STORED media table (parquet struct
    column) nested schema pruning reads only the referenced sub-fields —
    metadata-only planning never touches the binary payload (pinned in
    tests/test_extensions.py::test_media_parquet_nested_pruning). The
    synthesized test fixture (struct built on the fly from documents)
    instead hits CollapseProject's duplicate-reference heuristic — the
    multi-field extraction here keeps the whole constructed struct alive,
    an extra fixture column in the scan, not a property of the stored
    path."""

    w, h = _declared_dims()
    pruned = media_df.select(
        "media_id",
        F.col("media.mime").alias("mime"),
        F.col("media.content").alias("content"),
        w.alias("w"),
        h.alias("h"),
    ).filter(
        # assets without parseable declared dims are EXCLUDED, not crashed
        # on — a NULL reaching pandas as NaN would kill the job inside the
        # Python worker. The complement is media_without_declared_dims
        # (same predicate), which a caller feeds to extract_features for
        # decode-first handling.
        F.col("w").isNotNull() & F.col("h").isNotNull()
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in _RESIZE_SCHEMA.fields}
            for mid, mime, content, w, h in zip(
                pdf["media_id"], pdf["mime"], pdf["content"], pdf["w"], pdf["h"]
            ):
                raw = bytes(content)
                if strict:
                    decode_media(raw, mime)  # raises: no codecs in env
                nw, nh = _fit_dims(int(w), int(h))
                payload = fake_resize(raw, nw, nh)
                out["media_id"].append(int(mid))
                out["mime"].append(mime)
                out["orig_w"].append(int(w))
                out["orig_h"].append(int(h))
                out["new_w"].append(nw)
                out["new_h"].append(nh)
                out["out_bytes"].append(len(payload))
            yield pd.DataFrame(out)

    return pruned.mapInPandas(_resize, schema=_RESIZE_SCHEMA)


_Q52_SQL = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         ('image/fake-' || source) AS mime,
         CAST((n_chars % 1920) + 16 AS INTEGER) AS orig_w,
         CAST(((n_chars * 7) % 1080) + 16 AS INTEGER) AS orig_h
  FROM documents
)
SELECT media_id, mime, orig_w, orig_h,
  CAST(CASE
    WHEN orig_w <= {RESIZE_MAX_W} AND orig_h <= {RESIZE_MAX_H} THEN orig_w
    WHEN orig_w * {RESIZE_MAX_H} >= orig_h * {RESIZE_MAX_W}
      THEN {RESIZE_MAX_W}
    ELSE GREATEST(1, (orig_w * {RESIZE_MAX_H}) // orig_h)
  END AS INTEGER) AS new_w,
  CAST(CASE
    WHEN orig_w <= {RESIZE_MAX_W} AND orig_h <= {RESIZE_MAX_H} THEN orig_h
    WHEN orig_w * {RESIZE_MAX_H} >= orig_h * {RESIZE_MAX_W}
      THEN GREATEST(1, (orig_h * {RESIZE_MAX_W}) // orig_w)
    ELSE {RESIZE_MAX_H}
  END AS INTEGER) AS new_h,
  CAST((new_w * new_h * 3) // 64 + 16 AS BIGINT) AS out_bytes
FROM m
"""


@query("q52_media_resize", _Q52_SQL)
def q52_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize verb over the media table THROUGH the mapInPandas pixel
    path — the scalar outputs (fit dimensions + fake-compressed payload
    length, all computed in Python per asset) hash-match a pure-SQL
    DuckDB oracle, so the Arrow round-trip and the Python math are
    exactly checked, not rows-only. Payload BYTES are pinned separately
    in pytest (length == out_bytes, deterministic, cycle structure)."""
    return resize_media(media_table(spark, sf_dir))


def fake_frame(content: bytes, frame_idx: int) -> bytes:
    """Deterministic stand-in for a decoded frame: a 64-byte window into
    the payload starting at (frame_idx * 97) mod len, cycled."""
    if not content:
        return b"\x00" * 64
    start = (frame_idx * 97) % len(content)
    buf = content[start:] + content  # >= len(content) bytes from start, wrapped
    return (buf * (64 // len(buf) + 1))[:64]


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(video_df: DataFrame, strict: bool = False) -> DataFrame:
    """Frame-sample verb: one frame per second of declared duration,
    capped at FRAME_MAX_PER_ASSET — a ROW-EXPANDING mapInPandas (one
    input asset -> n_frames output rows), the batch shape the 1:1
    feature extractor does not exercise. Duration comes from container
    metadata JVM-side; the frame decode itself is the stub.

    At 100 TB the expansion factor is the hazard. What THIS code bounds:
    output rows <= FRAME_MAX_PER_ASSET x input rows (the per-asset cap),
    and Arrow batch memory <= maxRecordsPerBatch x frame size. What the
    CALLER owns: if input partitions are payload-skewed, repartition on
    media_id before calling — the 1:in-partition-order expansion here
    inherits whatever partitioning arrives."""

    pruned = video_df.select(
        "media_id",
        F.col("media.content").alias("content"),
        F.col("media.mime").alias("mime"),
        F.col("media.meta")["duration_ms"].try_cast("long").alias("duration_ms"),
    ).filter(
        # same contract as resize_media: un-parseable container metadata
        # excludes the asset rather than NaN-crashing the Python worker;
        # complement accessor: videos_without_duration
        F.col("duration_ms").isNotNull()
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in _FRAME_SCHEMA.fields}
            for mid, content, mime, dur in zip(
                pdf["media_id"], pdf["content"], pdf["mime"], pdf["duration_ms"]
            ):
                raw = bytes(content)
                if strict:
                    decode_media(raw, mime)  # raises: no codecs in env
                n = max(1, min(FRAME_MAX_PER_ASSET, int(dur) // 1000))
                for i in range(n):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * 1000)
                    out["n_frames"].append(n)
                    out["frame"].append(fake_frame(raw, i))
            yield pd.DataFrame(out)

    return pruned.mapInPandas(_sample, schema=_FRAME_SCHEMA)


_Q53_SQL = f"""
WITH v AS (
  SELECT doc_id AS media_id,
         GREATEST(1, LEAST({FRAME_MAX_PER_ASSET}, (n_chars * 40) // 1000))
           AS n_frames
  FROM documents WHERE doc_id % 5 = 0
)
SELECT media_id,
       frame_idx,
       frame_idx * 1000 AS frame_ts_ms,
       CAST(n_frames AS BIGINT) AS n_frames
FROM (
  SELECT media_id, n_frames,
         UNNEST(GENERATE_SERIES(CAST(0 AS BIGINT), CAST(n_frames - 1 AS BIGINT)))
           AS frame_idx
  FROM v
) t
"""


@query("q53_video_frame_sample", _Q53_SQL)
def q53_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling THROUGH the row-expanding mapInPandas path, scalar
    outputs only (the frame payload is dropped here; its bytes are pinned
    in pytest — top-level binary would also defeat the driver hash). The
    per-frame rows (index, timestamp, per-asset count) computed in Python
    hash-match the UNNEST(GENERATE_SERIES) oracle exactly."""
    return sample_frames(video_table(spark, sf_dir)).select(
        "media_id", "frame_idx", "frame_ts_ms", "n_frames"
    )


# ---------------------------------------------------------------------------
# Grouped-map Pandas UDF (applyInPandas) with an EXACT SQL oracle
# ---------------------------------------------------------------------------


_Q75_Z = "ROUND((value - AVG(value) OVER w) / (STDDEV_SAMP(value) OVER w), 4)"
_Q75_SQL = f"""
SELECT event_id, user_id,
  CAST({pos_zero(_Q75_Z)} AS DOUBLE) AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id)
QUALIFY COUNT(*) OVER w > 1
"""


@query("q75_grouped_zscore_pandas", _Q75_SQL)
def q75_grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via applyInPandas — the grouped-map UDAF surface
    (SURVEY §2.9), deliberately in pandas to pin down the escape hatch's
    contract: one shuffle on the group key, each group an Arrow batch, numpy
    math inside. (The same metric is expressible as a JVM window — that
    equivalence IS the oracle, so this Pandas-UDF path is exactly checked,
    not rows-only.) Scale caveat encoded here: a group must fit in one
    executor's memory — keys are users, not a global key.

    pandas' default std ddof=1 == STDDEV_SAMP; single-event users divide by
    NULL stddev in SQL and are dropped on both sides (QUALIFY n>1); rounding
    to 4dp absorbs summation-order jitter between numpy and DuckDB."""
    import pandas as pd

    from pyspark.sql import types as T

    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("zscore", T.DoubleType()),
        ]
    )

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pdf.iloc[0:0][["event_id", "user_id"]].assign(zscore=0.0)
        z = (pdf["value"] - pdf["value"].mean()) / pdf["value"].std(ddof=1)
        # + 0.0: a tiny negative z ROUNDs to -0.0 (numpy and DuckDB agree
        # today, but the driver hash treats -0.0 != +0.0 — q122 r4 class);
        # normalize to +0.0 on both sides.
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "zscore": z.round(4) + 0.0,
            }
        )

    return e.groupBy("user_id").applyInPandas(_z, schema=schema)
