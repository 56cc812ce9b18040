"""Similarity search over embeddings (SURVEY §2.10): brute-force cosine top-k
(oracle-checked baseline) and an LSH-bucketed approximate variant (the scale
path).

Scale stance: brute-force top-k is O(Q x N) — fine when Q is small or as the
per-bucket inner loop; beyond ~1e5 corpus vectors the LSH/IVF variant must
bound candidates per query (cf. the distributed top-k designs in PAPERS.md:
REPOSE's reference-point tries, ICDE 2021, and the incremental top-k reuse
framework, EDBT 2020 — both reduce to 'partition by locality, search
candidates, merge k'). Both paths keep the distance math JVM-side
(zip_with/aggregate) — no Python in the scoring loop.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_matrix,
    cosine_similarity_expr,
    dot_expr,
    l2_normalize_expr,
    lit_vec,
    nearest_centroids,
    spherical_kmeans,
    unit_rows,
)
from ..functions.deterministic import (
    hilo_reconstruct,
    hilo_sum_exprs,
    pos_zero,
    pos_zero_col,
)
from ..registry import query, table


TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors

_Q48_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    LIST_COSINE_SIMILARITY(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_raw
  FROM embeddings q
  JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id,
  CAST({pos_zero("ROUND(cos_raw, 6)")} AS DOUBLE) AS cosine,
  CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


def _top_k(scored: DataFrame) -> DataFrame:
    """Per-query top-TOP_K of ``(query_id, neighbor_id, cos_raw)`` by
    descending cosine, ties on neighbor_id: the shared tail of q48, q49
    and q74. pos_zero: a near-orthogonal neighbor's tiny negative cosine
    rounds to zero with opposite signs on the two engines (q122 r4
    signed-zero class)."""
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "neighbor_id")
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            "cos_raw",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            pos_zero_col(F.round("cos_raw", 6)).cast("double").alias("cosine"),
            "rk",
        )
    )


@query("q48_knn_bruteforce", _Q48_SQL)
def q48_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a small query set: broadcast the
    queries against the corpus scan (no shuffle of the corpus), then a
    per-query top-k window. This is the correct baseline and the oracle
    anchor for the approximate variant."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    cos = cosine_similarity_expr("q_emb", "c_emb")
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    return _top_k(scored)


# --- approximate: random-hyperplane LSH buckets -----------------------------

# 2^5 = 32 coarse buckets; probing hamming<=2 visits 16/32 = 50% of the
# corpus. The testdata embeddings are RANDOM (near-orthogonal, no cluster
# structure), which is the worst case for LSH: recall ~= coverage. On real
# clustered embeddings raise N_PLANES (coverage drops, locality carries
# recall); the knob trades candidates-scored per query against recall.
N_PLANES = 5


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-Python LCG so runs
    are reproducible across drivers/workers with no numpy RNG state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _bucket_expr(emb_col: str, planes: list[list[float]]) -> F.Column:
    """Sign-pattern bucket id: bit i = (emb . plane_i) >= 0, JVM-side."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        d = dot_expr(F.col(emb_col), lit_vec(plane))
        bucket = bucket + F.shiftleft(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)), i)
    return bucket.cast("int")


@query("q49_knn_lsh", None)  # approximate -> rows-only; recall tested in pytest
def q49_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH coarse buckets + multi-probe.

    Corpus vectors hash to one sign-pattern bucket each (a linear scan);
    each query probes its own bucket plus all buckets within hamming distance
    2 (16 probes over 32 buckets ~ 50% of the corpus scored per query).
    Candidates join on bucket id — an equi-join, so at 100 TB this is one
    shuffle by bucket instead of a full cross product. Recall vs the exact
    q48 baseline is asserted in tests/test_similarity.py.
    """
    e = table(spark, sf_dir, "embeddings")
    dim = 64  # testdata embedding dimension (FIXTURES.md §B)
    planes = _hyperplanes(dim, N_PLANES)

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _bucket_expr("embedding", planes).alias("bucket"),
    )
    queries_df = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _bucket_expr("embedding", planes).alias("q_bucket"),
    )
    # multi-probe: expand each query to its probe buckets (hamming <= 2)
    probe_masks = [0] + [1 << i for i in range(N_PLANES)] + [
        (1 << i) | (1 << j) for i in range(N_PLANES) for j in range(i + 1, N_PLANES)
    ]
    probes = queries_df.select(
        "query_id",
        "q_emb",
        F.explode(
            F.array(*[F.col("q_bucket").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ).alias("bucket"),
    )
    cos = cosine_similarity_expr("q_emb", "c_emb")
    scored = (
        probes.join(corpus, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    return _top_k(scored)


# All three aggregation stages use the split-integer (hi/lo) long-sum
# discipline of q19/q122 (functions/deterministic.hilo_sum_exprs), NOT
# double->DECIMAL casts: Spark rounds a double to decimal HALF_UP on its
# shortest decimal repr while DuckDB rounds the exact binary value
# half-to-even, so tie-valued components (any float whose lowest set bit
# is 2^-(scale+1) — common in float32 data) would make "decimal-exact"
# sums differ by 1 ulp-of-scale per hit between engines. FLOOR-based
# splitting has no rounding step at all: both long sums are exact integer
# functions of the identical input doubles, so every stage is
# engine-identical by construction (truncation at 1e-10 perturbs the
# centroid identically on both sides — determinism, not approximation
# error, is what the oracle differential needs).
_Q49B_MEAN = f"({hilo_reconstruct('sv')}) / CAST(n AS DOUBLE)"
_Q49B_COS = "d.dot / (SQRT(na.n2) * SQRT(nb.n2))"
# Residual accepted risk (assessed, ADVICE r5): the final ROUND(cos, 6) is
# a double round, the one cross-engine tie class left (Spark BigDecimal
# HALF_UP vs DuckDB binary round can differ by 1e-6 on an exact-tie
# quotient). Ties are measure-zero on real cosines — every upstream stage
# is bit-identical by the hilo construction, so both engines round the
# SAME double. If a tie ever reds a driver stamp, the drop-in fix is to
# emit the unrounded {_Q49B_COS} (shared verbatim) or the sd/n2 hi/lo
# integer components instead.

_Q49B_SQL = f"""
WITH comp AS (
  SELECT label,
         GENERATE_SUBSCRIPTS(embedding, 1) AS pos,
         UNNEST(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
),
cent0 AS (
  SELECT label, pos, COUNT(*) AS n,
         {", ".join(hilo_sum_exprs("val", "sv"))}
  FROM comp GROUP BY label, pos
),
cent AS (SELECT label, pos, {_Q49B_MEAN} AS m FROM cent0),
norm0 AS (
  SELECT label, {", ".join(hilo_sum_exprs("m * m", "s2"))}
  FROM cent GROUP BY label
),
norms AS (SELECT label, {hilo_reconstruct("s2")} AS n2 FROM norm0),
dot0 AS (
  SELECT a.label AS label_a, b.label AS label_b,
         {", ".join(hilo_sum_exprs("a.m * b.m", "sd"))}
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
),
dots AS (SELECT label_a, label_b, {hilo_reconstruct("sd")} AS dot FROM dot0)
SELECT d.label_a, d.label_b,
  CAST({pos_zero(f"ROUND({_Q49B_COS}, 6)")} AS DOUBLE) AS centroid_cosine
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
ORDER BY label_a, label_b
"""


@query("q49b_centroid_similarity", _Q49B_SQL)
def q49b_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: per-label centroids (posexplode + groupBy — the
    distributed mean over array<float>), then pairwise centroid cosines.
    This is the coarse-quantizer training step of an IVF index expressed as
    DataFrame ops.

    Previously rows-only (float-array avg is accumulation-order-dependent);
    now exact and oracle-backed: every aggregation is a split-integer
    (hi/lo) long sum — order-independent AND free of the engine-specific
    double->decimal tie rounding (see _Q49B_SQL comment) — and the mean /
    norm / cosine derivations are expressions shared verbatim with the
    oracle, so results are bit-identical run-to-run and engine-to-engine.
    The pairwise stage keys the join on the component index (equi on pos,
    band on label), so it hash-partitions instead of nested-looping; cost
    is O(|labels|^2 * dim) on centroid rows only, independent of corpus
    size."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    cent = (
        comp.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *(F.expr(x) for x in hilo_sum_exprs("val", "sv")),
        )
        .selectExpr("label", "pos", f"{_Q49B_MEAN} AS m")
    )
    norms = (
        cent.groupBy("label")
        .agg(*(F.expr(x) for x in hilo_sum_exprs("m * m", "s2")))
        .selectExpr("label", f"{hilo_reconstruct('s2')} AS n2")
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"))
    b = cent.select(F.col("label").alias("label_b"), F.col("pos").alias("pos_b"),
                    F.col("m").alias("mb"))
    dots = (
        a.join(b, (F.col("pos") == F.col("pos_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(*(F.expr(x) for x in hilo_sum_exprs("ma * mb", "sd")))
        .selectExpr("label_a", "label_b", f"{hilo_reconstruct('sd')} AS dot")
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("nb2"))
    cos = F.expr(
        pos_zero("ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6)")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a", "label_b", cos.cast("double").alias("centroid_cosine")
        )
        .orderBy("label_a", "label_b")
    )


# --- approximate: IVF (inverted-file) index ---------------------------------

IVF_K = 16        # coarse-quantizer centroids
IVF_NPROBE = 4    # clusters probed per query (~nprobe/K of the corpus scored)
IVF_ITERS = 3     # Lloyd iterations


@query("q74_knn_ivf", None)  # approximate -> rows-only; recall tested in pytest
def q74_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index: spherical k-means coarse
    quantizer -> corpus partitioned into inverted lists by nearest centroid
    -> each query scores only the IVF_NPROBE nearest lists (equi-join on
    cluster id), exact cosine rerank inside the probed lists.

    At scale this is the standard ANN layout (FAISS-style IVF-Flat on
    DataFrames): the corpus shuffles ONCE at index-build time (and would be
    written bucketed-by-cluster for reuse); each query touches
    ~nprobe/k of the data. Random testdata embeddings are the no-structure
    worst case, so recall ~= coverage; clustered real embeddings are what
    the locality assumption is for. Recall floor asserted in
    tests/test_extensions.py."""
    e = table(spark, sf_dir, "embeddings")
    centroids = spherical_kmeans(e, IVF_K, IVF_ITERS)

    # corpus -> inverted lists: one Arrow pass, normalize + argmax-dot as a
    # numpy GEMM per batch against the broadcast centroid matrix (the
    # JVM-lambda assignment was ~2x slower end-to-end at sf0.1)
    bc = spark.sparkContext.broadcast(centroids)

    def _assign(batches):
        cm = bc.value
        for pdf in batches:
            m = unit_rows(as_matrix(pdf["embedding"]))
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "c_emb": list(m),
                    "cluster": (m @ cm.T).argmax(axis=1).astype("int32"),
                }
            )

    corpus = e.select("vec_id", "embedding").mapInPandas(
        _assign, schema="neighbor_id long, c_emb array<double>, cluster int"
    )
    # each query probes its IVF_NPROBE nearest lists, ranked on the JVM
    probes = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        l2_normalize_expr("embedding").alias("q_emb"),
    ).select(
        "query_id",
        "q_emb",
        F.explode(nearest_centroids("q_emb", centroids, IVF_NPROBE)).alias("cluster"),
    )
    cos = dot_expr(F.col("q_emb"), F.col("c_emb"))  # both unit-norm -> dot = cosine
    scored = (
        probes.join(corpus, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    return _top_k(scored)


# ---------------------------------------------------------------------------
# int8 embedding quantization (the ANN storage/bandwidth scale path)
# ---------------------------------------------------------------------------

_Q96_SQL = """
WITH t AS (
  SELECT vec_id,
    LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
)
SELECT e.vec_id,
  CAST(127.0 / NULLIF(t.maxabs, 0.0) AS DOUBLE) AS scale,
  array_to_string(LIST_TRANSFORM(e.embedding,
    x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / NULLIF(t.maxabs, 0.0)) + 0.5)
         AS INT) AS VARCHAR)), ',') AS qvec
FROM embeddings e JOIN t USING (vec_id)
"""


@query("q96_embedding_quantize_int8", _Q96_SQL)
def q96_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = 127/max|x|): 4x
    smaller than float32 — at 100 TB of embeddings this is the difference
    between an ANN index that fits executor memory and one that spills.
    Pure higher-order functions in codegen; rounding is floor(x+0.5) on both
    engines (identical double math: float32 -> double promotion is exact, so
    the int8 codes hash-match the oracle bit-for-bit). Zero vectors get a
    NULL scale and NULL codes (3VL propagation, both engines). The codes are
    serialized to one comma-joined string column (oracle: array_to_string)
    because the output contract is scalar columns only — the driver
    canonicalizer cannot sort array cells; the typed int8 semantics stay
    pinned by the roundtrip test in tests/test_extensions.py."""
    e = table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(emb_d, F.abs))
    scale = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    qvec = F.transform(
        emb_d, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int").cast("string")
    )
    # all-NULL code list (zero vector) must serialize to NULL, matching
    # DuckDB's array_to_string; Spark's array_join would give ''.
    return e.select(
        "vec_id",
        scale.alias("scale"),
        F.when(scale.isNotNull(), F.array_join(qvec, ",")).alias("qvec"),
    )


# ---------------------------------------------------------------------------
# q153: distributed PCA (partial Gram matrices -> driver eigh -> JVM project)
# ---------------------------------------------------------------------------


def pca_components(emb: DataFrame, k: int = 4) -> tuple[list[list[float]], list[float], list[float]]:
    """(components[k][d], explained_variance[k], mean[d]) by exact
    covariance PCA: each Arrow batch emits ONE partial row
    (count, sum-vector, Gram matrix = X^T X from a single numpy GEMM),
    the driver folds the bounded d + d^2 partials into the covariance and
    eigen-decomposes the d x d matrix (d=64: trivial) — the classic
    tree-aggregate shape where the data never moves, only d^2 numbers per
    partition do. Eigenvector sign is fixed (largest-|coord| positive) so
    results are deterministic across partitionings."""
    d_dim = len(emb.select("embedding").first()["embedding"])

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = as_matrix(pdf["embedding"])
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = emb.select("embedding").mapInPandas(
        _partials, schema="n long, s array<double>, g array<double>"
    ).collect()  # one row per Arrow batch — bounded driver state
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(d_dim, d_dim) for r in parts], axis=0)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps, evs = [], []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:  # deterministic sign
            v = -v
        comps.append([float(x) for x in v])
        evs.append(float(vals[idx]))
    return comps, evs, [float(x) for x in mean]


@query("q153_pca_project", None)  # rows-only: eigen-decomposition step
def q153_pca_project(spark: SparkSession, sf_dir: str, k: int = 4) -> DataFrame:
    """Project embeddings onto their top-k principal components — the
    dimensionality-reduction step before clustering/visualization in an
    embedding pipeline. Component fitting moves only d^2 numbers per
    partition (see pca_components); the projection itself is k JVM dot
    products against broadcast literal vectors over the centered
    embedding — no Python in the row path, no shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    comps, _evs, mean = pca_components(emb, k=k)
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), lit_vec(mean), lambda a, b: a - b
    )
    cols = [
        F.round(dot_expr(centered, lit_vec(c)), 9).alias(f"pc{i + 1}")
        for i, c in enumerate(comps)
    ]
    return emb.select("vec_id", *cols).orderBy("vec_id")
