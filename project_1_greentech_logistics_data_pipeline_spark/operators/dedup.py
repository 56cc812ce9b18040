"""Deduplication operators (SURVEY §2.10): exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup, span-level exact dedup + reassembly.

Scale stance per variant:
- exact: hash groupBy on a canonical fingerprint — one shuffle, fully
  partial-aggregatable.
- n-gram Jaccard brute force: quadratic within blocks; correct reference
  implementation and oracle target, NOT the 100 TB path.
- MinHash+LSH: the 100 TB path — signature is a linear scan; banding turns
  near-dup search into an equi-join on (band, bucket-hash); exact Jaccard is
  verified only on candidate pairs. No crossJoin anywhere.
- SimHash: 64-bit signature via per-token xxhash64 bit-majority; near-dup =
  hamming<=k via bit_count(xor) on band-joined candidates.
- embedding cosine: all pairs as triangle-tiled numpy GEMMs (the embedding
  kit's pair_gemm), no driver collect.

Cache contract: the pair-generating operators cache() their packed token
sets — deliberately, because composed queries (q78/q187/q192 build the q44
relation more than once) rely on CacheManager's identical-plan dedup for a
single materialization (measured: swapping these caches for lazy
localCheckpoint cost q192 4.4x). CacheManager pins those relations for the
session lifetime, so LONG-LIVED callers own cleanup: call
session.release_session_state(spark) between logical units of work, as
bench.py does between queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DOC_FP_SQL, doc_fp_expr, split_sql, tokens_expr, tokens_sql
from ..functions.vectors import PAIR_SCHEMA, as_matrix, pair_gemm, unit_rows
from ..registry import query, table
from .graph import connected_components, sym_edges
from .quality import _SCRUB_PATTERN as _REDACT_PATTERN
from .text import _Q212_CTES as _Q212_CTES_SQL
from .text import exchanged_docs, lang_id_from_toks, q212_gopher_quality_filter
from .text import lang_stage_cte_sql as _lang_stage_cte_sql
from .text2 import _lm_tier_df, _lm_tier_sql


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

_Q43_SQL = f"""
SELECT
  {DOC_FP_SQL} AS fingerprint,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@query("q43_dedup_exact_docs", _Q43_SQL)
def q43_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical fingerprint with a deterministic keeper
    (min doc_id) — the distributed form of dropDuplicates, made stable."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(doc_fp_expr().alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


_Q43B_SQL = """
SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_dups
FROM events
GROUP BY user_id, event_type
"""


@query("q43b_dedup_exact_events", _Q43B_SQL)
def q43b_dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count("*").alias("n_dups")
    )


# ---------------------------------------------------------------------------
# Token-set (n-gram) Jaccard near-dup — brute force within lang blocks
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.95

# The per-document distinct token set every Jaccard oracle pairs up.
_TOKSET_CTE_SQL = f"""d AS (
  SELECT doc_id, lang, LIST_DISTINCT({tokens_sql('text')}) AS toks
  FROM documents
)"""

_Q44_SQL = f"""
WITH {_TOKSET_CTE_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(ROUND(
    LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))), 6) AS DOUBLE) AS jaccard
FROM d a
JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
"""


def _jaccard_expr(toks_a, toks_b) -> Column:
    """|A∩B| / (|A|+|B|-|A∩B|) — one array_intersect instead of
    intersect+concat+distinct (inclusion-exclusion for the union size)."""
    inter = F.size(F.array_intersect(toks_a, toks_b))
    union = F.size(toks_a) + F.size(toks_b) - inter
    return inter.cast("double") / union


def _size_band(sa: Column, sb: Column, threshold: float) -> Column:
    """Provably-sound prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    J >= t requires the sizes to be within a factor of t. Applied to
    pre-materialized size columns it prunes most candidate pairs before any
    array intersection work."""
    return (sb.cast("double") >= sa * threshold) & (sa.cast("double") >= sb * threshold)


def bitmask_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, mask array<long>, sz): token sets of a
    ``(doc_id, lang, text)`` relation as dense bitmaps. Callers pass the
    documents table, a gated scan of it (q214 semi-joins the quality
    survivors in, so the gate drops mass BEFORE this build) or
    transformed text (q217's redacted survivors). Per-pair Jaccard is
    encoding-invariant (set sizes and intersections don't depend on the
    dictionary), so gating the input equals filtering pair endpoints
    afterwards — cheaper, same edges.

    Dictionary-encode tokens to per-lang dense indices (a tiny broadcast
    vocab built with one distinct + row_number), then pack each doc's set
    into ceil(vocab/64) longs. Set intersection drops from an O(|A|+|B|)
    hash-set build per pair (array_intersect allocates per call) to
    bit_count(a AND b) word-wise — pure integer codegen, no allocation.

    When to use: profitable when sets are DENSE in their vocabulary
    (|A| / vocab high), as in this corpus (~27 distinct tokens over a
    31-token vocab -> 1 word per doc). For sparse sets over huge vocabs
    (web-scale text, vocab >> |A|), the packed width ceil(vocab/64) would
    dwarf the sparse array — keep hashed_token_sets for that regime. The
    same dictionary-encode-then-bitmap idea underlies bitmap indexes and
    roaring bitmaps; this is the flat fixed-width variant."""
    toks = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tokens_expr("text"))).alias("tok")
    )
    vocab = (
        toks.select("lang", "tok")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.partitionBy("lang").orderBy("tok")) - 1,
        )
    )
    n_words = (
        vocab.groupBy("lang").agg(((F.max("idx") / 64).cast("int") + 1).alias("n_words"))
    )
    word_masks = (
        toks.join(F.broadcast(vocab), ["lang", "tok"])
        .withColumn("word", (F.col("idx") / 64).cast("int"))
        .groupBy("doc_id", "lang", "word")
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(idx % 64 AS INT))")).alias("wmask"))
    )
    packed = (
        word_masks.groupBy("doc_id", "lang")
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "wmask"))).alias("wm"))
        .join(F.broadcast(n_words), "lang")
        .select(
            "doc_id",
            "lang",
            F.transform(
                F.sequence(F.lit(0), F.col("n_words") - 1),
                lambda w: F.coalesce(F.element_at(F.col("wm"), w), F.lit(0).cast("long")),
            ).alias("mask"),
        )
    )
    sz = F.aggregate(
        F.col("mask"), F.lit(0), lambda acc, m: acc + F.bit_count(m)
    )
    # NULL-text docs never reach `packed` (explode drops the NULL token
    # array) — correct: the array form excludes them too (NULL hset fails
    # every size-band comparison), as does the oracle's 3VL. Empty-STRING
    # text still yields the [''] singleton set in both forms.
    return packed.withColumn("sz", sz)


def _jaccard_mask_expr(ma: Column, mb: Column, sza: Column, szb: Column) -> Column:
    """|A∩B| / (|A|+|B|-|A∩B|) over packed bitmaps: word-wise AND +
    popcount — no per-pair allocation, stays in whole-stage codegen."""
    inter = F.aggregate(
        F.zip_with(ma, mb, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, c: acc + c,
    )
    return inter.cast("double") / (sza + szb - inter)


def hashed_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, hset, sz): distinct tokens hashed ONCE to sorted
    longs. Set ops on long arrays are far cheaper than on string arrays
    (no UTF8 compares, 8-byte elements through joins); a 64-bit collision
    changing a Jaccard count is astronomically unlikely."""
    d = table(spark, sf_dir, "documents")
    hset = F.array_sort(
        F.array_distinct(F.transform(tokens_expr("text"), lambda t: F.xxhash64(t)))
    )
    return d.select("doc_id", "lang", hset.alias("hset")).withColumn(
        "sz", F.size("hset")
    )


_PAIR_SALT = 32  # fan the per-lang-block pair enumeration across this many tasks


def _salted_pairs(packed: DataFrame, band: float) -> DataFrame:
    """(doc_a, doc_b, jaccard_raw) for every same-lang pair of a packed
    bitmap relation (:func:`bitmask_token_sets`) whose set sizes pass
    :func:`_size_band` at ``band``. ``packed`` is cached: its build (2
    small shuffles) feeds both join sides. The self-join is salted: the
    natural equi-key (lang) has only ~5 distinct values, so an unsalted
    plan enumerates each language block's O(n^2) pairs on a single task.
    Salting one side on hash(doc_id) mod _PAIR_SALT and replicating the
    other _PAIR_SALT ways keeps each unordered pair matched exactly once
    while spreading enumeration across lang x _PAIR_SALT tasks. Callers
    own the threshold filter and its order against the 6-dp round."""
    packed = packed.cache()
    a = packed.withColumn("part", F.pmod(F.xxhash64("doc_id"), F.lit(_PAIR_SALT))).alias("a")
    b = packed.withColumn(
        "part", F.explode(F.array(*[F.lit(i) for i in range(_PAIR_SALT)]))
    ).alias("b")
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.part") == F.col("b.part"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & _size_band(F.col("a.sz"), F.col("b.sz"), band),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        _jaccard_mask_expr(
            F.col("a.mask"), F.col("b.mask"), F.col("a.sz"), F.col("b.sz")
        ).alias("jaccard_raw"),
    )


@query("q44_ngram_jaccard_neardup", _Q44_SQL)
def q44_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force token-set Jaccard within lang blocks (the oracle-checkable
    reference semantics; q45 is the LSH plan that scales). Three constant-
    factor cuts vs the naive form: the provably-sound size-band join
    predicate, dictionary-encoded BITMAP token sets (popcount intersection
    instead of per-pair array_intersect hash sets — this corpus is dense in
    its vocabulary, see bitmask_token_sets), and a salted self-join
    (:func:`_salted_pairs`)."""
    return _exact_pairs(table(spark, sf_dir, "documents"))


def _exact_pairs(docs: DataFrame) -> DataFrame:
    """q44's scored pair enumeration over a ``(doc_id, lang, text)``
    relation; over the documents table this IS q44's plan."""
    return (
        _salted_pairs(bitmask_token_sets(docs), JACCARD_THRESHOLD)
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select(
            "doc_a", "doc_b", F.round("jaccard_raw", 6).cast("double").alias("jaccard")
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup — the scale path
# ---------------------------------------------------------------------------

# 32 hashes = 4 bands x 8 rows. S-curve 1-(1-s^8)^4: ~99% collision at
# s=0.95 but only ~6.5% at s=0.6 — this corpus has HIGH background
# similarity (median within-lang Jaccard 0.63), so wide bands (r=8) are
# needed to keep the candidate set near the true-pair set instead of
# degenerating to a quadratic verify.
MINHASH_N = 32
LSH_BANDS = 4
LSH_ROWS = MINHASH_N // LSH_BANDS
# deterministic odd multipliers for the family h_i(x) = xxhash64(tok, seed=i)
_SEEDS = list(range(MINHASH_N))


def _seeded(seed: int):
    # lambda factory: PySpark higher-order lambdas must be exactly unary.
    # Hashing the 8-byte base long (not the token string) per seed keeps the
    # per-seed cost tiny; wraparound affine hashing would be cheaper still
    # but ANSI mode (Spark 4 default) raises on long overflow.
    return lambda h: F.xxhash64(h, F.lit(seed))


def minhash_signature(hset: Column) -> Column:
    """array<long> MinHash signature over a hashed token set, fully
    JVM-side: min over tokens of xxhash64(base_hash, seed_i)."""
    return F.array(
        *[F.array_min(F.transform(hset, _seeded(s))) for s in _SEEDS]
    )


def minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hashed_token_sets(spark, sf_dir)
    return docs.select(
        "doc_id", "lang", "hset", "sz", minhash_signature(F.col("hset")).alias("sig")
    )


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) MinHash-LSH candidate pairs: signature scan (narrow)
    -> explode to LSH bands -> equi-join on (band_id, band_hash). This is
    q45's pre-verify stage, exposed separately so the scale probe can
    measure candidate mass (the quantity the S-curve actually governs)
    independent of verify cost."""
    docs = minhash_docs(spark, sf_dir).cache()
    # lang rides along: the exact-verify bitmaps are dictionary-encoded PER
    # LANG, so a cross-lang candidate pair would popcount meaningless bit
    # overlap (or zip_with a NULL). Same-lang candidates only — matching
    # q44's within-lang-block semantics.
    bands = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col("sig")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                        ).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "lang", "band.band_id", "band.band_hash")

    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


@query("q45_minhash_lsh_neardup", None)  # probabilistic candidates -> rows-only
def q45_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup at threshold 0.95.

    Plan: signature scan (narrow) -> explode to LSH bands -> equi-join on
    (band_id, band_hash) to get candidates -> exact Jaccard verify on the
    candidate set only. At 100 TB this is shuffle-on-band-hash + a verify
    join, never a cross join. Verified pairs are exact (precision 1.0 by
    construction); recall is probabilistic — tests/test_dedup.py checks it
    against the brute-force q44 result. Threshold filters the RAW score
    (q44's order).
    """
    cand = lsh_candidate_pairs(spark, sf_dir)
    masks = bitmask_token_sets(table(spark, sf_dir, "documents")).cache()
    a = masks.select(
        F.col("doc_id").alias("doc_a"), F.col("mask").alias("mask_a"), F.col("sz").alias("sz_a")
    )
    b = masks.select(
        F.col("doc_id").alias("doc_b"), F.col("mask").alias("mask_b"), F.col("sz").alias("sz_b")
    )
    jac = _jaccard_mask_expr(
        F.col("mask_a"), F.col("mask_b"), F.col("sz_a"), F.col("sz_b")
    )
    scored = (
        cand.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_raw"))
    )
    return scored.filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).cast("double").alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
HAMMING_MAX = 6
_SIMHASH_CHUNKS = 4  # 4 x 16-bit chunks: hamming<=6 -> >=1 identical chunk


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash by per-bit majority vote over the
    hashed token set.

    Shape matters: computed as ONE hash aggregation over the exploded
    (doc_id, token_hash) table with 64 conditional-sum columns — partial
    aggregation + whole-stage codegen — rather than 64 higher-order
    F.aggregate passes per row, which execute as interpreted lambda calls
    (~10x slower measured at sf0.1). Same signature bits either way."""
    toks = hashed_token_sets(spark, sf_dir).select(
        "doc_id", F.explode("hset").alias("h")
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    bit_vals = [(1 << i) if i < 63 else -(2**63) for i in range(SIMHASH_BITS)]
    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        out = out.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(bit_vals[i]).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("doc_id", out.alias("simhash"))


@query("q46_simhash_neardup", None)  # signature depends on xxhash64 -> rows-only
def q46_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: hamming(simhash_a, simhash_b) <= 6, candidates from
    16-bit chunk equality (pigeonhole: <=6 flipped bits over 4 chunks leaves
    at least one chunk intact). bit_count(xor) does the verify JVM-side."""
    docs = simhash_docs(spark, sf_dir).cache()
    chunks = docs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_id") == F.col("y.chunk_id"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4  # testdata embeddings are near-orthogonal (max ~0.51)

_Q47_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  CAST(ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
    AS DOUBLE) AS cosine
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
      >= {COSINE_DUP_THRESHOLD}
"""


@query("q47_embedding_cosine_neardup", _Q47_SQL)
def q47_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup by cosine. Brute-force pairs here (the testdata
    embedding table is a fixed 500-2000 vectors); the LSH-bucketed scale
    variant is operators/similarity.py::q49. Cosines come from the
    embedding kit's pair GEMM over triangle tiles (_blocked_cosine_pairs)."""
    e = table(spark, sf_dir, "embeddings")
    return _blocked_cosine_pairs(spark, e, COSINE_DUP_THRESHOLD)


_COSINE_TILES = 8  # all-pairs tiling factor; each task holds <=2 tiles


def _blocked_cosine_pairs(
    spark: SparkSession, emb: DataFrame, threshold: float, tiles: int = _COSINE_TILES
) -> DataFrame:
    """All-pairs cosine >= threshold via a TRIANGLE-TILED distributed GEMM —
    no driver-side collect, no full-corpus broadcast.

    Each vector lands in tile t = hash(vec_id) mod T. The T*(T+1)/2
    unordered tile pairs (i <= j) each become one applyInPandas group
    holding tile i as the 'left' block and tile j as the 'right' block; the
    group does ONE numpy GEMM (L x d @ d x R) and emits thresholded pairs.
    Every unordered vector pair is covered exactly once: cross-tile pairs
    in group (min_tile, max_tile), same-tile pairs under vec_id ordering.

    Scale shape: per-task memory is O(2 * N/T * d) — pick T so a tile fits
    an executor (N=1e8, d=64, T=1024 -> ~100 MB/tile); data volume is
    O(N * T) rows shuffled, flops stay the intrinsic O(N^2 * d) of the
    exact baseline. For corpora where even that flop count is too much,
    the candidates path (q49 LSH / q74 IVF) replaces this oracle baseline.
    2M pair-dots: sub-second as GEMM vs ~22s as per-pair JVM fold."""
    t_col = F.pmod(F.xxhash64("vec_id"), F.lit(tiles)).cast("int")
    base = emb.select("vec_id", "embedding", t_col.alias("tile"))
    # left role: vector of tile t serves groups (t, j) for j >= t
    left = base.select(
        "vec_id",
        "embedding",
        F.lit(0).alias("role"),
        F.col("tile").alias("ti"),
        F.explode(
            F.sequence(F.col("tile"), F.lit(tiles - 1))
        ).alias("tj"),
    )
    # right role: vector of tile t serves groups (i, t) for i <= t
    right = base.select(
        "vec_id",
        "embedding",
        F.lit(1).alias("role"),
        F.explode(F.sequence(F.lit(0), F.col("tile"))).alias("ti"),
        F.col("tile").alias("tj"),
    )
    tiled = left.unionByName(right)

    def _tile_gemm(key, pdf):
        ti, tj = key
        lp = pdf[pdf["role"] == 0]
        rp = pdf[pdf["role"] == 1]
        return pair_gemm(
            lp["vec_id"].to_numpy(),
            unit_rows(as_matrix(lp["embedding"])),
            rp["vec_id"].to_numpy(),
            unit_rows(as_matrix(rp["embedding"])),
            threshold,
            same_block=ti == tj,
        )

    return tiled.groupBy("ti", "tj").applyInPandas(_tile_gemm, schema=PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the verified pair graph
# ---------------------------------------------------------------------------


def _closure_ctes_sql(src: str) -> str:
    """Oracle twin of :func:`neardup_pairs` + :func:`connected_components`
    over a ``(doc_id, lang, toks)`` CTE named ``src``: the within-lang
    Jaccard ``pairs``, their symmetric ``edges`` and the recursive
    ``reach(node, root)`` transitive closure (the enclosing WITH must be
    RECURSIVE). A node's cluster is its min reachable root
    (:data:`_CLUSTERS_SQL`), the min-label fixpoint the Spark side
    computes, so the iterative algorithm is exactly checked."""
    return f"""pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {src} a JOIN {src} b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
        / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, root) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
)"""


_CLUSTERS_SQL = "SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node"

_Q73_SQL = f"""
WITH RECURSIVE {_TOKSET_CTE_SQL},
{_closure_ctes_sql("d")}
{_CLUSTERS_SQL}
"""


@query("q73_neardup_clusters", _Q73_SQL)
def q73_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the step that turns verified near-dup PAIRS into
    dedup DECISIONS (keep one doc per component). Components via distributed
    min-label propagation over the exact-Jaccard pair graph; cluster_id is
    the component's min doc_id, so results are deterministic. The oracle is
    a DuckDB recursive-CTE transitive closure — the iterative Spark
    algorithm is exactly checked, not rows-only."""
    sym = sym_edges(neardup_pairs(table(spark, sf_dir, "documents")), "doc_a", "doc_b")
    return connected_components(sym).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def neardup_pairs(docs: DataFrame) -> DataFrame:
    """Candidate-pair source for clustering/curation (q73/q78/q214/q217)
    over a ``(doc_id, lang, text)`` relation: q44's within-lang blocked
    all-pairs — the oracle baseline, exact by construction, quadratic per
    lang block.

    A gated relation (q214: documents semi-joined to the quality
    survivors) yields the induced subgraph on those documents, and the
    expensive build only ever sees surviving mass (pair existence is
    pairwise; the induced-subgraph point matters one level up, where
    connected components over the gated edges CAN differ from restricting
    full-corpus components — removing a junk node may split a cluster).
    A transformed relation (q217: redacted survivor text) changes pair
    existence itself: two docs differing only in blocklisted terms become
    near-identical after redaction."""
    return _exact_pairs(docs).select("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Capstone: end-to-end training-data curation pass
# ---------------------------------------------------------------------------

_Q78_SQL = f"""
WITH RECURSIVE {_TOKSET_CTE_SQL},
{_closure_ctes_sql("d")},
clusters AS (
  {_CLUSTERS_SQL}
),
fp AS (
  SELECT doc_id,
    MIN(doc_id) OVER (
      PARTITION BY {DOC_FP_SQL}
    ) AS keeper
  FROM documents
),
stats AS (
  SELECT doc_id, lang, n_chars,
    LEN({tokens_sql('text')}) AS n_tokens
  FROM documents
)
SELECT s.doc_id, s.lang, CAST(s.n_tokens AS BIGINT) AS n_tokens
FROM stats s
JOIN fp ON fp.doc_id = s.doc_id
LEFT JOIN clusters c ON c.doc_id = s.doc_id
WHERE s.n_chars >= 50 AND s.n_tokens >= 10
  AND fp.keeper = s.doc_id
  AND (c.doc_id IS NULL OR c.cluster_id = s.doc_id)
"""


@query("q78_training_data_prep", _Q78_SQL)
def q78_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pass an LLM data pipeline runs,
    composed from this module's primitives and exactly oracle-checked:

      1. quality gate   — length thresholds from the q40 scoring pass
      2. exact dedup    — canonical fingerprint, keep min doc_id (q43)
      3. near-dup dedup — Jaccard pair graph -> connected components,
                          keep each cluster's canonical doc (q44 + q73)

    The three conditions are computed independently over the full corpus
    (each one narrow or already analyzed above), so the pass is one scan
    plus the pair-graph machinery — no sequential multi-pass rewrite of
    the corpus. Output: the surviving documents with their token counts."""
    d = table(spark, sf_dir, "documents")
    keeper = F.min("doc_id").over(Window.partitionBy(doc_fp_expr()))
    stats = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens_expr("text")).alias("n_tokens"),
        keeper.alias("keeper"),
    )
    clusters = q73_neardup_clusters(spark, sf_dir).withColumnRenamed(
        "doc_id", "c_doc_id"
    )
    return (
        stats.join(
            F.broadcast(clusters), stats.doc_id == clusters.c_doc_id, "left"
        )
        .filter(
            (F.col("n_chars") >= 50)
            & (F.col("n_tokens") >= 10)
            & (F.col("keeper") == F.col("doc_id"))
            & (F.col("c_doc_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        )
        .select("doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: drop docs whose canonical fingerprint appears
# in a contamination (eval-set) list
# ---------------------------------------------------------------------------

_Q109_SQL = f"""
WITH fp AS (
  SELECT doc_id, lang,
    {DOC_FP_SQL} AS fingerprint
  FROM documents
), benchmark AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 50 = 0
)
SELECT f.doc_id, f.lang
FROM fp f
WHERE NOT EXISTS (SELECT 1 FROM benchmark b WHERE b.fingerprint = f.fingerprint)
"""


@query("q109_decontamination", _Q109_SQL)
def q109_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-corpus hygiene step that
    removes documents whose canonical fingerprint (q41's
    whitespace-collapse + lowercase + md5) appears in an evaluation-set
    list. Here the 'benchmark' is a deterministic slice of the corpus
    (doc_id % 50 == 0), standing in for an external eval-set fingerprint
    file; note exact-dup copies of a benchmarked doc are removed too —
    that's the point of matching on the canonical form, not the id.

    Plan: the benchmark set is tiny relative to the corpus, so the anti
    join broadcasts it — a map-side hash probe per document, no corpus
    shuffle. For eval sets too big to broadcast, pre-partition both sides
    on the fingerprint prefix (the q41 shard_key)."""
    d = table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "lang", doc_fp_expr().alias("fingerprint"))
    benchmark = (
        fp.filter(F.col("doc_id") % 50 == 0).select("fingerprint").distinct()
    )
    return fp.join(
        F.broadcast(benchmark), "fingerprint", "left_anti"
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# q187: dedup yield report — cluster-size distribution + projected savings
# ---------------------------------------------------------------------------

_Q187_SQL = f"""
WITH RECURSIVE {_TOKSET_CTE_SQL},
{_closure_ctes_sql("d")},
clusters AS (
  {_CLUSTERS_SQL}
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs_in_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_docs_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


@query("q187_dedup_yield_report", _Q187_SQL)
def q187_dedup_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield: the cluster-size distribution of the near-dup graph
    and the removable-doc count per size — the report that justifies (or
    kills) a dedup stage before anyone reruns training: 'K docs sit in
    near-dup clusters; removing all but one per cluster drops K-C docs'.
    One re-aggregate over q73's component labels; the exact recursive-CTE
    oracle pins the whole chain including the clustering."""
    clusters = q73_neardup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs_in_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("n_docs_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# q192: near-dup pair explanations (why did these two docs match?)
# ---------------------------------------------------------------------------

_Q192_SQL = f"""
WITH {_TOKSET_CTE_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x))) AS BIGINT)
         AS n_shared,
       CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) AS BIGINT) AS n_union,
       LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
         / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) AS jaccard,
       COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(a.toks,
                                             x -> NOT LIST_CONTAINS(b.toks, x))),
                       ','), '') AS only_in_a,
       COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(b.toks,
                                             x -> NOT LIST_CONTAINS(a.toks, x))),
                       ','), '') AS only_in_b
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("q192_neardup_explanations", _Q192_SQL)
def q192_neardup_explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainability for dedup decisions: for every verified near-dup
    pair, the overlap counts, the exact Jaccard, and the SORTED token
    diffs each side owns — the evidence a human (or an appeals process)
    reviews before a doc is dropped. Reuses q44's candidate machinery
    for the pairs; the diffs are JVM array_except + sort (deterministic
    stringification — unsorted diffs would be partition-dependent)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.array_distinct(tokens_expr("text")).alias("toks")
    )
    pairs = q44_ngram_jaccard_neardup(spark, sf_dir).select("doc_a", "doc_b")
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
    )
    shared = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            shared.cast("bigint").alias("n_shared"),
            union.cast("bigint").alias("n_union"),
            (shared.cast("double") / union).alias("jaccard"),
            F.concat_ws(",", F.array_sort(F.array_except("toks_a", "toks_b"))).alias(
                "only_in_a"
            ),
            F.concat_ws(",", F.array_sort(F.array_except("toks_b", "toks_a"))).alias(
                "only_in_b"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q194: labeled pair construction for a learned dedup classifier.
# ---------------------------------------------------------------------------

_NEG_BAND = (0.40, 0.80)  # hard negatives: similar-ish but NOT duplicates
_NEG_P1 = 2654435761  # Knuth multiplicative constant
_NEG_P2 = 2246822519  # xxhash32 prime-2, second mixing constant
_NEG_REDUCE = 99991  # prime pre-reduction of each id before the multiply
_NEG_MOD = 4294967296
_NEG_RATE = 0.10


def _neg_sample_sql(a: str, b: str) -> str:
    """Deterministic pseudo-random pair-sample predicate, written ONCE and
    shared verbatim by Spark (F.expr) and the DuckDB oracle, so the two
    copies cannot drift.

    Overflow-safe for ANY int64 doc ids: each id is pre-reduced mod the
    prime 99991 before the multiply, capping each product at ~2.7e14
    (the previous (a*10000+b)*knuth form overflowed int64 — ANSI Spark
    raises, DuckDB errors — once ids passed ~3.5e8; it was also
    non-injective for b >= 10000). Pre-reduction only folds the sampling
    pattern with period 99991 per id — irrelevant for an unbiased 10%
    sample."""
    return (
        f"(({a} % {_NEG_REDUCE}) * {_NEG_P1} + ({b} % {_NEG_REDUCE}) * {_NEG_P2})"
        f" % {_NEG_MOD} < {int(_NEG_RATE * _NEG_MOD)}"
    )


def _ngram_jaccard_scored(docs: DataFrame, min_score: float = _NEG_BAND[0]) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every same-lang pair of a
    ``(doc_id, lang, text)`` relation with Jaccard >=
    ``min_score`` — q44's salted bitmap machinery with the size-band
    prune relaxed to the lower bound (sound: the band predicate is
    monotone in the threshold), no final dup-threshold filter. The band
    is slacked below min_score so a pair whose RAW score sits just under
    the threshold but ROUNDS up to it (e.g. 0.3999995 -> 0.40) is still
    generated as a candidate: the final filter is on the rounded value."""
    return (
        _salted_pairs(bitmask_token_sets(docs), max(min_score - 1e-6, 0.0))
        # ROUND first, then filter — matching the oracle's ROUND-then-WHERE
        # order, so the 6-dp boundary (raw in [t-5e-7, t)) lands on the
        # same side in both engines.
        .select(
            "doc_a", "doc_b", F.round("jaccard_raw", 6).cast("double").alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_score)
    )


_Q194_SQL = f"""
WITH {_TOKSET_CTE_SQL},
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))::DOUBLE
           / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))), 6) AS jaccard
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard, TRUE AS is_duplicate
FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
UNION ALL
SELECT doc_a, doc_b, jaccard, FALSE
FROM scored
WHERE jaccard >= {_NEG_BAND[0]} AND jaccard < {_NEG_BAND[1]}
  AND {_neg_sample_sql("doc_a", "doc_b")}
ORDER BY doc_a, doc_b
"""


@query("q194_dedup_training_pairs", _Q194_SQL)
def q194_dedup_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set construction for a LEARNED deduper: verified
    duplicates as positives plus a deterministic sample of
    hard negatives from the just-below-threshold band (the pairs a
    lexical classifier actually confuses — random negatives would be
    trivially separable). The negative sample uses the Knuth-hash rule
    on the pair key, so the dataset is reproducible and oracle-exact —
    label noise from RNG sampling would poison comparisons between
    classifier runs. Reuses the q44 candidate machinery for scoring: one
    banded-quadratic scoring pass feeds both labels (the hard-negative
    band requires the quadratic).
    """
    scored = _ngram_jaccard_scored(table(spark, sf_dir, "documents"))
    pos = scored.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard", F.lit(True).alias("is_duplicate")
    )
    neg = (
        scored.filter(
            (F.col("jaccard") >= _NEG_BAND[0]) & (F.col("jaccard") < _NEG_BAND[1])
        )
        .filter(F.expr(_neg_sample_sql("doc_a", "doc_b")))
        .select("doc_a", "doc_b", "jaccard", F.lit(False).alias("is_duplicate"))
    )
    return pos.unionByName(neg).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q207: span-level exact dedup with document reassembly (C4-style)
# ---------------------------------------------------------------------------
# The sub-document granularity the doc-level ops above cannot express: C4
# (Raffel et al. 2020, §2.2) discards "all but one of any three-sentence
# span occurring more than once in the data set" and keeps the REST of each
# document — the corpus transform, not just a duplicate report (q43) or a
# containment report (q143). Token-adapted here: disjoint 3-token spans
# over the whitespace-tokenized corpus (the reference corpus has no
# sentence markers); the first occurrence GLOBALLY (min (doc_id, span_id))
# survives, every later occurrence — across documents or within one — is
# removed, and each document is reassembled from its surviving spans in
# position order.
#
# Determinism: outputs are integers and strings only — no floats, so the
# ROUND/-0.0 drift classes cannot occur by construction. The keeper rule is
# a pure argmin over the unique key (doc_id, span_id); the oracle's
# ROW_NUMBER(ORDER BY doc_id, span_id) and Spark's MIN(STRUCT(doc_id,
# span_id)) are the same argmin with no ties possible. NULL text is
# twin-filtered; a document whose every span first occurred elsewhere keeps
# zero spans and reassembles to '' (COALESCE on both engines).
#
# 100 TB shape — deliberately NOT a window over span_text: boilerplate
# spans ("click here to subscribe") carry millions of occurrences at scale,
# and a window's sort-within-partition has no partial aggregation, so one
# hot span serializes one reducer. The keeper is found with a
# partial-aggregatable groupBy(span_text) -> MIN(STRUCT(...)): map-side
# combine collapses each span's duplicate mass to one row per map task
# BEFORE the shuffle, so the hot key ships O(tasks) rows, not O(dups).
# Reassembly then shuffles only the SURVIVING spans by doc_id, and the
# final totals-vs-kept join is exchange-free (both sides are already
# hash-partitioned by doc_id by their own aggregations). Span construction
# is sequence+slice inside whole-stage codegen (the q206 lesson: no
# higher-order lambdas on the fan-out path; the only lambda runs over the
# per-document POST-aggregation array). No reference equivalent: the
# reference pipeline has no dedup operator at any granularity — this is a
# north-star extension (SURVEY.md §2.10, C4 §2.2 span-level dedup).

def _doc_unit_fanout(
    spark: SparkSession, sf_dir: str, width: int, prefix: str
) -> tuple[DataFrame, DataFrame]:
    """Shared disjoint token-window fan-out for the sub-document dedup
    family (q207 3-token spans, q208 5-token lines): returns
    ``(units, totals)`` where units is one row per disjoint ``width``-token
    window — (doc_id, {prefix}_id, {prefix}_text, {prefix}_len) — and
    totals is one row per document (doc_id, n_units, n_tokens).

    Plan notes shared by every consumer: ONE doc_id exchange
    (:func:`exchanged_docs`) in front of the generate. Window
    construction is sequence+slice inside whole-stage codegen — no
    higher-order lambdas on the fan-out path. Disjoint
    windows cover the token array exactly, so ``totals`` is a pure
    projection of the tokenized base: no second fan-out, no aggregation,
    already hash-partitioned by doc_id. (The oracles derive the same
    totals from the exploded units, which doubles as a disjoint-cover
    check.)"""
    base = exchanged_docs(spark, sf_dir).select(
        "doc_id", tokens_expr("text").alias("toks")
    )
    units = _unit_fanout_from(base, width, prefix)
    totals = base.select(
        "doc_id",
        _n_units_expr(width).alias("n_units"),
        F.size("toks").cast("bigint").alias("n_tokens"),
    )
    return units, totals


def _n_units_expr(width: int) -> Column:
    """Disjoint-window count over a ``toks`` array — ceil(len/width). ONE
    definition shared by the fan-out (:func:`_unit_fanout_from`) and the
    totals projection (:func:`_doc_unit_fanout`): the disjoint-cover
    invariant (totals.n_units == exploded units per doc, which the oracles
    re-derive as a check) depends on these two staying identical."""
    return F.ceil(F.size("toks") / float(width)).cast("bigint")


def _unit_fanout_from(base: DataFrame, width: int, prefix: str) -> DataFrame:
    """The fan-out itself, over an arbitrary ``(doc_id, toks)`` relation:
    one row per disjoint ``width``-token window. Factored out of
    :func:`_doc_unit_fanout` (same expression tree — q207/q208 plans
    unchanged) so pipeline stages can re-window ALREADY-TRANSFORMED token
    arrays (q210's span stage runs on post-scrub tokens). Deliberately no
    repartition here: every caller's base is already hash-partitioned by
    doc_id (the table path repartitions explicitly before calling; the
    q210 path arrives from a doc_id groupBy), so an exchange would be
    pure waste."""
    uid, utext, ulen = f"{prefix}_id", f"{prefix}_text", f"{prefix}_len"
    sl = F.slice("toks", F.col(uid) * width + 1, width)
    return base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), _n_units_expr(width) - 1)).alias(uid),
    ).select(
        "doc_id",
        uid,
        F.array_join(sl, " ").alias(utext),
        F.size(sl).cast("bigint").alias(ulen),
    )


def _boiler_set(units: DataFrame, key: str) -> DataFrame:
    """The boilerplate set shared by the scrub family (q208 raw key,
    q209 normalized key, q210's stage 2): distinct values of ``key``
    appearing in >= _BOILER_DF distinct documents. countDistinct plans
    as two partial-agg stages (dedup (key, doc_id), then count) —
    skew-safe on hot lines, unlike a window over the key. Consumers
    LEFT ANTI join against this set; the join strategy is deliberately
    left to AQE (see the q208 block comment for the 100 TB rationale)."""
    return (
        units.groupBy(key)
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select(key)
    )


def _reassemble_kept(kept_units: DataFrame, prefix: str, text_alias: str) -> DataFrame:
    """Per-document reassembly of surviving units in position order:
    (doc_id, kept_units, kept_tokens, <text_alias>). The unit id is
    unique per doc, so the struct sort never compares unit text, and the
    transform lambda runs once per document over an already-aggregated
    (small) array — never on the fan-out path."""
    uid, utext, ulen = f"{prefix}_id", f"{prefix}_text", f"{prefix}_len"
    return kept_units.groupBy("doc_id").agg(
        F.count("*").alias("kept_units"),
        F.sum(ulen).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(uid, utext))),
                lambda s: s[utext],
            ),
            " ",
        ).alias(text_alias),
    )


def _finish_units(
    totals: DataFrame,
    kept: DataFrame,
    n_units_alias: str,
    kept_units_alias: str,
    text_alias: str,
) -> DataFrame:
    """Final totals-vs-kept left join + zero/empty coalesce (a document
    that keeps no units reassembles to ''). Both sides arrive
    hash-partitioned by doc_id from their own aggregations/projections."""
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.col("n_units").cast("bigint").alias(n_units_alias),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("kept_units", F.lit(0)).cast("bigint").alias(kept_units_alias),
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        F.coalesce(text_alias, F.lit("")).alias(text_alias),
    )


def _unit_body_sql(width: int, prefix: str, src: str) -> str:
    """Oracle twin of :func:`_unit_fanout_from`: the disjoint-window
    RANGE/LIST_TRANSFORM/slice fan-out body over an arbitrary
    ``(doc_id, toks)`` CTE named ``src``. ONE definition — q207/q208/q209
    consume it via :func:`_unit_cte_sql`, q210 re-windows its own sources
    (post-dedup ``base``, post-scrub ``base2``) — so the cross-engine
    disjoint-cover guarantee cannot drift between the oracles."""
    return f"""  SELECT doc_id,
    UNNEST(LIST_TRANSFORM(RANGE(0, CAST(CEIL(LEN(toks) / {width}.0) AS BIGINT)),
      i -> {{'{prefix}_id': i,
            '{prefix}_text': ARRAY_TO_STRING(toks[(i*{width}+1):(i*{width}+{width})], ' '),
            '{prefix}_len': LEN(toks[(i*{width}+1):(i*{width}+{width})])}})) AS s
  FROM {src}"""


def _unit_cte_sql(width: int, prefix: str) -> str:
    """Oracle twin of :func:`_doc_unit_fanout`: the shared base+units
    DuckDB CTE prefix (consumers append their keeper/filter logic over
    ``units``, whose struct column ``s`` carries {prefix}_id/{prefix}_text/
    {prefix}_len)."""
    return f"""WITH base AS (
  SELECT doc_id, {tokens_sql('text')} AS toks
  FROM documents WHERE text IS NOT NULL
),
units AS (
{_unit_body_sql(width, prefix, "base")}
)"""


_SPAN = 3

_Q207_SQL = _unit_cte_sql(_SPAN, "span") + """,
ranked AS (
  SELECT doc_id, s.span_id AS span_id, s.span_text AS span_text,
         s.span_len AS span_len,
         ROW_NUMBER() OVER (PARTITION BY s.span_text
                            ORDER BY doc_id, s.span_id) AS rn
  FROM units
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(span_len) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
  CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN span_len END), 0) AS BIGINT) AS kept_tokens,
  COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_id), '')
    AS dedup_text
FROM ranked
GROUP BY doc_id
"""


@query("q207_span_dedup_reassemble", _Q207_SQL)
def q207_span_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup + reassembly (C4 §2.2, token-adapted): split
    each document into disjoint 3-token spans, keep only each span's first
    global occurrence (argmin (doc_id, span_id)), and rebuild every
    document from its surviving spans in position order. One row per
    document: span/token totals, kept counts, and the deduplicated text.
    See the block comment above for the skew-safe keeper plan (partial-agg
    MIN(STRUCT) instead of a window over span_text) and determinism notes;
    fan-out/reassembly plan notes live on the shared helpers
    (:func:`_doc_unit_fanout`, :func:`_reassemble_kept`)."""
    spans, totals = _doc_unit_fanout(spark, sf_dir, _SPAN, "span")
    # span_len is constant across a span_text group (same tokens); MAX is
    # the deterministic way to carry it through without joining back.
    firsts = spans.groupBy("span_text").agg(
        F.min(F.struct("doc_id", "span_id")).alias("fo"),
        F.max("span_len").alias("span_len"),
    )
    kept = _reassemble_kept(
        firsts.select(
            F.col("fo.doc_id").alias("doc_id"),
            F.col("fo.span_id").alias("span_id"),
            "span_text",
            "span_len",
        ),
        "span",
        "dedup_text",
    )
    return _finish_units(totals, kept, "n_spans", "kept_spans", "dedup_text")


# ---------------------------------------------------------------------------
# q208: line-level boilerplate scrub with document reassembly
# (RefinedWeb / CCNet-style per-line frequency filtering)
# ---------------------------------------------------------------------------
# The remaining dedup granularity between document (q43) and span-keeper
# (q207): CCNet (Wenzek et al. 2020, §3) and RefinedWeb (Penedo et al.
# 2023, §3.3) hash each LINE of every document and remove lines duplicated
# across documents — navigation menus, cookie banners, "click to
# subscribe" — keeping the rest of each document. The filter rule differs
# from q207's in kind, not just granularity: a line whose DOCUMENT
# FREQUENCY is >= 2 is removed EVERYWHERE (no surviving first occurrence —
# boilerplate is noise, not content), while a line repeated only WITHIN
# one document survives untouched (df counts distinct documents, and
# within-doc repetition is q206's repetition-signal concern, not
# boilerplate). Token-adapted like q207: the corpus has no newline or
# sentence markers, so a "line" is a disjoint 5-token window.
#
# Determinism: integer/string outputs only — no float drift class can
# exist. The df >= 2 rule is a pure property of the line_text group;
# no argmin, no ties, no ordering sensitivity anywhere.
#
# 100 TB shape: the df table is groupBy(line_text) over (line_text,
# doc_id)-DEDUPLICATED rows — Spark plans the distinct aggregate as two
# partial-aggregatable stages, so a hot boilerplate line ships one row
# per (map task, doc) to the first shuffle and one row per task to the
# second, never O(occurrences). The scrub itself is a LEFT ANTI join of
# spans against only the df >= 2 lines: that set is the filter's OUTPUT
# (thousands of distinct boilerplate lines, not the corpus), so AQE turns
# the anti join into a broadcast at runtime when it fits
# (spark.sql.autoBroadcastJoinThreshold) — leaving the spans side's
# doc_id partitioning intact for an exchange-free reassembly — and falls
# back to a shuffled join when a pathological corpus makes the
# boilerplate set itself huge. We deliberately do NOT force the
# broadcast: at 100 TB the df>=2 set's size is data-dependent, and the
# runtime decision is exactly what AQE is for. No reference equivalent:
# the reference pipeline has no dedup operator at any granularity — this
# is a north-star extension (SURVEY.md §2.10, CCNet §3 / RefinedWeb §3.3
# line-level boilerplate scrub).

_LINE = 5
_BOILER_DF = 2


def _scrub_sql(width: int, prefix: str, n_alias: str, kept_alias: str) -> str:
    """Oracle body shared by the raw-key scrub granularities (q208 5-token
    lines, q211 20-token paragraphs): the df table + per-document keep/
    reassemble over :func:`_unit_cte_sql`'s fan-out. ONE definition so the
    two granularities cannot drift; generating q208's SQL through it is
    byte-identical to the r8 literal (pinned by
    tests/test_extensions.py::test_scrub_and_rep_sql_generators_pin), so
    q208's oracle hash is unchanged by construction."""
    return _unit_cte_sql(width, prefix) + f""",
df AS (
  SELECT s.{prefix}_text AS {prefix}_text, COUNT(DISTINCT doc_id) AS df
  FROM units GROUP BY s.{prefix}_text
)
SELECT l.doc_id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS {n_alias},
  CAST(SUM(l.s.{prefix}_len) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN d.df < {_BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT) AS {kept_alias},
  CAST(COALESCE(SUM(CASE WHEN d.df < {_BOILER_DF} THEN l.s.{prefix}_len END), 0) AS BIGINT)
    AS kept_tokens,
  COALESCE(STRING_AGG(CASE WHEN d.df < {_BOILER_DF} THEN l.s.{prefix}_text END, ' '
                      ORDER BY l.s.{prefix}_id), '') AS clean_text
FROM units l JOIN df d ON l.s.{prefix}_text = d.{prefix}_text
GROUP BY l.doc_id
"""


_Q208_SQL = _scrub_sql(_LINE, "line", "n_lines", "kept_lines")


@query("q208_line_boilerplate_scrub", _Q208_SQL)
def q208_line_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate scrub + reassembly (CCNet §3 / RefinedWeb
    §3.3, token-adapted): split each document into disjoint 5-token
    lines, remove EVERY occurrence of any line appearing in >= 2 distinct
    documents, and rebuild each document from its surviving lines in
    position order. One row per document: line/token totals, kept counts,
    and the scrubbed text. See the block comment above for the
    distinct-agg df plan and the AQE-decided broadcast anti join;
    fan-out/reassembly plan notes live on the shared helpers
    (:func:`_doc_unit_fanout`, :func:`_reassemble_kept`)."""
    return _scrub_df(spark, sf_dir, _LINE, "line", "n_lines", "kept_lines")


def _scrub_df(
    spark: SparkSession,
    sf_dir: str,
    width: int,
    prefix: str,
    n_alias: str,
    kept_alias: str,
) -> DataFrame:
    """Spark body shared by the raw-key scrub granularities (q208/q211):
    fan-out -> df >= 2 boiler set -> LEFT ANTI -> reassemble. Same
    expression tree q208 always built — the factoring changes no plan
    (prefix/alias are name-only parameters)."""
    units, totals = _doc_unit_fanout(spark, sf_dir, width, prefix)
    kept = _reassemble_kept(
        units.join(_boiler_set(units, f"{prefix}_text"), f"{prefix}_text", "left_anti"),
        prefix,
        "clean_text",
    )
    return _finish_units(totals, kept, n_alias, kept_alias, "clean_text")


# ---------------------------------------------------------------------------
# q209: NORMALIZED-line boilerplate scrub (CCNet §3's actual hash key)
# ---------------------------------------------------------------------------
# q208 groups lines by RAW text; CCNet (Wenzek et al. 2020, §3) hashes a
# NORMALIZED form — lowercased, digits collapsed, punctuation stripped — so
# "Copyright 2023." and "copyright 2024" land in the same df group and a
# cosmetic edit can't save a boilerplate line from the scrub. q209 is q208
# with that key: the df table and the anti join run on norm_key while the
# OUTPUT text stays the original line (normalization is a grouping key, not
# a rewrite). Normalization here = lower -> strip [^a-z0-9 ] -> digit runs
# to '0' -> collapse/trim spaces, expressed as the same three
# regexp_replace steps in both engines (CCNet also strips accents via
# unidecode; neither engine has a portable twin, so that step is
# deliberately out of scope and documented). Semantics guarantee: every
# norm group is a UNION of raw-text groups, so q209's boilerplate set is a
# superset of q208's occurrence-for-occurrence — kept_lines(q209) <=
# kept_lines(q208) per document, pinned by test. On the all-lowercase
# digit-free sf corpus the key is an identity and q209 == q208 (also
# pinned); the hand-built edge corpus exercises the widening.
#
# Determinism: integer/string outputs only, df >= 2 is a pure group
# property — same no-drift-class construction as q208. 100 TB shape:
# identical plan family to q208 (two-stage distinct agg over the SMALLER
# projected (norm_key, doc_id) pairs; AQE-decided broadcast LEFT ANTI —
# deliberately not forced, same rationale as q208's block comment);
# normalization itself is three regexp_replace calls inside whole-stage
# codegen on the already-fanned-out lines, adding no shuffle and no
# Python. No reference equivalent (SURVEY.md §2.10 north-star extension).


def _norm_line_expr(c: Column) -> Column:
    """CCNet §3-style line normalization key (JVM codegen, no UDF):
    lowercase, strip non-[a-z0-9 space], collapse digit runs to '0',
    collapse runs of spaces, trim."""
    x = F.lower(c)
    x = F.regexp_replace(x, "[^a-z0-9 ]", "")
    x = F.regexp_replace(x, "[0-9]+", "0")
    return F.trim(F.regexp_replace(x, " +", " "))


def _norm_line_sql(col: str) -> str:
    """DuckDB twin of :func:`_norm_line_expr` (RE2 'g' flag = Java
    replace-all; identical ASCII character classes on both engines)."""
    return (
        "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE("
        f"LOWER({col}), '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'),"
        " ' +', ' ', 'g'))"
    )


def _norm_scrub_ctes_sql(units: str, df: str) -> str:
    """The normalized-key scrub core shared by q209 and q216's oracles:
    ``normed`` (q209's norm_key over a line fan-out CTE named ``units``)
    + the ``{df}`` distinct-doc-count table. ONE definition so the two
    consumers cannot drift (the q213 hand-copy lesson); generating
    q209's SQL through it is byte-identical to the r8 literal
    (sha256-pinned in test_lang_and_lm_sql_generators_pin)."""
    return f"""normed AS (
  SELECT doc_id, s.line_id AS line_id, s.line_text AS line_text,
         s.line_len AS line_len,
         {_norm_line_sql('s.line_text')} AS norm_key
  FROM {units}
),
{df} AS (
  SELECT norm_key, COUNT(DISTINCT doc_id) AS df
  FROM normed GROUP BY norm_key
)"""


_Q209_SQL = _unit_cte_sql(_LINE, "line") + f""",
{_norm_scrub_ctes_sql("units", "df")}
SELECT n.doc_id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(n.line_len) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN d.df < {_BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
  CAST(COALESCE(SUM(CASE WHEN d.df < {_BOILER_DF} THEN n.line_len END), 0) AS BIGINT)
    AS kept_tokens,
  COALESCE(STRING_AGG(CASE WHEN d.df < {_BOILER_DF} THEN n.line_text END, ' '
                      ORDER BY n.line_id), '') AS clean_text
FROM normed n JOIN df d ON n.norm_key = d.norm_key
GROUP BY n.doc_id
"""


@query("q209_normalized_line_scrub", _Q209_SQL)
def q209_normalized_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-line boilerplate scrub + reassembly (CCNet §3's actual
    hash key): like q208, but the df >= 2 rule groups lines by a
    normalized key (lowercase, punctuation stripped, digit runs -> '0',
    spaces collapsed), so cosmetically-varying boilerplate is caught; the
    reassembled output keeps each surviving line's ORIGINAL text. One row
    per document: line/token totals, kept counts, scrubbed text. See the
    block comment above for the key definition, the superset-of-q208
    guarantee, and the (unchanged-from-q208) distinct-agg + AQE-anti-join
    plan shape."""
    lines, totals = _doc_unit_fanout(spark, sf_dir, _LINE, "line")
    lines = lines.withColumn("norm_key", _norm_line_expr(F.col("line_text")))
    kept = _reassemble_kept(
        lines.join(_boiler_set(lines, "norm_key"), "norm_key", "left_anti")
        .drop("norm_key"),
        "line",
        "clean_text",
    )
    return _finish_units(totals, kept, "n_lines", "kept_lines", "clean_text")


# ---------------------------------------------------------------------------
# q210: end-to-end curation pipeline (doc dedup -> scrub -> span dedup)
# ---------------------------------------------------------------------------
# The composition real curation stacks run (RefinedWeb Fig. 2, CCNet §3,
# C4 §2.2 chained), as one query: stage 1 drops exact-duplicate DOCUMENTS
# (q43's fingerprint argmin — keep the lowest doc_id per normalized-text
# fingerprint), stage 2 removes cross-document boilerplate lines among
# the SURVIVORS (q208 semantics — df is counted over the post-dedup
# corpus, as a staged pipeline would), stage 3 runs keep-first span dedup
# over each survivor's post-scrub token sequence (q207 semantics —
# windows recomputed over the scrubbed sequence, crossing old line
# boundaries). Output is the integer YIELD LEDGER — per document:
# original tokens, a 0/1 kept_exact flag, tokens surviving the scrub,
# tokens surviving span dedup — the artifact a pipeline operator actually
# monitors (how much mass each stage removes). Integer outputs only: no
# drift class by construction.
#
# STAGE-ORDER RATIONALE (provable, not stylistic): exact doc-dedup must
# run FIRST. Run after global keep-first span dedup it is vacuous — the
# keeper keeps exactly one occurrence of each distinct span, so no two
# documents can share any span afterward, and two nonempty final texts
# can never be equal (a first q210 draft had dedup last; the proof made
# its stage 3 dead code). Exact-first is also the 100 TB-efficient
# order: whole-document duplicate mass is dropped by a fingerprint agg
# that ships 32-byte (fp, doc_id) pairs — BEFORE the 1:many line/span
# fan-outs multiply it.
#
# Cross-engine equivalence notes: (a) Spark rebuilds each survivor's
# post-scrub token sequence by flattening the kept lines' token arrays
# (one post-agg transform, never on the fan-out path); the oracle
# re-splits the space-joined clean text WITHOUT trimming — these agree
# because '' tokens can only sit at the EDGES of a document's token
# sequence (trim strips spaces but not tabs/newlines, so split(trim)
# yields a leading/trailing '' exactly when the text is edged by such
# whitespace — \s+ collapsing makes a mid-sequence '' impossible), and
# both engines' regex split keeps edge empties (verified: ' a b ' ->
# ['','a','b',''] on Spark split(-1) and the DuckDB twin split_sql
# alike). A TRIM in the oracle's re-split WOULD drop a leading ''
# token the Spark flatten keeps — a first draft had exactly that bug
# on tab-led documents (caught by review + repro, pinned by test).
# (b) The fingerprint md5 is a GROUPING key only — never
# output — so engine hash parity is irrelevant beyond both sides using
# the same normalization (lower + whitespace collapse, q43's rule).
#
# 100 TB shape: three chained shuffle groups, each its standalone
# query's adjudicated plan — fingerprint argmin (map-side combine, one
# (fp, doc_id) row per task per fingerprint; survivors selected by a
# doc_id SEMI join so document text never rides the fp shuffle), scrub's
# two-stage distinct-agg df table + AQE-decided broadcast anti join
# (q208's rationale), span keeper's partial-agg MIN(STRUCT) (q207's skew
# argument). The stage-3 fan-out reuses stage 2's doc_id partitioning
# (no exchange before the explode); the ledger joins run on doc_id. No
# reference equivalent (SURVEY.md §2.10 north-star extension).

# Reassembly of a document's kept lines (a ``kept_lines`` CTE) into its
# scrubbed text and kept-token count.
_SCRUBBED_CTE_SQL = """scrubbed AS (
  SELECT doc_id, SUM(line_len) AS scrub_kept_tokens,
         STRING_AGG(line_text, ' ' ORDER BY line_id) AS clean_text
  FROM kept_lines GROUP BY doc_id
)"""


def _curation_chain_sql(docs: str, body: str, sfx: str) -> str:
    """Oracle twin of :func:`_curation_stages`: the exact-dedup -> line
    scrub -> span keep-first CTE chain every curation composition
    (q210/q213/q214/q217/q218) runs over its survivors. ``{docs}`` is
    ``body``, the survivors' (doc_id, text, fp); the chain emits
    ``keep_ids`` (min doc_id per fingerprint), ``scrubbed`` and ``sp``,
    which :func:`_yield_ledger_sql` reads. ``sfx`` suffixes the base/
    units/df CTE names, because the q212 flag stack the gated
    compositions build on already binds ``base``. ONE definition so the
    compositions cannot drift; every oracle it generates is byte-identical
    to its introduction string (sha256-pinned in
    test_scrub_and_rep_sql_generators_pin), so no oracle hash moves."""
    base, units, df = f"base{sfx}", f"units{sfx}", f"df{sfx}"
    return f"""{docs} AS (
  {body}
),
keep_ids AS (
  SELECT MIN(doc_id) AS doc_id FROM {docs} GROUP BY fp
),
{base} AS (
  SELECT d.doc_id AS doc_id, {tokens_sql('d.text')} AS toks
  FROM {docs} d JOIN keep_ids k ON d.doc_id = k.doc_id
),
{units} AS (
{_unit_body_sql(_LINE, "line", base)}
),
{df} AS (
  SELECT s.line_text AS line_text, COUNT(DISTINCT doc_id) AS df
  FROM {units} GROUP BY s.line_text
),
kept_lines AS (
  SELECT l.doc_id AS doc_id, l.s.line_id AS line_id,
         l.s.line_text AS line_text, l.s.line_len AS line_len
  FROM {units} l JOIN {df} d ON l.s.line_text = d.line_text
  WHERE d.df < {_BOILER_DF}
),
{_SCRUBBED_CTE_SQL},
base2 AS (
  SELECT doc_id, {split_sql('clean_text')} AS toks
  FROM scrubbed
),
spans AS (
{_unit_body_sql(_SPAN, "span", "base2")}
),
ranked AS (
  SELECT doc_id, s.span_text AS span_text, s.span_len AS span_len,
         ROW_NUMBER() OVER (PARTITION BY s.span_text
                            ORDER BY doc_id, s.span_id) AS rn
  FROM spans
),
sp AS (
  SELECT doc_id,
         SUM(CASE WHEN rn = 1 THEN span_len ELSE 0 END) AS span_kept_tokens
  FROM ranked GROUP BY doc_id
)"""


def _gated_docs_sql(gate: str) -> str:
    """:func:`_curation_chain_sql` input of the gated compositions: the
    non-null documents whose doc_id is in the CTE ``gate``, with their
    fingerprint."""
    return f"""SELECT d.doc_id AS doc_id, d.text AS text, {DOC_FP_SQL} AS fp
  FROM documents d JOIN {gate} q ON d.doc_id = q.doc_id
  WHERE d.text IS NOT NULL"""


def _yield_ledger_sql(spine: str, stages: list[tuple[str, str, str]]) -> str:
    """Oracle twin of :func:`_yield_ledger`: the final SELECT that
    LEFT-joins each stage CTE onto ``spine`` (``"<cte> <alias>"``, one
    row per document with doc_id and n_tokens) in stage order. A stage
    is (column, cte, alias): a ``kept_*`` column is the 0/1 membership
    flag of its doc_id CTE, any other column is the CTE's value of that
    name, 0 when absent."""
    s = spine.split()[1]
    cols = [f"CAST({s}.n_tokens AS BIGINT) AS n_tokens"]
    joins = ""
    for col, cte, a in stages:
        if col.startswith("kept_"):
            value = f"CASE WHEN {a}.doc_id IS NULL THEN 0 ELSE 1 END"
        else:
            value = f"COALESCE({a}.{col}, 0)"
        cols.append(f"CAST({value} AS BIGINT) AS {col}")
        joins += f"LEFT JOIN {cte} {a} ON {s}.doc_id = {a}.doc_id\n"
    return f"SELECT {s}.doc_id AS doc_id,\n  " + ",\n  ".join(cols) + f"\nFROM {spine}\n" + joins


# the ledger stages :func:`_curation_chain_sql` emits, in stage order
_CHAIN_LEDGER_SQL = [
    ("kept_exact", "keep_ids", "k"),
    ("scrub_kept_tokens", "scrubbed", "b"),
    ("span_kept_tokens", "sp", "v"),
]

_Q210_SQL = (
    "WITH "
    + _curation_chain_sql(
        "docs",
        f"""SELECT doc_id, text, {DOC_FP_SQL} AS fp
  FROM documents WHERE text IS NOT NULL""",
        "",
    )
    + f""",
totals AS (
  SELECT doc_id, LEN({tokens_sql('text')}) AS n_tokens
  FROM docs
)
"""
    + _yield_ledger_sql("totals t", _CHAIN_LEDGER_SQL)
)


def _kept_line_toks() -> Column:
    """Aggregate over a document's kept lines: its post-scrub token
    sequence, the lines' tokens flattened in position order (one post-agg
    transform, never on the fan-out path). The oracles re-split the
    STRING_AGG'd clean text instead; see the q210 block comment for why
    the two agree."""
    return F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("line_id", "line_text"))),
            lambda s: F.split(s["line_text"], " "),
        )
    )


def _curation_stages(base: DataFrame) -> list[tuple[str, DataFrame]]:
    """Spark twin of :func:`_curation_chain_sql`, shared by every curation
    composition over an arbitrary ``(doc_id, text)`` relation already
    hash-partitioned by doc_id: stage 1 exact fingerprint dedup (argmin
    doc_id; survivors by doc_id SEMI join so text never crosses the fp
    shuffle — only 32-byte (fp, doc_id) pairs do), stage 2 line scrub
    (df over THIS relation), stage 3 span keep-first on post-scrub tokens
    (counts only, no reassembly text). Returns the chain's
    :func:`_yield_ledger` stages: kept_exact, scrub_kept_tokens,
    span_kept_tokens."""
    fp = base.select("doc_id", doc_fp_expr().alias("fp"))
    keep_ids = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = base.join(keep_ids, "doc_id", "semi").select(
        "doc_id", tokens_expr("text").alias("toks")
    )
    lines = _unit_fanout_from(survivors, _LINE, "line")
    kept_lines = lines.join(_boiler_set(lines, "line_text"), "line_text", "left_anti")
    scrubbed = kept_lines.groupBy("doc_id").agg(
        F.sum("line_len").alias("scrub_kept_tokens"),
        _kept_line_toks().alias("toks"),
    )
    spans = _unit_fanout_from(scrubbed.select("doc_id", "toks"), _SPAN, "span")
    span_kept = (
        spans.groupBy("span_text")
        .agg(
            F.min(F.struct("doc_id", "span_id")).alias("fo"),
            F.max("span_len").alias("span_len"),
        )
        .select(F.col("fo.doc_id").alias("doc_id"), "span_len")
        .groupBy("doc_id")
        .agg(F.sum("span_len").alias("span_kept_tokens"))
    )
    return [
        ("kept_exact", keep_ids),
        ("scrub_kept_tokens", scrubbed.select("doc_id", "scrub_kept_tokens")),
        ("span_kept_tokens", span_kept),
    ]


def _yield_ledger(base: DataFrame, stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """The curation compositions' shared ledger: LEFT-join each stage onto
    the cheap base-scan spine (doc_id, n_tokens of ``base``'s text) in
    stage order, then COALESCE every stage column to 0 as bigint. A stage
    is (column, relation): a ``kept_*`` relation is a doc_id set whose
    members get 1, any other is shaped ``(doc_id, <column>)``. ONE
    definition so the compositions' ledgers cannot drift
    (:func:`_yield_ledger_sql` is the oracle twin); all joins on
    doc_id."""
    out = base.select(
        "doc_id", F.size(tokens_expr("text")).cast("bigint").alias("n_tokens")
    )
    for name, rel in stages:
        if name.startswith("kept_"):
            rel = rel.select("doc_id", F.lit(1).alias(name))
        out = out.join(rel, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        *[F.coalesce(name, F.lit(0)).cast("bigint").alias(name) for name, _ in stages],
    )


@query("q210_curation_pipeline", _Q210_SQL)
def q210_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: q43-style exact document dedup ->
    q208 line-level boilerplate scrub over the survivors -> q207 span
    keep-first dedup over each survivor's post-scrub token sequence;
    returns the per-document integer yield ledger (doc_id, n_tokens,
    kept_exact, scrub_kept_tokens, span_kept_tokens). See the block
    comment above for the provable stage-order rationale (dedup-last is
    vacuous after a global span keeper), the Spark-vs-oracle token-
    rebuild equivalence, and the 100 TB plan shape."""
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "text")
    return _yield_ledger(base0, _curation_stages(base0))


# ---------------------------------------------------------------------------
# q211: paragraph-level boilerplate scrub (RefinedWeb §3.3's coarser unit)
# ---------------------------------------------------------------------------
# RefinedWeb (Penedo et al. 2023, §3.3) and Dolma remove exact-duplicate
# text at PARAGRAPH granularity as well as line granularity — the coarser
# unit trades recall for precision: a duplicated navigation line inside an
# otherwise-unique paragraph no longer deletes content around it. Token-
# adapted like the rest of the family (the corpus has no newline markers):
# a "paragraph" is a disjoint 20-token window = exactly 4 of q208's 5-token
# lines, and the df >= _BOILER_DF remove-everywhere rule is unchanged.
# Shares every helper with q208 — _doc_unit_fanout/_boiler_set/
# _reassemble_kept/_finish_units on the Spark side, _scrub_sql on the
# oracle side — only (width, prefix, aliases) differ.
#
# Cross-granularity invariant (pinned by test, provable): every token q211
# removes, q208 removes too — kept_tokens(q208) <= kept_tokens(q211) per
# document. Proof sketch: _PARA = 4 * _LINE and both window families align
# at token 0, so each paragraph window is exactly the concatenation of 4
# line windows at fixed offsets (the trailing short paragraph subdivides
# the same way). space-join over \s+-split tokens is injective at fixed
# token count (tokens carry no spaces), so two equal paragraph texts in
# two documents imply their 4 constituent line texts are pairwise equal —
# each of those lines therefore appears in >= the same 2 documents and
# q208's df rule removes it. The converse fails by design (a df>=2 line
# inside a unique paragraph), which is the precision argument.
#
# Determinism: integer/string outputs, pure df group property — q208's
# no-drift-class construction verbatim. 100 TB shape: identical plan
# family to q208 (3 exch / 2 bhj expected; two-stage distinct-agg df
# table, AQE-decided broadcast LEFT ANTI — deliberately not forced, same
# rationale as q208's block comment) with a 4x SMALLER fan-out: the unit
# rows shipped to the df shuffle and the anti join number n_tokens/20 per
# document instead of n_tokens/5, at the same total token mass. No
# reference equivalent (SURVEY.md §2.10 north-star extension).

_PARA = 4 * _LINE

_Q211_SQL = _scrub_sql(_PARA, "para", "n_paras", "kept_paras")


@query("q211_paragraph_boilerplate_scrub", _Q211_SQL)
def q211_paragraph_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate scrub + reassembly (RefinedWeb §3.3's
    coarser dedup unit, token-adapted): split each document into disjoint
    20-token paragraphs, remove EVERY occurrence of any paragraph appearing
    in >= 2 distinct documents, and rebuild each document from its
    surviving paragraphs in position order. One row per document:
    paragraph/token totals, kept counts, scrubbed text. See the block
    comment above for the kept_tokens(q208) <= kept_tokens(q211)
    cross-granularity invariant and the 4x-smaller-fan-out scale note;
    plan notes live on the shared helpers (:func:`_doc_unit_fanout`,
    :func:`_boiler_set`, :func:`_reassemble_kept`)."""
    return _scrub_df(spark, sf_dir, _PARA, "para", "n_paras", "kept_paras")


# ---------------------------------------------------------------------------
# q213: FILTERED curation pipeline (quality gate -> dedup -> scrub -> spans)
# ---------------------------------------------------------------------------
# q210 is the dedup-family composition; real curation stacks run a QUALITY
# FILTER in front of it (RefinedWeb Fig. 2 filters before dedup; Gopher
# A1.1 and Dolma likewise) — junk documents should neither win a dedup
# argmin nor contribute lines to the boilerplate df table. q213 is that
# full chain: stage 0 drops documents failing q212's Gopher rules, stages
# 1-3 are q210's (exact fingerprint dedup -> line scrub -> span
# keep-first) run over the quality-passing corpus only. Output is the
# per-document integer yield ledger with the filter stage attributed:
# (doc_id, n_tokens, kept_quality, kept_exact, scrub_kept_tokens,
# span_kept_tokens).
#
# STAGE-ORDER RATIONALE: filter-first is not merely stylistic. (a)
# Decision-wise it CHANGES later stages, observably: exact dedup's argmin
# keeper is chosen AMONG quality survivors, so a duplicate pair whose
# lowest-doc_id copy fails quality still keeps its passing copy (pinned
# by test; dedup-first would drop the passing copy as a duplicate of a
# document that filtering then kills — losing content the filter never
# objected to). (b) The scrub's df table counts the post-filter corpus:
# boilerplate frequency measured over junk is noise. (c) It is also the
# 100 TB-efficient order — the gate is the cheapest stage per byte
# (per-document signals, no cross-document state beyond q206's
# partial-agg gram counts) and drops mass before the fingerprint shuffle
# and the 1:many fan-outs.
#
# Determinism: all-integer ledger, q212's all-integer thresholds, q210's
# integer stage accounting — no drift class by construction anywhere in
# the chain. Single definition of the quality decision on both engines:
# Spark consumes q212_gopher_quality_filter's `kept` verbatim; the
# oracle builds on the SAME _Q212_CTES flag stack (text.py) with the
# five-flag conjunction spelled once in its qkeep CTE. Equivalence pin:
# on a corpus where every document passes the gate, q213's stage columns
# equal q210's ledger exactly (tested); on the sf corpus the gate fires
# and the downstream stages see a genuinely smaller corpus.
#
# 100 TB shape: q212's adjudicated two-branch plan feeds a doc_id SEMI
# gate (survivor doc_ids only — the filter verdict, not the signals,
# rides the join), then q210's adjudicated stage chain: fingerprint
# argmin shipping 32-byte pairs, AQE-decided anti-join scrub, partial-agg
# MIN(STRUCT) span keeper, doc_id-aligned ledger joins. No reference
# equivalent (SURVEY.md §2.10 north-star extension).

# The five-rule conjunction of q212's flag stack, spelled once for every
# gated composition's verdict CTE.
_PASS_ALL_SQL = """WHERE pass_length AND pass_word_len AND pass_alpha AND pass_stopwords
    AND pass_repetition"""

_QKEEP_CTE_SQL = f"""qkeep AS (
  SELECT doc_id FROM flags
  {_PASS_ALL_SQL}
)"""

_Q213_SQL = (
    _Q212_CTES_SQL
    + f",\n{_QKEEP_CTE_SQL},\n"
    + _curation_chain_sql("docs", _gated_docs_sql("qkeep"), "1")
    + "\n"
    + _yield_ledger_sql("flags f", [("kept_quality", "qkeep", "q"), *_CHAIN_LEDGER_SQL])
)


def _quality_keep(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The quality gate's verdict as a cached doc_id set: the documents
    q212_gopher_quality_filter keeps (over ``docs`` when given, its
    override). Every gated composition reads the verdict more than once
    (the stage-0 semi gate and the ledger's kept_quality column, plus
    the pair-graph gate in q214), and without the cache each consumer
    re-executes q212's whole signal pipeline — a first cut carried q212
    as the ledger spine too and re-derived it under every downstream
    stage (measured 5.6-6.2 s solo at sf0.1, ~2x the sum of the parts;
    restructured + cached it is the sum of the parts). Cache state is
    bounded (one bigint per quality-passing document — the verdict,
    never the signals) and is released by session.release_session_state,
    the module's cache contract."""
    return (
        q212_gopher_quality_filter(spark, sf_dir, docs)
        .filter(F.col("kept"))
        .select("doc_id")
        .cache()
    )


@query("q213_filtered_curation_pipeline", _Q213_SQL)
def q213_filtered_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated curation composition (RefinedWeb Fig. 2's actual
    order): q212's Gopher-rule filter -> q43-style exact document dedup
    among the survivors -> q208 line scrub (df counted over the filtered,
    deduplicated corpus) -> q207 span keep-first over each survivor's
    post-scrub tokens; returns the per-document integer yield ledger
    (doc_id, n_tokens, kept_quality, kept_exact, scrub_kept_tokens,
    span_kept_tokens). See the block comment above for why filter-first
    is load-bearing (the dedup keeper is chosen among quality survivors —
    pinned by test) and the 100 TB plan shape."""
    qkeep = _quality_keep(spark, sf_dir)
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "text")
    # stage 0 — quality gate: only survivor doc_ids ride the join;
    # stages 1-3 are the shared chain over the gated relation (the df
    # table is counted over the filtered, deduplicated corpus)
    return _yield_ledger(
        base0,
        [("kept_quality", qkeep), *_curation_stages(base0.join(qkeep, "doc_id", "semi"))],
    )


# ---------------------------------------------------------------------------
# q214: fuzzy curation pipeline (filter -> NEAR-dup -> exact -> scrub -> span)
# ---------------------------------------------------------------------------
# q213 chains filter -> EXACT dedup -> scrub -> spans; published curation
# stacks (RefinedWeb §3.3 / Fig. 2, Dolma, Gopher A2) also run a FUZZY
# document-dedup stage — MinHash-style near-duplicate clustering with one
# keeper per cluster — between the quality filter and the exact stages.
# q214 is that full five-stage chain: stage 0 q212's Gopher gate, stage 1
# near-dup pair graph at JACCARD_THRESHOLD over the SURVIVOR corpus ->
# connected components -> keep each cluster's min doc_id (q44/q45 + q73
# composed, the q78 machinery), stages 2-4 are q210's chain (exact
# fingerprint dedup -> line scrub -> span keep-first) over the fuzzy
# survivors. Ledger: (doc_id, n_tokens, kept_quality, kept_fuzzy,
# kept_exact, scrub_kept_tokens, span_kept_tokens).
#
# STAGE-ORDER RATIONALE, beyond q213's: (a) the pair graph is built over
# quality survivors only, and the CLUSTERING is decision-bearing on that
# choice — connected components of the induced subgraph differ from
# restricting full-corpus components (dropping a junk node can split a
# cluster, and a junk node must never be the argmin keeper that evicts a
# passing near-duplicate; pinned by a hand corpus where the near-dup
# pair's low-doc_id copy fails the gate). (b) Fuzzy-before-exact is the
# published order and keeps the exact stage load-bearing for exactly the
# pairs fuzzy cannot see: q44/q45 block pairs within lang, so identical
# text under two lang labels is invisible to the fuzzy stage and caught
# by the global fingerprint argmin (pinned). (c) Same-lang exact
# duplicates have Jaccard 1.0 and are already collapsed by the fuzzy
# cluster keeper — for those docs the drop ATTRIBUTION moves from
# kept_exact to kept_fuzzy vs q213, which is the semantics an operator
# tuning the stack wants (the fuzzy stage's yield cost includes its
# exact-duplicate subset, as published yield tables report it).
#
# Determinism: the ledger is all-integer; pair existence is q44's exact
# within-lang token-set Jaccard (threshold on the RAW score — q44's
# adjudicated order), cluster labels are min-over-component (engine-free),
# q212/q210's integer machinery is reused verbatim — the only float is
# the Jaccard comparison itself, computed as the SAME single IEEE
# division on both engines (q44's driver-green construction).
#
# 100 TB shape: the gate drops mass BEFORE the pair build (the pair
# source reads the semi-joined scan, not the full corpus), bitmaps ship instead of text,
# components converge in O(diameter) rounds of partial-agg min-label
# propagation with localCheckpoint lineage cuts and 1-row convergence
# collects, and the downstream stages are q210's adjudicated shapes. No
# reference equivalent (SURVEY.md §2.10 north-star extension).

# The q212 flag stack opened as WITH RECURSIVE, for the compositions whose
# fuzzy stage needs the closure CTEs. The .replace() must have actually
# armed the keyword — a silent miss would surface only as a DuckDB parse
# error when the oracle runs (explicit raise, not assert: -O safe).
_Q212_RECURSIVE_CTES_SQL = _Q212_CTES_SQL.replace(
    "WITH base AS", "WITH RECURSIVE base AS", 1
)
if not _Q212_RECURSIVE_CTES_SQL.lstrip().startswith("WITH RECURSIVE base AS"):
    raise ValueError("the q212 flag stack failed to arm its RECURSIVE keyword")


def _fuzzy_keep_sql(docs: str) -> str:
    """Oracle twin of :func:`_fuzzy_keep` over a ``(doc_id, lang, text)``
    CTE named ``docs``: its token sets ``dt``, the closure CTEs,
    ``clusters`` and ``fkeep`` (the docs that are their cluster's min
    doc_id or in no cluster)."""
    return f"""dt AS (
  SELECT doc_id, lang,
         LIST_DISTINCT({tokens_sql('text')}) AS toks
  FROM {docs}
),
{_closure_ctes_sql("dt")},
clusters AS (
  {_CLUSTERS_SQL}
),
fkeep AS (
  SELECT d.doc_id AS doc_id, d.text AS text
  FROM {docs} d LEFT JOIN clusters c ON c.doc_id = d.doc_id
  WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
)"""


# :func:`_curation_chain_sql` input of the fuzzy compositions
_FKEEP_DOCS_SQL = f"SELECT doc_id, text, {DOC_FP_SQL} AS fp FROM fkeep"

_Q214_SQL = (
    _Q212_RECURSIVE_CTES_SQL
    + f""",
{_QKEEP_CTE_SQL},
docs AS (
  SELECT d.doc_id AS doc_id, d.text AS text, d.lang AS lang
  FROM documents d JOIN qkeep q ON d.doc_id = q.doc_id
  WHERE d.text IS NOT NULL
),
{_fuzzy_keep_sql("docs")},
"""
    + _curation_chain_sql("docs2", _FKEEP_DOCS_SQL, "1")
    + "\n"
    + _yield_ledger_sql(
        "flags f",
        [("kept_quality", "qkeep", "q"), ("kept_fuzzy", "fkeep", "fz"), *_CHAIN_LEDGER_SQL],
    )
)


def _fuzzy_keep(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The fuzzy-dedup stage: ``docs`` minus every non-keeper of the
    near-dup pair graph ``pairs`` (doc_a, doc_b) — min-label connected
    components, one keeper (the min doc_id) per component. ``pairs``
    must be built over exactly ``docs``'s survivors: components of that
    induced subgraph can differ from restricting full-corpus components
    (dropping a junk node may split a cluster)."""
    clusters = connected_components(sym_edges(pairs, "doc_a", "doc_b"))
    non_keepers = clusters.filter(F.col("comp") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(non_keepers, "doc_id", "left_anti")


@query("q214_fuzzy_curation_pipeline", _Q214_SQL)
def q214_fuzzy_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy curation composition (RefinedWeb §3.3 / Dolma's full stack):
    q212's Gopher-rule filter -> MinHash/Jaccard NEAR-dup clustering among
    the survivors with one keeper per connected component (q44/q45 + q73)
    -> q43-style exact fingerprint dedup -> q208 line scrub -> q207 span
    keep-first; returns the per-document integer yield ledger (doc_id,
    n_tokens, kept_quality, kept_fuzzy, kept_exact, scrub_kept_tokens,
    span_kept_tokens). See the block comment above for the stage-order
    rationale (the cluster keeper is chosen among quality survivors; the
    exact stage stays load-bearing for cross-lang identical text) and the
    100 TB plan shape."""
    qkeep = _quality_keep(spark, sf_dir)
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "text")
    # stage 1 — fuzzy dedup over the GATED corpus (the pair source reads
    # the semi-joined scan); stages 2-4 — the shared chain over the fuzzy
    # survivors (the df table counts the filtered, fuzzy-deduped corpus)
    gated = table(spark, sf_dir, "documents").join(qkeep.select("doc_id"), "doc_id", "semi")
    fkeep = _fuzzy_keep(base0.join(qkeep, "doc_id", "semi"), neardup_pairs(gated))
    return _yield_ledger(
        base0, [("kept_quality", qkeep), ("kept_fuzzy", fkeep), *_curation_stages(fkeep)]
    )


# ---------------------------------------------------------------------------
# q216: CCNet pipeline (normalized scrub -> lang-id -> per-lang LM tiers)
# ---------------------------------------------------------------------------
# The CCNet-ordered composition (Wenzek et al. 2020, §3-4) — the third
# published curation stack on the surface, next to the RefinedWeb orders
# (q210/q213/q214): stage 1 removes cross-document boilerplate with
# CCNet's own NORMALIZED hash key (q209 semantics — CCNet runs dedup
# FIRST, §3, noting it strips boilerplate before any model sees the text);
# stage 2 assigns each survivor a language by q42's marker argmax over the
# POST-SCRUB tokens (CCNet runs fastText on the deduplicated paragraphs);
# stage 3 trains q215's per-language add-k bigram LM on the post-scrub
# corpus, scores each document, and cuts each language into head/middle/
# tail at thirds of cumulative POST-SCRUB token mass (CCNet buckets by
# size in perplexity order). Output is one ledger row per non-null input
# document: original tokens, post-scrub tokens, predicted language,
# bigram count, LM score, tier ('unscored' for documents that lose every
# line to the scrub or keep < 2 tokens).
#
# STAGE ORDER IS DECISION-BEARING (pinned by test, CCNet's own argument):
# lang-id on post-scrub text differs from raw text — a document whose only
# language markers sit in boilerplate lines flips to 'und' after the
# scrub; and the LM trained on the scrubbed corpus scores differently
# than q215 over raw text (boilerplate mass no longer inflates its own
# bigram probabilities). Adaptations from the paper, documented: CCNet's
# LM is KenLM-trained on Wikipedia — here the LM trains on the corpus
# itself (q161's in-engine precedent); the accent-strip step of the
# normalization key is out of scope (q209's documented waiver).
#
# Determinism: the Spark side rebuilds each survivor's post-scrub token
# sequence by flattening kept lines' token arrays while the oracle
# re-splits the STRING_AGG'd clean text — equivalent by exactly q210's
# pinned edge-empties argument. Tier masses are the integer kept-token
# ledger values (identical by q209's construction); the only float is the
# decimal-pinned avg_neg_logp; the cut is all-integer (q215's rule).
#
# 100 TB shape: stage 1 is q209's adjudicated plan (two-stage distinct
# agg on the SMALLER (norm_key, doc_id) projection, AQE-decided broadcast
# anti join); the post-scrub ``langed`` relation (doc_id, toks, mass,
# lang) is cache()d — the module's documented packed-token-set precedent
# (q44), released by session.release_session_state — because THREE
# consumers need it (the LM pair fan-out, the mass join, the ledger) and
# re-deriving the scrub chain per consumer is exactly q213's measured
# first-cut mistake; the LM stage is q215's adjudicated shape (broadcast
# pruned LM, per-lang prefix window with the sketch-threshold /
# distributed-prefix-sum adjudication in q215's block comment). No
# reference equivalent (SURVEY.md §2.10 north-star extension).

_Q216_SQL = (
    f"""WITH base0 AS (
  SELECT doc_id, {tokens_sql('text')} AS toks
  FROM documents WHERE text IS NOT NULL
),
units AS (
"""
    + _unit_body_sql(_LINE, "line", "base0")
    + """
),
"""
    + _norm_scrub_ctes_sql("units", "ndf")
    + """,
kept_lines AS (
  SELECT n.doc_id AS doc_id, n.line_id AS line_id, n.line_text AS line_text,
         n.line_len AS line_len
  FROM normed n JOIN ndf d ON n.norm_key = d.norm_key
  WHERE d.df < """
    + str(_BOILER_DF)
    + """
),
"""
    + _SCRUBBED_CTE_SQL
    + f""",
clean_src AS (
  SELECT doc_id, {split_sql('clean_text')} AS toks,
         CAST(scrub_kept_tokens AS BIGINT) AS mass
  FROM scrubbed
),
"""
    + _lang_stage_cte_sql("clean_src")
    + """,
"""
    + _lm_tier_sql("langed")
    + """,
totals AS (
  SELECT doc_id, LEN(toks) AS n_tokens FROM base0
)
SELECT t.doc_id AS doc_id,
  CAST(t.n_tokens AS BIGINT) AS n_tokens,
  CAST(COALESCE(l.mass, 0) AS BIGINT) AS scrub_kept_tokens,
  COALESCE(l.lang, 'und') AS predicted_lang,
  CAST(COALESCE(x.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  x.avg_neg_logp AS avg_neg_logp,
  COALESCE(x.tier, 'unscored') AS tier
FROM totals t
LEFT JOIN langed l ON l.doc_id = t.doc_id
LEFT JOIN tiered x ON x.doc_id = t.doc_id
"""
)


@query("q216_ccnet_pipeline", _Q216_SQL)
def q216_ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-ordered curation composition (Wenzek et al. 2020 §3-4):
    q209 normalized-line boilerplate scrub -> q42 language-ID over the
    POST-SCRUB tokens -> q215's per-language bigram-LM head/middle/tail
    tiering by post-scrub token mass. One ledger row per non-null input
    document: doc_id, n_tokens, scrub_kept_tokens, predicted_lang,
    n_bigrams, avg_neg_logp, tier. See the block comment above for the
    decision-bearing stage order (lang-id and the LM both see scrubbed
    text), the documented CCNet adaptations, and the cached ``langed``
    relation's 100 TB rationale."""
    lines, totals = _doc_unit_fanout(spark, sf_dir, _LINE, "line")
    normed = lines.withColumn("norm_key", _norm_line_expr(F.col("line_text")))
    kept = normed.join(_boiler_set(normed, "norm_key"), "norm_key", "left_anti")
    scrubbed = kept.groupBy("doc_id").agg(
        F.sum("line_len").cast("bigint").alias("mass"),
        _kept_line_toks().alias("toks"),
    )
    # ONE cached post-scrub relation (module cache contract; released by
    # session.release_session_state) serving all three downstream reads.
    langed = scrubbed.select(
        "doc_id", "toks", "mass", lang_id_from_toks(F.col("toks")).alias("lang")
    ).cache()
    tiers = _lm_tier_df(langed)
    out = (
        totals.select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
        .join(langed.select("doc_id", "mass", "lang"), "doc_id", "left")
        .join(
            tiers.select("doc_id", "n_bigrams", "avg_neg_logp", "tier"),
            "doc_id",
            "left",
        )
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("mass", F.lit(0)).cast("bigint").alias("scrub_kept_tokens"),
        F.coalesce("lang", F.lit("und")).alias("predicted_lang"),
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        "avg_neg_logp",
        F.coalesce("tier", F.lit("unscored")).alias("tier"),
    )


# ---------------------------------------------------------------------------
# q217: tagged curation pipeline (filter -> blocklist/PII redaction ->
# fuzzy -> exact -> scrub -> span) — Dolma's tagger placement
# ---------------------------------------------------------------------------
# Dolma (Soldaini et al. 2024) runs CONTENT TAGGERS — PII masking, toxic/
# blocklist span redaction — between the quality filter and deduplication:
# the filter decides on RAW text, the taggers rewrite the surviving text,
# and every downstream stage (fuzzy dedup, exact dedup, scrub) sees the
# REWRITTEN text. q217 is q214's five-stage chain with that tagger stage
# spliced in: stage 0 q212's Gopher gate (raw text), stage 1 q131's
# word-boundary blocklist redaction over the gated scan (the PII-redaction
# plumbing — emails/SSNs are the same regexp_replace with different
# patterns), stage 2 near-dup pair graph over the REDACTED survivors ->
# connected components -> cluster argmin keeper, stages 3-5 q210's chain
# (exact fingerprint dedup -> line scrub -> span keep-first) over the
# redacted fuzzy survivors. Ledger: (doc_id, n_tokens, kept_quality,
# redact_hits, kept_fuzzy, kept_exact, scrub_kept_tokens,
# span_kept_tokens); n_tokens counts RAW tokens (word-boundary redaction
# is token-count-preserving, so the raw and redacted counts coincide —
# documented, not load-bearing).
#
# STAGE-ORDER RATIONALE, beyond q214's: (a) redaction BEFORE fuzzy dedup
# is decision-bearing — two documents differing ONLY in blocklisted terms
# sit below the Jaccard threshold raw but become identical after
# redaction, so the fuzzy stage collapses them (Dolma's motivation:
# masked PII must not keep near-duplicates distinct); pinned by a hand
# corpus where q214 keeps both copies and q217 drops one AT THE FUZZY
# stage. (b) The gate sees RAW text — a document whose redacted form
# would fail a Gopher rule (|[REDACTED]| = 10 chars inflates mean word
# length) is still kept, because the filter decision predates the
# rewrite; pinned by running the gate on the redacted twin corpus and
# observing the flip. (c) The scrub's df table counts REDACTED line text,
# so lines differing only in blocklisted terms merge into one boilerplate
# key (df >= 2 fires where raw df = 1) — pinned. (d) On a corpus with no
# blocklist hits the redaction is the identity and q217's stage columns
# equal q214's exactly, with redact_hits = 0 (equivalence pin).
#
# Determinism: redact_hits is an integer count of non-overlapping matches
# (Java and RE2 agree on this word-boundary alternation subset — q131's
# driver-green pairing); everything else is q214's all-integer machinery
# over rewritten strings. Gated-out documents carry redact_hits = 0 (the
# tagger never ran on them — the _yield_ledger n/a->0 convention).
#
# 100 TB shape: the redaction is one regexp_replace in whole-stage
# codegen over the ALREADY-GATED scan (no extra shuffle — it fuses into
# the semi-join projection); the redacted relation is cache()d because
# three consumers need it (the pair build via neardup_pairs, the
# fuzzy-survivor text, the ledger's hits column) — the module's
# documented cache contract, released by session.release_session_state.
# No reference equivalent (SURVEY.md §2.10 north-star extension).

_Q217_SQL = (
    _Q212_RECURSIVE_CTES_SQL
    + f""",
{_QKEEP_CTE_SQL},
rdocs AS (
  SELECT d.doc_id AS doc_id,
         REGEXP_REPLACE(d.text, '{_REDACT_PATTERN}', '[REDACTED]', 'g') AS text,
         CAST(LEN(REGEXP_EXTRACT_ALL(d.text, '{_REDACT_PATTERN}')) AS BIGINT)
           AS redact_hits,
         d.lang AS lang
  FROM documents d JOIN qkeep q ON d.doc_id = q.doc_id
  WHERE d.text IS NOT NULL
),
{_fuzzy_keep_sql("rdocs")},
"""
    + _curation_chain_sql("docs2", _FKEEP_DOCS_SQL, "1")
    + "\n"
    + _yield_ledger_sql(
        "flags f",
        [
            ("kept_quality", "qkeep", "q"),
            ("redact_hits", "rdocs", "rd"),
            ("kept_fuzzy", "fkeep", "fz"),
            *_CHAIN_LEDGER_SQL,
        ],
    )
)


@query("q217_tagged_curation_pipeline", _Q217_SQL)
def q217_tagged_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged curation composition (Dolma's tagger placement): q212's
    Gopher-rule filter -> q131's word-boundary blocklist redaction over
    the survivors (the PII-masking plumbing) -> near-dup clustering over
    the REDACTED text with one keeper per connected component -> exact
    fingerprint dedup -> line scrub -> span keep-first; returns the
    per-document integer yield ledger (doc_id, n_tokens, kept_quality,
    redact_hits, kept_fuzzy, kept_exact, scrub_kept_tokens,
    span_kept_tokens). See the block comment above for the stage-order
    rationale (redaction-unifies-near-dups; the gate sees raw text; the
    scrub's df counts redacted lines) and the 100 TB plan shape."""
    qkeep = _quality_keep(spark, sf_dir)
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "lang", "text")
    # stage 1 — redact the blocklist over the GATED scan (filter-first:
    # the tagger only ever runs on surviving mass). Cached: the pair
    # build, the fuzzy-survivor text, and the ledger all read it.
    redacted = (
        base0.join(qkeep, "doc_id", "semi")
        .select(
            "doc_id",
            "lang",
            F.regexp_count("text", F.lit(_REDACT_PATTERN))
            .cast("bigint")
            .alias("redact_hits"),
            F.regexp_replace("text", _REDACT_PATTERN, "[REDACTED]").alias("text"),
        )
        .cache()
    )
    # stage 2 — fuzzy dedup over the REDACTED survivors: pair existence
    # itself changes under redaction; stages 3-5 —
    # the shared chain over the redacted fuzzy survivors
    fkeep = _fuzzy_keep(
        redacted.select("doc_id", "text"),
        neardup_pairs(redacted.select("doc_id", "lang", "text")),
    )
    return _yield_ledger(
        base0,
        [
            ("kept_quality", qkeep),
            ("redact_hits", redacted.select("doc_id", "redact_hits")),
            ("kept_fuzzy", fkeep),
            *_curation_stages(fkeep),
        ],
    )


# ---------------------------------------------------------------------------
# q218: URL-dedup curation pipeline (url dedup -> filter -> dedup -> scrub
#                                    -> spans)
# ---------------------------------------------------------------------------
# RefinedWeb (Penedo et al. 2023, §3.2) deduplicates CommonCrawl by URL
# BEFORE any content processing — the one published pre-filter stage the
# composition family (q210/q213/q214/q216/q217) did not yet model: pages
# crawled more than once are collapsed to one copy by their canonical URL
# alone, content-blind, because it is the cheapest possible dedup axis
# (a string group-by — no tokenization, no fingerprints, no pair graph).
# q218 is that chain: stage 0 URL dedup (grouped argmin over the
# normalized URL — keep the lowest doc_id = earliest crawl; RefinedWeb
# keeps one copy per URL the same way), stage 1 q212's Gopher gate over
# the URL SURVIVORS only, stages 2-4 q210's exact-dedup -> line-scrub ->
# span chain. Ledger: (doc_id, n_tokens, kept_url, url_group_size,
# kept_quality, kept_exact, scrub_kept_tokens, span_kept_tokens).
#
# CORPUS ADAPTER (documented the way q211 token-adapts paragraphs): the
# documents table carries no URL column, so the crawl URL is DERIVED
# deterministically — host from the document's language edition
# (<lang>.example.com), path from the first 2 normalized tokens of the
# text (a title slug), plus crawl noise keyed on doc_id: scheme http vs
# https (doc_id%2), a www. prefix (%3), uppercase host (%11), trailing
# slash (%5), a ?utm_source tracking param (%7). The NORMALIZATION stage
# is therefore decision-bearing, not vacuous: raw-distinct URLs that
# differ only in noise collapse to one normalized key (pinned by test on
# every noise branch). Both engines build the URL and normalize it from
# the SAME interpolated pattern constants below.
#
# STAGE-ORDER RATIONALE (provable, not stylistic): (a) URL-first is the
# published order (RefinedWeb Fig. 2 runs url dedup on the raw crawl,
# before extraction and filtering) and the 100 TB-efficient one — the
# stage is the cheapest per byte in the whole family (one string
# group-by; no fan-out, no grams) and at sf0.1 it drops ~44% of the
# corpus before the gate's token statistics and the downstream
# fingerprint/line/span machinery ever run. (b) The order is observable:
# the URL keeper is chosen CONTENT-BLIND among all copies (min doc_id),
# so a group whose keeper then fails the quality gate contributes
# nothing downstream even when a higher-doc_id copy would have passed —
# gate-first would keep that passing copy (pinned by test; this loss is
# inherent to the published order, which accepts it for the scan-cost
# win). (c) URL dedup is also decision-distinct from every content
# stage: it drops docs whose text is UNIQUE (same page re-crawled with
# edits -> same URL, different fingerprint — pinned by test), and exact
# dedup keeps collapsing what URL dedup cannot see (same text mirrored
# at two URLs).
#
# Determinism: all-integer ledger (flags/group sizes/token counts); the
# URL strings are grouping keys only, never output; slug/normalization
# regexes are plain ASCII classes + anchors with identical Java-regex/
# RE2 semantics, interpolated from ONE constant into both engines
# (charset-pinned at import time, the q131/q217 precedent).
#
# 100 TB shape: stage 0 ships (url_norm, doc_id) pairs through ONE
# partial-agg group-by (map-side combine; short slugs bound the key
# bytes) — strictly cheaper than the fingerprint stage it precedes; the
# per-doc group-size join broadcasts the bounded group table back (AQE-
# decided). The gate then runs over survivors only via the docs=
# override (q206/q212 signals are per-document, so the override only
# shrinks gate mass — never changes a verdict), and stages 2-4 are the
# shared chain's adjudicated plans. The cached state is bounded: the
# (url_norm, keeper, grp) group table and the survivor doc_id verdict
# set — both one short row per distinct URL / surviving doc, released by
# session.release_session_state. No reference equivalent (SURVEY.md
# §2.10 north-star extension).

_URL_SLUG_TOKENS = 2
_URL_STRIP = "[^a-z0-9-]"
# (pattern, replacement) applied in ORDER to LOWER(url) on both engines:
# scheme, www. prefix, query string (tracking params), trailing slashes.
# The slash step is '/+$', not '/$': an empty slug leaves the raw URL
# ending in '//' when the trailing-slash noise branch fires, and a
# single-anchored strip would leave 'host/' vs its twin's 'host' —
# splitting one logical URL group in two on BOTH engines, invisibly to
# the oracle differential (review-caught; pinned by the empty-slug twin
# test).
_URL_NORM_STEPS = (
    ("^https?://", ""),
    (r"^www\.", ""),
    (r"\?.*$", ""),
    ("/+$", ""),
)
# Interpolated into single-quoted SQL literals (the q131/q217 exposure):
# no quote may enter the pattern text, and these anchors/classes behave
# identically under Java regex and RE2. Enforced at import time with an
# explicit raise (not assert) so the guard survives `python -O` (ADVICE r12).
if not (
    all("'" not in p + r and "\\" not in r for p, r in _URL_NORM_STEPS)
    and "'" not in _URL_STRIP
):
    raise ValueError(
        "_URL_NORM_STEPS/_URL_STRIP must stay quote-free ASCII regex with "
        "identical Java/RE2 semantics: both engines receive the same "
        "interpolated literal"
    )


def _doc_urls(base: DataFrame) -> DataFrame:
    """Derived crawl URL per document from a ``(doc_id, lang, text)``
    relation: ``(doc_id, url, url_norm)``. See the q218 block comment —
    host = <lang>.example.com, path = 2-token title slug, deterministic
    crawl noise keyed on doc_id; ``url_norm`` strips the noise via
    :data:`_URL_NORM_STEPS`. Everything stays in whole-stage codegen
    (split/slice/array_join/regexp_replace — no Python, no fan-out)."""
    slug = F.regexp_replace(
        F.array_join(
            F.slice(
                tokens_expr(F.lower(F.col("text"))),
                1,
                _URL_SLUG_TOKENS,
            ),
            "-",
        ),
        _URL_STRIP,
        "",
    )
    host = F.concat(F.coalesce(F.col("lang"), F.lit("und")), F.lit(".example.com"))
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.upper(host)).otherwise(host),
        F.lit("/"),
        slug,
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    out = base.select("doc_id", url.alias("url"))
    norm: Column = F.lower(F.col("url"))
    for pat, rep in _URL_NORM_STEPS:
        norm = F.regexp_replace(norm, pat, rep)
    return out.select("doc_id", "url", norm.alias("url_norm"))


def _url_cte_sql() -> str:
    """Oracle twin of :func:`_doc_urls` + the stage-0 group tables, built
    from the SAME pattern constants: CTEs ``urls`` (raw derived URL),
    ``unorm`` (normalized key), ``ugrp`` (per-key keeper + group size),
    ``ukeep`` (kept doc_ids), ``usize`` (per-doc group size)."""
    slug = (
        f"REGEXP_REPLACE(ARRAY_TO_STRING({tokens_sql('LOWER(d.text)')}"
        f"[1:{_URL_SLUG_TOKENS}], '-'), '{_URL_STRIP}', '', 'g')"
    )
    host = "COALESCE(d.lang, 'und') || '.example.com'"
    url = (
        "(CASE WHEN d.doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)"
        " || (CASE WHEN d.doc_id % 3 = 0 THEN 'www.' ELSE '' END)"
        f" || (CASE WHEN d.doc_id % 11 = 0 THEN UPPER({host}) ELSE {host} END)"
        f" || '/' || {slug}"
        " || (CASE WHEN d.doc_id % 5 = 0 THEN '/' ELSE '' END)"
        " || (CASE WHEN d.doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END)"
    )
    norm = "LOWER(url)"
    for pat, rep in _URL_NORM_STEPS:
        norm = f"REGEXP_REPLACE({norm}, '{pat}', '{rep}', 'g')"
    return f"""urls AS (
  SELECT d.doc_id AS doc_id, {url} AS url
  FROM documents d WHERE d.text IS NOT NULL
),
unorm AS (
  SELECT doc_id, {norm} AS url_norm FROM urls
),
ugrp AS (
  SELECT url_norm, MIN(doc_id) AS keeper, COUNT(*) AS grp
  FROM unorm GROUP BY url_norm
),
ukeep AS (
  SELECT keeper AS doc_id FROM ugrp
),
usize AS (
  SELECT u.doc_id AS doc_id, g.grp AS url_group_size
  FROM unorm u JOIN ugrp g ON u.url_norm = g.url_norm
)"""


_Q218_SQL = (
    _Q212_CTES_SQL
    + ",\n"
    + _url_cte_sql()
    + f""",
qk AS (
  SELECT f.doc_id AS doc_id
  FROM flags f JOIN ukeep u ON f.doc_id = u.doc_id
  {_PASS_ALL_SQL}
),
"""
    + _curation_chain_sql("docs2", _gated_docs_sql("qk"), "1")
    + "\n"
    + _yield_ledger_sql(
        "flags f",
        [
            ("kept_url", "ukeep", "uk"),
            ("url_group_size", "usize", "us"),
            ("kept_quality", "qk", "q"),
            *_CHAIN_LEDGER_SQL,
        ],
    )
)


@query("q218_url_curation_pipeline", _Q218_SQL)
def q218_url_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-dedup curation composition (RefinedWeb §3.2's pre-filter
    placement): URL dedup (grouped argmin over the normalized derived
    URL — content-blind, keep the lowest doc_id per key) -> q212's
    Gopher-rule filter over the URL survivors only -> exact fingerprint
    dedup -> line scrub -> span keep-first; returns the per-document
    integer yield ledger (doc_id, n_tokens, kept_url, url_group_size,
    kept_quality, kept_exact, scrub_kept_tokens, span_kept_tokens).
    url_group_size is reported for EVERY document (the group-by sees all
    copies at stage time — the duplicate-mass monitoring artifact);
    kept_quality is 1 only for URL survivors the gate passed (the gate
    never ran on dropped copies — q217's attribution convention). See
    the block comment above for the URL derivation (corpus adapter), the
    provable stage-order rationale, and the 100 TB plan shape."""
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "lang", "text")
    # stage 0 — URL dedup: ONE partial-agg group-by over (url_norm,
    # doc_id) pairs; the group table is cached because two consumers read
    # it (the keeper id set and the per-doc group-size join) and it is
    # bounded (one short row per distinct normalized URL); released by
    # session.release_session_state, the module's cache contract.
    urls = _doc_urls(base0)
    ugrp = (
        urls.groupBy("url_norm")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("grp"))
        .cache()
    )
    ukeep = ugrp.select(F.col("keeper").alias("doc_id"))
    usize = urls.join(ugrp, "url_norm").select(
        "doc_id", F.col("grp").alias("url_group_size")
    )
    # The survivor corpus is cached (the q217 redacted-relation
    # precedent): FOUR consumers otherwise re-run the scan + semi join —
    # the gate's two branches (q212's token-stats and q206's repetition
    # signals both read `docs`) and the chain's two reads (fingerprint
    # build + survivor select). One row per URL-kept document, released
    # by session.release_session_state. At sf0.1 the cache moves the
    # solo clock only within noise (the toy corpus scans are cheap) —
    # it exists for the 100 TB shape, where four full-text re-reads
    # through the keeper join are four corpus scans. A measured
    # alternative (gate the FULL corpus scan-direct, q213's shape, and
    # intersect with the keeper set — identical verdicts, and the SQL
    # oracle's own shape) timed within noise of this plan at sf0.1
    # (7.8-8.7 vs 8.0-8.4 over 3 interleaved runs); survivors-only is
    # kept because it gates less mass and reuses base0's doc_id
    # exchange, which is the scale argument.
    usurv = base0.join(ukeep, "doc_id", "semi").select("doc_id", "text").cache()
    # stage 1 — the gate runs over URL SURVIVORS only (the docs=
    # override; per-document signals, so the restriction never changes a
    # verdict — it only skips gate work on dropped copies); stages 2-4 —
    # the shared chain over the URL-deduplicated, quality-passing corpus
    qkeep = _quality_keep(spark, sf_dir, usurv)
    return _yield_ledger(
        base0,
        [
            ("kept_url", ukeep),
            ("url_group_size", usize),
            ("kept_quality", qkeep),
            *_curation_stages(usurv.join(qkeep, "doc_id", "semi")),
        ],
    )


# ---------------------------------------------------------------------------
# q219: ExactSubstr cross-document substring dedup (Lee et al. 2021, §4.1)
# ---------------------------------------------------------------------------
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.
# 2021) removes any substring of >= 50 BPE tokens that appears verbatim
# more than once in the corpus, found with a suffix array over the
# concatenated corpus — the one published dedup AXIS the family did not
# yet model: SUB-document, ALIGNMENT-FREE. q43 drops whole documents,
# q207 drops disjoint fixed-offset spans, the scrub family drops
# frequency-flagged fixed windows; none of them can see a shared run that
# starts at token 3 of one document and token 117 of another. q219 can.
#
# SPARK-FIRST ADAPTATION (the suffix array is a single-machine structure;
# a distributed engine wants relational primitives): a token position p
# lies inside a cross-document shared substring of length >= K iff some
# duplicated K-gram occurrence covers p. Proof both ways: a shared run of
# length L >= K contributes L-K+1 duplicated K-grams covering all L of
# its positions; conversely a duplicated K-gram covering p IS a length-K
# shared substring containing p. So the suffix-array semantics decompose
# exactly into (sliding K-gram fan-out) -> (gram group stats) ->
# (per-document interval union) — three shuffles of relational work, no
# suffix array anywhere. Token-adapted like q207/q208/q211: K = 8
# whitespace tokens stands in for the paper's 50 BPE tokens on this
# short-document corpus.
#
# DECISION PINS (each a deliberate semantic choice, each tested):
# - CROSS-document only: a gram's group must span >= 2 DISTINCT documents
#   (COUNT(DISTINCT doc_id) >= 2). A substring repeated only WITHIN one
#   document is q206's repetition-signal concern and survives here —
#   mirroring the q208 boilerplate rule's df semantics, and keeping the
#   axis orthogonal to every existing operator.
# - Keeper: per gram, MIN(doc_id) keeps ALL its occurrences (the
#   q43/q207 keep-first precedent; Lee et al. likewise leave one
#   occurrence in place). Every occurrence in every OTHER document drops.
# - Coverage is a UNION: overlapping duplicated windows cover a position
#   once (a shared run of K+2 tokens has 3 duplicated grams but drops
#   exactly K+2 positions), merged per document with an integer
#   gaps-and-islands pass — equal-width intervals sorted by start merge
#   iff next_start - prev_start <= K (adjacency merges; a 1-token
#   uncovered gap splits).
#
# Determinism: all-integer ledger (token/gram/occurrence/island counts) —
# no float exists anywhere in the query on either engine; the keeper
# argmin and the island arithmetic are integer-exact. Ledger: (doc_id,
# n_tokens, n_grams, keeper_hits, dup_hits, n_islands, dup_tokens,
# kept_tokens); keeper_hits/dup_hits are the two sides of the duplicated
# occurrence mass (monitoring columns — the keeper side shows how much
# text OTHER documents deduplicated against this one).
#
# 100 TB shape: the sliding fan-out is the known ExactSubstr cost — K x
# token mass in gram text (the paper pays O(corpus) suffix-array memory
# on one machine instead; the relational form is what shards). The gram
# group-by ships (gram, doc_id) through Spark's two-stage distinct
# aggregate (partial-aggregatable — a hot gram ships one row per map
# task per doc, never per occurrence, the _boiler_set precedent); the
# shuffle key is the gram text itself, exact by construction. The
# dup-gram table is the HAVING filter's output (bounded by the shared
# mass, not the corpus) and joins back to occurrences AQE-decided
# (broadcast when it fits — the q208 anti-join rationale); the island
# merge is one window per document over only the dropped occurrences
# (two Window ops sharing one doc_id sort: lag + running sum); every
# downstream join is doc_id-keyed against the doc_id-partitioned base.
# No pair graph, no crossJoin, no driver state: the only corpus-sized
# relation after the fan-out is the occurrence set of DUPLICATED grams.
# That relation (occ) feeds two consumers (hits + island merge), so the
# fan-out is recomputed ~3x per action — a MEASURED tradeoff, not an
# oversight (r13 ADVICE): caching occ halves the fan-out passes but
# timed ~2x slower at sf0.1 (materialization + lost pruning beat the
# recompute at small dup mass).
# No reference equivalent (SURVEY.md §2.10 north-star extension).

_SUBSTR_K = 8


def _substr_gram_sql(k: int) -> str:
    """Oracle gram CTE: sliding ``k``-token windows with 1-based start
    positions over the q207-family tokenization (``tokens_sql``)."""
    return f"""base AS (
  SELECT doc_id, {tokens_sql('text')} AS toks
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ARRAY_TO_STRING(toks[i:i+{k}-1], ' ') AS gram
  FROM base, UNNEST(RANGE(1, LEN(toks) - {k} + 2)) AS t(i)
  WHERE LEN(toks) >= {k}
)"""


# CTE chain + final ledger select factored so q221 (soft dedup weights)
# can compose the SAME oracle text — the "same CTEs + one arithmetic
# projection" contract. Pure refactor: _Q219_SQL's assembled text is
# semantically identical to the r13 original.
_SUBSTR_LEDGER_CTES = f"""{_substr_gram_sql(_SUBSTR_K)},
gstats AS (
  SELECT gram, MIN(doc_id) AS keeper
  FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT g.doc_id AS doc_id, g.pos AS pos, (g.doc_id = s.keeper) AS is_keeper
  FROM grams g JOIN gstats s ON g.gram = s.gram
),
drops AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > {_SUBSTR_K}
              THEN 1 ELSE 0 END AS brk
  FROM occ WHERE NOT is_keeper
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM drops
),
isl_agg AS (
  SELECT doc_id, isl, MAX(pos) - MIN(pos) + {_SUBSTR_K} AS cov
  FROM islands GROUP BY doc_id, isl
),
doc_isl AS (
  SELECT doc_id, COUNT(*) AS n_islands, SUM(cov) AS dup_tokens
  FROM isl_agg GROUP BY doc_id
),
hits AS (
  SELECT doc_id,
         SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS keeper_hits,
         SUM(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS dup_hits
  FROM occ GROUP BY doc_id
)"""

_Q219_LEDGER_SELECT = f"""SELECT b.doc_id AS doc_id,
  CAST(LEN(b.toks) AS BIGINT) AS n_tokens,
  CAST(GREATEST(LEN(b.toks) - {_SUBSTR_K} + 1, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(h.keeper_hits, 0) AS BIGINT) AS keeper_hits,
  CAST(COALESCE(h.dup_hits, 0) AS BIGINT) AS dup_hits,
  CAST(COALESCE(i.n_islands, 0) AS BIGINT) AS n_islands,
  CAST(COALESCE(i.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  CAST(LEN(b.toks) - COALESCE(i.dup_tokens, 0) AS BIGINT) AS kept_tokens
FROM base b
LEFT JOIN hits h ON b.doc_id = h.doc_id
LEFT JOIN doc_isl i ON b.doc_id = i.doc_id"""

_Q219_SQL = f"""
WITH {_SUBSTR_LEDGER_CTES}
{_Q219_LEDGER_SELECT}
"""


def _substr_grams(base: DataFrame, k: int) -> DataFrame:
    """Sliding ``k``-token gram fan-out over a ``(doc_id, toks)`` relation:
    (doc_id, pos, gram) with 1-based start positions — :data:`_Q219_SQL`'s
    ``grams`` CTE. The ``size >= k`` filter is load-bearing on the Spark
    side beyond symmetry: ``F.sequence(1, stop)`` DESCENDS when stop < 1
    (step defaults to -1), so an unguarded short document would fan out
    phantom positions instead of none. sequence+slice+array_join all stay
    in whole-stage codegen (the :func:`_unit_fanout_from` precedent)."""
    return (
        base.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1).cast("bigint"),
                    (F.size("toks") - k + 1).cast("bigint"),
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(F.slice("toks", F.col("pos").cast("int"), k), " ").alias(
                "gram"
            ),
        )
    )


@query("q219_substring_dedup", _Q219_SQL)
def q219_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr cross-document substring dedup (Lee et al. 2021 §4.1,
    token-adapted, alignment-free): every occurrence of a K-token
    substring shared by >= 2 distinct documents drops from all but the
    min-doc_id keeper; covered positions merge per document into maximal
    islands. One integer ledger row per document: (doc_id, n_tokens,
    n_grams, keeper_hits, dup_hits, n_islands, dup_tokens, kept_tokens).
    See the block comment above for the suffix-array -> K-gram-cover
    equivalence proof, the decision pins (cross-document only, keep-first
    keeper, union coverage), and the 100 TB plan shape (two-stage
    distinct gram agg, AQE-decided join-back, one doc_id window for the
    island merge).
    """
    k = _SUBSTR_K
    base = exchanged_docs(spark, sf_dir).select(
        "doc_id", tokens_expr("text").alias("toks")
    )
    grams = _substr_grams(base, k)
    # countDistinct + min in ONE aggregate: plans through Spark's expand +
    # two partial-agg stages (the _boiler_set rationale) — a hot gram
    # never ships per-occurrence rows.
    gstats = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("ndocs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("ndocs") >= 2)
        .select("gram", "keeper")
    )
    # Join-back strategy deliberately left to AQE (q208): gstats is the
    # HAVING filter's output — broadcast when the shared mass is small,
    # shuffled join when a pathological corpus makes it huge.
    occ = grams.join(gstats, "gram").select(
        "doc_id", "pos", (F.col("doc_id") == F.col("keeper")).alias("is_keeper")
    )
    # Recompute-vs-cache (r13 ADVICE, resolved by MEASUREMENT): occ has
    # two consumers (hits + the island merge) and the gram fan-out sits
    # under both plus the gstats aggregate, so this plan pays the K x
    # fan-out ~3x per action. Caching occ halves the fan-out passes BUT
    # measured SLOWER at sf0.1 (warm solo 1.2-2.0 s cached vs 0.5-0.9
    # uncached: the InMemoryRelation materialization + lost column
    # pruning cost more than the recompute), so occ stays uncached.
    hits = occ.groupBy("doc_id").agg(
        F.sum(F.when(F.col("is_keeper"), 1).otherwise(0)).alias("keeper_hits"),
        F.sum(F.when(F.col("is_keeper"), 0).otherwise(1)).alias("dup_hits"),
    )
    # Island merge: equal-width intervals sorted by start — one doc_id
    # sort feeds both window ops (lag for the break flag, running sum for
    # the island id); adjacency (pos - lag == k) merges, a gap splits.
    w = Window.partitionBy("doc_id").orderBy("pos")
    drops = occ.filter(~F.col("is_keeper")).withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            1,
        ).otherwise(0),
    )
    islands = drops.withColumn(
        "isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    doc_isl = (
        islands.groupBy("doc_id", "isl")
        .agg((F.max("pos") - F.min("pos") + k).alias("cov"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_islands"), F.sum("cov").alias("dup_tokens"))
    )
    totals = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.greatest(F.size("toks") - k + 1, F.lit(0)).cast("bigint").alias("n_grams"),
    )
    return (
        totals.join(hits, "doc_id", "left")
        .join(doc_isl, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("keeper_hits", F.lit(0)).cast("bigint").alias("keeper_hits"),
            F.coalesce("dup_hits", F.lit(0)).cast("bigint").alias("dup_hits"),
            F.coalesce("n_islands", F.lit(0)).cast("bigint").alias("n_islands"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (F.col("n_tokens") - F.coalesce("dup_tokens", F.lit(0)))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q220: per-snapshot incremental URL dedup (FineWeb's snapshot axis)
# ---------------------------------------------------------------------------
# FineWeb (Penedo et al. 2024, §3.5-3.6) processes CommonCrawl snapshot by
# snapshot and measures GLOBAL dedup against PER-SNAPSHOT-INDEPENDENT
# dedup — finding that keeping each snapshot's own copy (dropping only
# within-snapshot duplicates) trains BETTER models than deduplicating
# against all prior crawls. RefinedWeb §3.2 likewise dedups by URL as
# crawls arrive. q220 makes that policy choice measurable on one ledger:
# the SNAPSHOT axis the composition family did not yet model — every
# member so far treats the corpus as one batch; q220 is the windowed
# chain over crawl time (the r12 verdict's growth candidate b).
#
# CORPUS ADAPTER (documented like q218's URL derivation): the documents
# table has no crawl timestamp; the snapshot id is derived from the
# bounded source column — snap = int(digits(source)) % _SNAP_MOD, giving
# _SNAP_MOD ordered crawl snapshots each fed by several sources. The
# dedup key is the normalized crawl URL (ONE definition — q218's
# :func:`_doc_urls` / :func:`_url_cte_sql`; the bounded slug space gives
# every sf real cross-snapshot re-crawl mass, measured 28 multi-snapshot
# URL groups at sf0.01).
#
# SEMANTICS (each a pinned decision):
# - kept_inc — the INCREMENTAL policy: keep the first occurrence in
#   (snap, doc_id) lexicographic order. This is exactly what a
#   snapshot-by-snapshot fold against accumulated URL state computes
#   (anti-join each snapshot's within-keepers against every URL seen in
#   earlier snapshots), and the closed form the oracle checks. The order
#   is decision-bearing: a LOWER doc_id arriving in a LATER snapshot
#   loses to a higher doc_id from an earlier snapshot — crawl time, not
#   doc_id, is the keep-first axis (pinned; q218's plain min-doc_id
#   argmin would choose differently).
# - kept_within — FineWeb's per-snapshot-independent policy: first
#   occurrence within the document's OWN snapshot only.
# - recrawl — kept_within AND NOT kept_inc: the later-snapshot copies
#   the independent policy keeps and the incremental policy drops — the
#   exact population FineWeb's finding is about. Per URL group the
#   identities sum(kept_inc) = 1, sum(kept_within) = n_snapshots_seen,
#   sum(recrawl) = n_snapshots_seen - 1 hold by construction (pinned).
#
# Determinism: all-integer ledger (snapshot ids, counts, flags); the
# incremental key is the integer encoding snap * _SNAP_KEY_BASE + doc_id
# (same expression on both engines; no struct-vs-tuple comparison
# semantics to align, no floats anywhere). The encoding presumes
# doc_id < _SNAP_KEY_BASE — an oversized doc_id would silently elect a
# LATER-snapshot keeper (inverting the pinned crawl-time axis), so both
# engines guard snapd ITSELF with an identical raise-on-violation filter
# stage (Spark raise_error in _snap_docs / DuckDB error() in the snapd
# CTE's WHERE): a filter decides row membership, so neither optimizer
# can prune it, and the guard does not depend on any downstream column
# remaining consumed (r14 ADVICE hardening of the original
# review-caught aggregate-input guard — the import-time constant check
# cannot see the data domain).
#
# 100 TB shape: the closed form is two partial-agg group-bys (url_norm;
# url_norm x snap) and two AQE-decided join-backs of bounded group
# tables — same cost class as q218's stage 0, linear in crawl mass. The
# INCREMENTAL execution (:func:`snapshot_fold_url_dedup`, pinned equal
# to the closed form) is the production shape at 100 TB: each arriving
# snapshot anti-joins its within-keepers against the accumulated
# URL-state relation — per-batch cost is one group-by + one anti-join
# over the NEW snapshot only, and the carried state is one short row
# per DISTINCT URL ever seen (the streaming incremental fingerprint
# dedup's state-store contract, batch-shaped; lineage truncated by
# localCheckpoint per fold step, the q73/q145 precedent). No reference
# equivalent (SURVEY.md §2.10 north-star extension).

_SNAP_MOD = 4
_SNAP_KEY_BASE = 10**12
# Interpolated into BOTH engines' SQL/expressions (the q131/q217/q218
# guard precedent, extended to integer constants): explicit raise so the
# guard survives `python -O`.
if not (
    isinstance(_SNAP_MOD, int)
    and 2 <= _SNAP_MOD <= 1000
    and isinstance(_SNAP_KEY_BASE, int)
    and _SNAP_KEY_BASE > 10**9
):
    raise ValueError(
        "_SNAP_MOD/_SNAP_KEY_BASE must stay small-int / wide-int: both "
        "engines receive the same interpolated literals and the integer "
        "incremental key must not collide snapshots with doc_ids"
    )

# TRY_CAST + COALESCE(0): a source with no digit run (or a digit run
# past int64) folds to snapshot bucket 0 IDENTICALLY on both engines —
# a plain CAST would crash DuckDB, NULL-drop the row from Spark's inner
# joins, and TypeError the fold's Python sort, three different behaviors
# for one input (review-caught; pinned by the digitless/overflow edge
# test).
_SNAP_SQL = (
    "COALESCE(TRY_CAST(REGEXP_EXTRACT(d.source, '([0-9]+)', 1) AS BIGINT), 0)"
    f" % {_SNAP_MOD}"
)

_Q220_SQL = f"""
WITH {_url_cte_sql()},
snapd AS (
  SELECT u.doc_id AS doc_id, u.url_norm AS url_norm, {_SNAP_SQL} AS snap
  FROM unorm u JOIN documents d ON u.doc_id = d.doc_id
  WHERE CASE WHEN u.doc_id < {_SNAP_KEY_BASE} THEN TRUE ELSE CAST(error(
          'q220: doc_id >= _SNAP_KEY_BASE breaks the integer incremental key'
        ) AS BOOLEAN) END
),
g AS (
  SELECT url_norm,
         COUNT(*) AS url_copies,
         COUNT(DISTINCT snap) AS n_snapshots_seen,
         MIN(snap) AS first_seen_snap,
         MIN(snap * {_SNAP_KEY_BASE} + doc_id) AS inc_key
  FROM snapd GROUP BY url_norm
),
w AS (
  SELECT url_norm, snap, MIN(doc_id) AS within_keeper
  FROM snapd GROUP BY url_norm, snap
)
SELECT s.doc_id AS doc_id,
  CAST(s.snap AS BIGINT) AS snap,
  CAST(g.url_copies AS BIGINT) AS url_copies,
  CAST(g.n_snapshots_seen AS BIGINT) AS n_snapshots_seen,
  CAST(g.first_seen_snap AS BIGINT) AS first_seen_snap,
  CAST(CASE WHEN s.snap * {_SNAP_KEY_BASE} + s.doc_id = g.inc_key
       THEN 1 ELSE 0 END AS BIGINT) AS kept_inc,
  CAST(CASE WHEN s.doc_id = w.within_keeper THEN 1 ELSE 0 END AS BIGINT)
    AS kept_within,
  CAST(CASE WHEN s.doc_id = w.within_keeper
            AND s.snap * {_SNAP_KEY_BASE} + s.doc_id <> g.inc_key
       THEN 1 ELSE 0 END AS BIGINT) AS recrawl
FROM snapd s
JOIN g ON s.url_norm = g.url_norm
JOIN w ON s.url_norm = w.url_norm AND s.snap = w.snap
"""


def _snap_docs(base: DataFrame) -> DataFrame:
    """(doc_id, url_norm, snap) over a ``(doc_id, lang, text, source)``
    relation — the Spark twin of the oracle's ``snapd`` CTE, from the
    SAME url derivation (:func:`_doc_urls`) and snapshot rule
    (try_cast + coalesce 0, mirroring :data:`_SNAP_SQL` — see the
    block comment there). Carries the doc_id-domain guard as an
    EXPLICIT filter stage (raise_error, mirroring the oracle CTE's
    WHERE/error() branch): the filter decides row membership, so
    neither optimizer can prune it, and — unlike the earlier
    aggregate-input guard — it does not depend on inc_key remaining a
    consumed column (r14 ADVICE hardening). Every q220 ledger row and
    every fold step derives from this relation, so the guard covers
    both execution shapes."""
    urls = _doc_urls(base.select("doc_id", "lang", "text"))
    return _guard_doc_ids(
        base.select("doc_id", _snap_expr().alias("snap")).join(
            urls.select("doc_id", "url_norm"), "doc_id"
        )
    )


def _snap_expr() -> Column:
    """The snapshot-id column over a relation carrying ``source`` —
    ONE definition (mirroring :data:`_SNAP_SQL`'s try_cast + coalesce 0
    rule) shared by the URL axis (q220) and the fuzzy axis (q222)."""
    return (
        F.coalesce(
            F.regexp_extract(F.col("source"), r"([0-9]+)", 1).try_cast(
                "bigint"
            ),
            F.lit(0).cast("bigint"),
        )
        % _SNAP_MOD
    )


def _guard_doc_ids(df: DataFrame) -> DataFrame:
    """The snapshot-axis doc_id-domain guard as an EXPLICIT filter stage
    (r14 ADVICE hardening; see the q220 block comment): any consumer of
    the integer key snap * _SNAP_KEY_BASE + doc_id must scan through
    this filter, which decides row membership and therefore cannot be
    pruned by the optimizer — and does not depend on any downstream
    column staying consumed. Mirrors the oracle CTEs' WHERE/error()
    branch."""
    return df.filter(
        F.when(F.col("doc_id") < _SNAP_KEY_BASE, F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "doc_id >= _SNAP_KEY_BASE breaks the integer "
                    "snapshot key"
                )
            ).cast("boolean")
        )
    )


@query("q220_snapshot_incremental_dedup", _Q220_SQL)
def q220_snapshot_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot incremental URL dedup (FineWeb's snapshot axis,
    RefinedWeb's URL key): one integer ledger row per document —
    (doc_id, snap, url_copies, n_snapshots_seen, first_seen_snap,
    kept_inc, kept_within, recrawl) — comparing the INCREMENTAL policy
    (keep the first occurrence in (snap, doc_id) order; what a
    snapshot-by-snapshot fold against accumulated URL state computes —
    :func:`snapshot_fold_url_dedup` is that fold, pinned equal) against
    FineWeb's PER-SNAPSHOT-INDEPENDENT policy (keep each snapshot's own
    first copy); ``recrawl`` marks exactly the copies on which the two
    policies disagree. See the block comment above for the snapshot
    corpus adapter, the decision pins, and the 100 TB state story."""
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "lang", "text", "source")
    snapd = _snap_docs(base0)
    inc_key = F.col("snap").cast("bigint") * _SNAP_KEY_BASE + F.col("doc_id")
    # Both group tables are the bounded outputs (one row per distinct
    # URL / per (URL, snapshot)); the join-backs are AQE-decided — the
    # q208/q218 broadcast rationale. countDistinct plans through the
    # two-stage expand (the _boiler_set precedent). The doc_id-domain
    # guard lives in _snap_docs as an explicit filter stage (r14 ADVICE
    # hardening — see its docstring), so the aggregate uses the plain
    # integer key.
    g = snapd.groupBy("url_norm").agg(
        F.count("*").alias("url_copies"),
        F.countDistinct("snap").alias("n_snapshots_seen"),
        F.min("snap").alias("first_seen_snap"),
        F.min(inc_key).alias("inc_key"),
    )
    w = snapd.groupBy("url_norm", "snap").agg(
        F.min("doc_id").alias("within_keeper")
    )
    kept_inc = (inc_key == F.col("inc_key")).cast("bigint")
    kept_within = (F.col("doc_id") == F.col("within_keeper")).cast("bigint")
    return (
        snapd.join(g, "url_norm")
        .join(w, ["url_norm", "snap"])
        .select(
            "doc_id",
            F.col("snap").cast("bigint").alias("snap"),
            F.col("url_copies").cast("bigint").alias("url_copies"),
            F.col("n_snapshots_seen").cast("bigint").alias("n_snapshots_seen"),
            F.col("first_seen_snap").cast("bigint").alias("first_seen_snap"),
            kept_inc.alias("kept_inc"),
            kept_within.alias("kept_within"),
            (
                (F.col("doc_id") == F.col("within_keeper"))
                & (inc_key != F.col("inc_key"))
            )
            .cast("bigint")
            .alias("recrawl"),
        )
    )


def snapshot_fold_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL execution of q220's kept_inc verdict: fold the
    snapshots in crawl order, keeping per-snapshot within-keepers that
    anti-join clean against the accumulated URL state — the production
    shape for arriving crawls (per-batch cost touches only the new
    snapshot; carried state is one row per distinct URL ever seen).
    Returns (doc_id) of incremental keepers; pinned equal to the closed
    form's kept_inc == 1 set
    (tests/test_extensions.py::test_q220_fold_matches_closed_form).
    The URL derivation is computed ONCE: ``snapd`` is persisted before
    the loop (materialized by the snapshot-id collect), so each step
    filters the cached relation instead of re-deriving url_norm for the
    whole corpus per snapshot (review-caught — the lazy lineage made
    the fold O(snapshots x corpus) in derivation work, contradicting
    this docstring's own cost contract; in a real arriving-crawl
    deployment each batch is its own source and no shared scan exists
    at all). The per-step localCheckpoint truncates the union lineage
    (the q73/q145 precedent); the final keeper set is localCheckpoint'd
    so the cache can be released before returning (bounded: one row per
    distinct URL — the same class as the carried state). The only
    collect is the bounded distinct snapshot id set (<= _SNAP_MOD rows —
    the module's bounded-collect class)."""
    base0 = exchanged_docs(spark, sf_dir).select("doc_id", "lang", "text", "source")
    snapd = _snap_docs(base0).persist()
    snaps = sorted(
        r["snap"] for r in snapd.select("snap").distinct().collect()
    )
    kept = None
    state = None
    for s in snaps:
        cur = snapd.filter(F.col("snap") == s)
        winners = cur.groupBy("url_norm").agg(
            F.min("doc_id").alias("doc_id")
        )
        if state is not None:
            winners = winners.join(state, "url_norm", "left_anti")
        step_kept = winners.select("doc_id")
        kept = step_kept if kept is None else kept.unionByName(step_kept)
        # the post-anti-join winners carry EXACTLY the snapshot's new
        # URLs (one row each), disjoint from state by construction — so
        # the state update is a plain union, no second group-by over the
        # snapshot and no union-distinct (review-caught: the earlier
        # cur.distinct() was a redundant second full pass per batch)
        new_urls = winners.select("url_norm")
        state = (
            new_urls if state is None else state.unionByName(new_urls)
        ).localCheckpoint()
    if kept is not None:
        kept = kept.localCheckpoint()
    else:
        kept = snapd.select("doc_id").limit(0)
    snapd.unpersist()
    return kept


# ---------------------------------------------------------------------------
# q221: soft/weighted dedup (down-weight instead of drop)
# ---------------------------------------------------------------------------
# Dolma (Soldaini et al. 2024) ships duplicate verdicts as ATTRIBUTES so
# the trainer can down-weight instead of hard-dropping; DataComp-LM
# (Li et al. 2024) likewise frames dedup strength as a tunable sampling
# knob, and Muennighoff et al. 2023 (data-constrained scaling) quantify
# why a duplicated document should count for less than a fresh one
# rather than zero. q221 is that policy as a ledger: every hard verdict
# the family already computes stays available, but the output is a
# per-document SAMPLING WEIGHT, integer-exact in parts-per-million.
#
# Two published down-weighting axes compose (each is the soft form of a
# hard member already on the surface):
# - substring axis (soft q219): weight by the NON-duplICATED token
#   fraction — substr_weight_ppm = (SCALE * kept_tokens) div n_tokens.
#   A document that ExactSubstr would gut to nothing weighs ~0; an
#   untouched document weighs SCALE.
# - exact-copy axis (soft q43): weight by 1 / n_copies over the
#   canonical-fingerprint cluster — copy_weight_ppm = SCALE div
#   n_copies — so an exact-duplicate cluster's TOTAL expected mass is
#   one document (every copy including the keeper carries 1/n; the
#   hard policy's keeper-takes-all is the n->1 special case).
# - composite: weight_ppm = (substr_weight_ppm * copy_weight_ppm) div
#   SCALE — the product of the published factors.
#
# Decision pins (each tested on a hand corpus):
# - COMPONENT-FIRST flooring: each axis floors to ppm FIRST (it is the
#   published policy's own ledger column), then the composite floors
#   the product of the FLOORED components — 1/3 x 1/3 pins to 111110
#   (333333^2 div 10^6), NOT the 111111 an exact-once floor would give.
#   The convention makes every column independently auditable.
# - n_tokens = 0 guards the division with full weight SCALE (no token
#   mass -> no duplicated mass; under the q207-family tokenizer a
#   whitespace-only text yields one empty token, so the edge may be
#   unreachable — the pin keeps the division total anyway, both
#   engines identical).
# - The axes OVERLAP on exact duplicates by construction (an exact
#   copy >= K tokens is also a full substring duplicate): the cluster
#   keeper keeps substr weight SCALE (ExactSubstr drops nothing from
#   the min-doc_id keeper) while every non-keeper's covered mass also
#   crushes its substring factor. That compounding is the same
#   double-counting a hard pipeline applies (q43 drop + q219 span
#   drop) made visible — documented, not hidden, and the per-axis
#   columns let a consumer pick either factor alone.
# - All-integer ledger (the round-9 float grain): div/'//' on
#   non-negative BIGINTs is identical truncation on both engines; no
#   doubles anywhere. Overflow headroom: SCALE * kept_tokens <= 1e6 *
#   n_tokens and substr_w * copy_w <= 1e12, both far inside int64.
#
# 100 TB shape: exactly q219's plan (the CTE chain is REUSED verbatim)
# plus one canonical-fingerprint group-by (two-stage partial agg, q43's
# plan) and an AQE-decided fp join-back; the weight arithmetic is a codegen
# projection. No new shuffle class, no Python stage, no driver state.
# No reference equivalent (SURVEY.md §2.10 north-star extension).

_W_SCALE = 10**6
# Interpolated into BOTH engines' SQL (the _SNAP_MOD guard precedent):
# explicit raise so the guard survives `python -O`.
if not (isinstance(_W_SCALE, int) and 10**3 <= _W_SCALE <= 10**9):
    raise ValueError(
        "_W_SCALE must stay a mid-range integer: both engines receive "
        "the same interpolated ppm literal and int64 headroom assumes "
        "SCALE * n_tokens and SCALE^2 stay far inside 2^63"
    )

_Q221_SQL = f"""
WITH {_SUBSTR_LEDGER_CTES},
led AS ({_Q219_LEDGER_SELECT}),
fps AS (
  SELECT doc_id, {DOC_FP_SQL} AS fp FROM documents WHERE text IS NOT NULL
),
copies AS (
  SELECT fp, COUNT(*) AS n_copies FROM fps GROUP BY fp
),
ncop AS (
  SELECT f.doc_id AS doc_id, c.n_copies AS n_copies
  FROM fps f JOIN copies c ON f.fp = c.fp
),
wled AS (
  SELECT l.doc_id AS doc_id, l.n_tokens AS n_tokens,
         l.dup_tokens AS dup_tokens, l.kept_tokens AS kept_tokens,
         CAST(n.n_copies AS BIGINT) AS n_copies,
         CAST(CASE WHEN l.n_tokens = 0 THEN {_W_SCALE}
              ELSE ({_W_SCALE} * l.kept_tokens) // l.n_tokens END AS BIGINT)
           AS substr_weight_ppm,
         CAST({_W_SCALE} // n.n_copies AS BIGINT) AS copy_weight_ppm
  FROM led l JOIN ncop n ON l.doc_id = n.doc_id
)
SELECT doc_id, n_tokens, dup_tokens, kept_tokens, n_copies,
  substr_weight_ppm, copy_weight_ppm,
  CAST((substr_weight_ppm * copy_weight_ppm) // {_W_SCALE} AS BIGINT)
    AS weight_ppm
FROM wled
"""


@query("q221_soft_dedup_weights", _Q221_SQL)
def q221_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft/weighted dedup (Dolma's tag-don't-drop attributes,
    DataComp-LM's dedup-as-sampling-knob): one integer ppm ledger row
    per document — (doc_id, n_tokens, dup_tokens, kept_tokens,
    n_copies, substr_weight_ppm, copy_weight_ppm, weight_ppm) —
    composing the soft form of q219 (non-duplicated token fraction)
    with the soft form of q43 (1/n over the exact-fingerprint cluster).
    See the block comment above for the decision pins (component-first
    flooring, the n_tokens=0 guard, the documented axis overlap on
    exact copies) and the 100 TB shape (q219's reused CTE chain + one
    fingerprint group-by; all arithmetic in codegen)."""
    led = q219_substring_dedup(spark, sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fps = d.select("doc_id", doc_fp_expr().alias("fp"))
    copies = fps.groupBy("fp").agg(F.count("*").alias("n_copies"))
    # fp join-back left to AQE (the q208/q218 rationale): copies is one
    # row per distinct content — broadcast when small, shuffled when a
    # pathological corpus makes it wide.
    ncop = fps.join(copies, "fp").select(
        "doc_id", F.col("n_copies").cast("bigint").alias("n_copies")
    )
    j = led.join(ncop, "doc_id")
    # Spark `div` and DuckDB `//` agree exactly on non-negative BIGINTs
    # (truncation == floor); the CASE guard mirrors the oracle's.
    substr_w = F.when(
        F.col("n_tokens") == 0, F.lit(_W_SCALE).cast("bigint")
    ).otherwise(F.expr(f"({_W_SCALE} * kept_tokens) div n_tokens")).cast(
        "bigint"
    )
    return (
        j.select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            "kept_tokens",
            "n_copies",
            substr_w.alias("substr_weight_ppm"),
            F.expr(f"{_W_SCALE} div n_copies").cast("bigint").alias(
                "copy_weight_ppm"
            ),
        )
        .withColumn(
            "weight_ppm",
            F.expr(
                f"(substr_weight_ppm * copy_weight_ppm) div {_W_SCALE}"
            ).cast("bigint"),
        )
    )
