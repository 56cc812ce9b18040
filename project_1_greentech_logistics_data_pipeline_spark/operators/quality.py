"""Training-data quality operators (round 2): repetition metrics, blocklist
scrubbing, n-gram decontamination, sketch rollups, clustered semantic dedup.

The curation signals a large-scale LLM-data pipeline computes AFTER basic
text stats (operators/text.py) and near-dup removal (operators/dedup.py):

- q130 repetition metrics — Gopher-style quality rules (most-common-token
  fraction, most-common-bigram fraction, distinct-token ratio). High
  values mean degenerate/boilerplate text.
- q131 blocklist scrub — redact a broadcast term blocklist with counts
  (the same plumbing as PII redaction; the synthetic corpus has no
  digits/emails, so a term blocklist keeps the query non-vacuous).
- q134 n-gram decontamination — flag training docs sharing any 8-gram
  with a benchmark/eval set (the GPT-3/Llama eval-contamination check;
  the fingerprint anti-join variant is q109).
- q133 HLL sketch rollup — DataSketches HLL per (lang, source), merged
  with hll_union_agg to per-lang estimates: the re-aggregatable sketch
  layer a 100 TB warehouse stores instead of raw distinct counts.
  Rows-only (DuckDB's approx_count_distinct is a different HLL).
- q132 clustered semantic dedup — spherical k-means over embeddings
  (trained on a bounded sample, then one JVM assignment pass over the
  corpus), then exact cosine verification WITHIN clusters only: the
  candidates+verify shape for semantic dedup at scale. Rows-only
  (k-means; pytest pins precision vs the exact all-pairs baseline).

Tokenization is the engine-wide whitespace form of the text kit
(functions/text.py: tokens_expr ⟷ tokens_sql, doc_tokens ⟷
DOC_TOKENS_SQL), so results compose with q27/q40.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import dec_sql, dsum
from ..registry import query, table
from ..functions.text import (
    DOC_FP_SQL,
    DOC_TOKENS_SQL,
    doc_fp_expr,
    doc_tokens,
    tokens_expr,
    tokens_sql,
)
from ..functions.vectors import (
    PAIR_SCHEMA,
    as_matrix,
    l2_normalize_expr,
    nearest_centroids,
    pair_gemm,
    spherical_kmeans,
)


# ---------------------------------------------------------------------------
# q130: repetition quality metrics per document (Gopher rules).
# ---------------------------------------------------------------------------

_Q130_SQL = f"""
WITH toks AS (
  {DOC_TOKENS_SQL}
),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
tok_rank AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rk
  FROM tc
),
tok_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM tc GROUP BY 1
),
top_tok AS (
  SELECT doc_id, tok AS top_token, c AS top_c FROM tok_rank WHERE rk = 1
),
bi AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l)),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM (SELECT doc_id, {tokens_sql('text')} AS l
        FROM documents)
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
bi_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS max_bc
  FROM bc GROUP BY 1
)
SELECT t.doc_id,
       t.n_tokens,
       tt.top_token,
       CAST(tt.top_c AS DOUBLE) / t.n_tokens AS top_token_frac,
       CAST(b.max_bc AS DOUBLE) / b.n_bigrams AS top_bigram_frac,
       CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS distinct_ratio
FROM tok_stats t
JOIN top_tok tt USING (doc_id)
JOIN bi_stats b USING (doc_id)
ORDER BY t.doc_id
"""


@query("q130_repetition_metrics", _Q130_SQL)
def q130_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition scores. Two explode->count passes (tokens,
    bigrams) shuffled by doc_id only — both aggregates are map-side
    combinable, the per-doc top token is a window on the already
    doc-partitioned counts (no extra shuffle), and every division is a
    single int/int -> double op, bit-identical on both engines. At 100 TB
    this is the cheapest useful quality gate: no joins wider than doc_id,
    no Python."""
    d = table(spark, sf_dir, "documents")
    toks = doc_tokens(d)
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "tok")
    tok_stats = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_distinct")
    )
    top_tok = (
        tc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("tok").alias("top_token"), F.col("c").alias("top_c"))
    )
    t = tokens_expr("text")
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bc = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_stats = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("max_bc")
    )
    return (
        tok_stats.join(top_tok, on="doc_id")
        .join(bi_stats, on="doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "top_token",
            (F.col("top_c").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
            (F.col("max_bc").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q131: blocklist term scrubbing with hit counts.
# ---------------------------------------------------------------------------

_BLOCKLIST = ("customer", "supplier", "query")

# The pattern below is f-string-interpolated into single-quoted SQL string
# literals by BOTH its consumers (q131 here, q217 in dedup.py), and must
# behave identically under Java regex (Spark) and DuckDB's RE2. Plain
# lowercase-ASCII terms guarantee both: no quote to break the SQL literal,
# no escape/class construct for the engines to disagree on. Enforced at
# import time so a future blocklist edit that would silently diverge the
# oracle fails loudly in every consumer (ADVICE r11); explicit raise rather
# than assert so the guard survives `python -O` (ADVICE r12).
if not all(t and all("a" <= c <= "z" for c in t) for t in _BLOCKLIST):
    raise ValueError(
        "_BLOCKLIST terms must be non-empty lowercase ASCII ([a-z]+): safe to "
        "interpolate into single-quoted SQL and regex-identical on Spark vs DuckDB"
    )

_SCRUB_PATTERN = r"\b(" + "|".join(_BLOCKLIST) + r")\b"


_Q131_SQL = f"""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_SCRUB_PATTERN}')) AS INT) AS n_hits,
       REGEXP_REPLACE(text, '{_SCRUB_PATTERN}', '[REDACTED]', 'g') AS scrubbed,
       LENGTH(REGEXP_REPLACE(text, '{_SCRUB_PATTERN}', '[REDACTED]', 'g'))
         AS n_chars_after
FROM documents
WHERE REGEXP_MATCHES(text, '{_SCRUB_PATTERN}')
ORDER BY doc_id
"""


@query("q131_blocklist_scrub", _Q131_SQL)
def q131_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact a broadcast term blocklist (word-boundary alternation) and
    count hits — the PII-redaction plumbing (emails/SSNs are the same
    regexp_replace with different patterns; this corpus has neither, so a
    term blocklist exercises the path non-vacuously). Narrow per-row ops
    only: regexp in whole-stage codegen, no shuffle, no Python. The
    pattern is a pre-compiled literal on both engines (Java regex and RE2
    agree on this alternation subset)."""
    d = table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", _SCRUB_PATTERN, "[REDACTED]")
    return (
        d.filter(F.col("text").rlike(_SCRUB_PATTERN))
        .select(
            "doc_id",
            F.regexp_count("text", F.lit(_SCRUB_PATTERN)).alias("n_hits"),
            scrubbed.alias("scrubbed"),
            F.length(scrubbed).alias("n_chars_after"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q134: n-gram decontamination vs a benchmark/eval source.
# ---------------------------------------------------------------------------

_EVAL_SOURCE = "src0"
_NGRAM = 8


_Q134_SQL = f"""
WITH g AS (
  SELECT doc_id, source,
         UNNEST(LIST_TRANSFORM(
           RANGE(1, LEN(l) - {_NGRAM - 2}),
           i -> ARRAY_TO_STRING(l[i:i+{_NGRAM - 1}], ' '))) AS ng
  FROM (SELECT doc_id, source, {tokens_sql('text')} AS l
        FROM documents)
),
eval_g AS (SELECT DISTINCT ng FROM g WHERE source = '{_EVAL_SOURCE}'),
train_g AS (SELECT DISTINCT doc_id, ng FROM g WHERE source <> '{_EVAL_SOURCE}')
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM train_g t
JOIN eval_g e USING (ng)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@query("q134_ngram_decontamination", _Q134_SQL)
def q134_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 8-gram with the eval source — the
    eval-set contamination sweep run before training. The eval side
    (benchmarks are small by nature) reduces to distinct 8-grams and
    BROADCASTS into a semi-style join against the training side's distinct
    (doc, 8-gram) pairs; the only big shuffle is the per-doc distinct+count,
    keyed by doc_id. Exact-match n-grams, no normalization beyond the
    engine-wide tokenizer — deliberately conservative (oracle-exact);
    q109 is the fingerprint variant for whole-doc containment."""
    d = table(spark, sf_dir, "documents")
    t = tokens_expr("text")
    ngrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (_NGRAM - 1), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(t, i, _NGRAM)),
    )
    # Two source-PRUNED scans, not one persisted explode (the round-2
    # shape): persisting the full (doc, source, 8-gram) relation pinned
    # every training n-gram in memory and blocked predicate pushdown on
    # the parquet scan. The eval side is tiny by nature, so its branch
    # now reads a source-filtered scan (pushdown + partition pruning when
    # the lake is source-partitioned, as writers.overwrite_partitioned
    # lays out) and the training branch STREAMS through the broadcast
    # join with no materialization at all — the map-side filter still
    # runs before any distinct, so the only shuffled n-grams remain the
    # (tiny) contaminated survivors.
    eval_g = (
        d.filter(F.col("source") == _EVAL_SOURCE)
        .select(F.explode(ngrams).alias("ng"))
        .distinct()
    )
    return (
        d.filter(F.col("source") != _EVAL_SOURCE)
        .select("doc_id", F.explode(ngrams).alias("ng"))
        .join(F.broadcast(eval_g), on="ng")
        .select("doc_id", "ng")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q133: HLL sketch rollup (build per-group, merge upward).
# ---------------------------------------------------------------------------


@query("q133_hll_sketch_rollup", None)  # rows-only: DuckDB's HLL differs
def q133_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: build a DataSketches HLL of user_id per
    (event_type, day), then merge WITH hll_union_agg to per-event_type
    estimates — the two-level sketch layer a warehouse materializes so
    any rollup of distinct counts is a cheap sketch merge, never a
    re-scan of raw data. That re-aggregatability is exactly what exact
    count_distinct lacks at 100 TB. Estimates are deterministic for a
    given input (pytest pins tolerance vs exact)."""
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    per_day = (
        e.select(F.col("event_type"), day, F.col("user_id"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    return (
        per_day.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q132: clustered semantic dedup (k-means candidates -> in-cluster verify).
# ---------------------------------------------------------------------------


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    probe: int = 1,
) -> DataFrame:
    """Spherical k-means over unit-normalized embeddings; returns
    (vec_id, nemb, clusters) where ``clusters`` is the ``probe`` nearest
    cluster ids (probe=1 -> hard assignment).

    Training is the kit's bounded-sample trainer (one collect; only the
    k x dim centroids come back). Assignment is one JVM pass over the
    whole corpus: nearest-centroid ranking against k literal centroids, no
    Python in the row path. Training always hard-assigns; ``probe`` > 1
    only widens the RETURNED assignment (soft/multi-probe candidates for
    recall)."""
    centroids = spherical_kmeans(emb, k, n_iter)
    return emb.select("vec_id", l2_normalize_expr("embedding").alias("nemb")).withColumn(
        "clusters", nearest_centroids("nemb", centroids, probe)
    )


@query("q132_semantic_dedup_clustered", None)  # rows-only: k-means candidates
def q132_semantic_dedup_clustered(
    spark: SparkSession, sf_dir: str, threshold: float | None = None
) -> DataFrame:
    """Semantic near-dup pairs via cluster-bucketed candidates + exact
    verify: k-means partitions the corpus, the pair join runs WITHIN
    clusters only (equi-join on cluster id — never the all-pairs
    cartesian), and candidates are verified with the exact cosine. The
    scale path for what q47 computes exactly: expected candidate volume
    drops from N^2 to sum over clusters of |c|^2, and k-means trains on a
    bounded sample. Precision is 1.0 by construction (exact verify);
    recall misses only pairs k-means split across clusters (pytest pins
    it on testdata)."""
    from .dedup import COSINE_DUP_THRESHOLD

    if threshold is None:
        threshold = COSINE_DUP_THRESHOLD  # q47's exact baseline threshold
    emb = table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, probe=2).localCheckpoint(eager=False)
    # multi-probe candidates: a pair is a candidate if ANY of each side's
    # top-2 clusters coincide — explode to (cluster, vec) postings, then
    # verify WITHIN each cluster with the kit's pair GEMM (q47's kernel:
    # Arrow batch in, dense matmul, thresholded pairs out — ~2x over
    # per-pair JVM fold dots at sf0.1) and dedup pairs found via both
    # probes.
    postings = assigned.select(
        "vec_id", "nemb", F.explode("clusters").alias("cluster")
    )

    def _cluster_gemm(key, pdf):
        ids, m = pdf["vec_id"].to_numpy(), as_matrix(pdf["nemb"])
        return pair_gemm(ids, m, ids, m, threshold, same_block=True)

    pairs = postings.groupBy("cluster").applyInPandas(_cluster_gemm, schema=PAIR_SCHEMA)
    return pairs.distinct().orderBy("vec_a", "vec_b")


# ---------------------------------------------------------------------------
# q137: deterministic source-mixture resampling (data mixing).
# ---------------------------------------------------------------------------

# target keep-rates per source bucket: rebalance a skewed crawl toward a
# training mixture. Knuth multiplicative hash on doc_id — pure BIGINT
# arithmetic, bit-identical on any engine, no RNG, stable under reruns
# and repartitioning.
_MIX_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_MIX_DEFAULT = 0.1
_KNUTH = 2654435761
_MOD = 4294967296  # 2^32


def _mix_rate_sql() -> str:
    branches = "\n    ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in _MIX_RATES.items()
    )
    return f"CASE {branches} ELSE {_MIX_DEFAULT} END"


_Q137_SQL = f"""
SELECT doc_id, source,
       CAST(({_mix_rate_sql()}) AS DOUBLE) AS keep_rate
FROM documents
WHERE (doc_id * {_KNUTH}) % {_MOD}
      < CAST(({_mix_rate_sql()}) * {_MOD} AS BIGINT)
ORDER BY doc_id
"""


@query("q137_source_mixture_sample", _Q137_SQL)
def q137_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: resample each source to a target keep-rate so the
    training mixture matches a recipe instead of the crawl's skew. The
    keep decision is a Knuth multiplicative hash of doc_id — exact BIGINT
    arithmetic, so the sample is deterministic, repartition-stable,
    engine-independent (oracle-exact, unlike RNG sampling), and
    consistent across reruns — a doc's fate never changes, which is what
    incremental pipeline re-runs need. Narrow ops only: no shuffle, no
    UDF, fully pushdown-friendly."""
    d = table(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT)
    for s, r in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep = (F.col("doc_id") * _KNUTH) % _MOD < (rate * _MOD).cast("bigint")
    return (
        d.select("doc_id", "source", rate.alias("keep_rate"))
        .filter(keep)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q143: substring-containment dedup (candidates + exact verify).
# ---------------------------------------------------------------------------

_CONTAIN_K = 32  # char k-gram width; sound because min doc length is 48


_Q143_SQL = """
SELECT a.doc_id AS contained_id, b.doc_id AS container_id
FROM documents a
JOIN documents b
  ON a.doc_id <> b.doc_id AND CONTAINS(b.text, a.text)
ORDER BY contained_id, container_id
"""


@query("q143_substring_containment", _Q143_SQL)
def q143_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-containment dedup (the 'doc A is a verbatim slice
    of doc B' case n-gram Jaccard under-scores): candidates + verify, not
    the quadratic CONTAINS join the oracle runs.

    Soundness of the candidate scheme: if A is a substring of B and
    len(A) >= k, EVERY char k-gram of A is a char k-gram of B — so A's
    MINIMUM k-gram hash appears among B's k-gram hashes. The probe side
    therefore carries ONE hash per doc, the build side explodes to its
    distinct k-gram hashes (O(n_chars) per doc — winnowing-sampled in the
    q92 style if that blow-up mattered, at the cost of a coarser k), and
    the equi-join yields every true containment plus hash-collision noise
    that the exact contains() verify removes. All JVM: murmur3 over
    substring windows via transform(sequence(...)), no Python.

    Shuffle-mass discipline (the part that matters at 100 TB): the
    exploded gram relation carries ONLY (doc_id, 32-bit hash) — never
    the text. The probe's min-gram is an aggregate of that same cached
    relation (one gram computation, not two scans), the equi-join on
    the hash moves ints, candidate pairs are distinct()-ed down to the
    survivors, and full texts are joined back just for the exact
    contains() verify on that small candidate set. Carrying text
    through the explode (the naive shape) multiplies the shuffle by
    the document length — ~100x more bytes at this corpus's ~500-char
    mean."""
    d = table(spark, sf_dir, "documents")
    n = F.length("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (_CONTAIN_K - 1), F.lit(1))),
        lambda i: F.hash(F.substring(F.col("text"), F.lit(0) + i, _CONTAIN_K)),
    )
    g_rel = (
        d.select(F.col("doc_id").alias("b_id"), F.explode(F.array_distinct(grams)).alias("g"))
        .localCheckpoint(eager=False)
    )
    probe = g_rel.groupBy("b_id").agg(F.min("g").alias("g")).select(
        F.col("b_id").alias("a_id"), "g"
    )
    cand = (
        probe.join(g_rel, on="g")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    texts = d.select("doc_id", "text")
    out = (
        cand.join(texts.withColumnRenamed("doc_id", "a_id").withColumnRenamed("text", "a_text"), on="a_id")
        .join(texts.withColumnRenamed("doc_id", "b_id").withColumnRenamed("text", "b_text"), on="b_id")
        .filter(F.col("b_text").contains(F.col("a_text")))
        .select(
            F.col("a_id").alias("contained_id"),
            F.col("b_id").alias("container_id"),
        )
        .orderBy("contained_id", "container_id")
    )
    return out


# ---------------------------------------------------------------------------
# q146: per-source corpus health report (composition of quality signals).
# ---------------------------------------------------------------------------

_Q146_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         LEN({tokens_sql('text')}) AS n_tokens
  FROM documents
),
fp AS (
  SELECT doc_id, source,
         {DOC_FP_SQL} AS fingerprint
  FROM documents
),
dup AS (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT fingerprint) AS n_unique
  FROM fp GROUP BY source
),
tok_stats AS (
  SELECT source,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens
  FROM toks GROUP BY source
),
lang_mix AS (
  SELECT source, COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY source
)
SELECT d.source,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       t.total_tokens,
       t.mean_tokens,
       CAST(d.n_docs - d.n_unique AS BIGINT) AS n_exact_dups,
       CAST(l.n_langs AS BIGINT) AS n_langs
FROM dup d
JOIN tok_stats t USING (source)
JOIN lang_mix l USING (source)
ORDER BY d.source
"""


@query("q146_corpus_health_report", _Q146_SQL)
def q146_corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: volume, token mass, exact-dup rate,
    language mix — the rollup a curation pipeline publishes after every
    ingest so a skewed or degenerate source is caught before training.
    ONE scan of documents feeds three source-keyed aggregates (Catalyst
    shares the shuffle key); fingerprints are computed inside the
    aggregate, never materialized per-doc downstream. The mean is
    int-sum / count in one double op — oracle-exact."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        F.size(tokens_expr("text")).alias("n_tokens"),
        doc_fp_expr().alias("fingerprint"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
            (F.count(F.lit(1)) - F.countDistinct("fingerprint")).alias("n_exact_dups"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q155: deterministic weighted sampling (Efraimidis-Spirakis A-ES).
# ---------------------------------------------------------------------------

_SAMPLE_K = 100


_Q155_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         -LN((((doc_id * {_KNUTH}) % {_MOD}) + 1.0) / ({_MOD} + 1.0))
           / n_chars AS es_key
  FROM documents
)
SELECT doc_id, source, n_chars, es_key
FROM keyed
ORDER BY es_key, doc_id
LIMIT {_SAMPLE_K}
"""


@query("q155_weighted_sample", _Q155_SQL)
def q155_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES:
    keep the k smallest -ln(u)/w keys — inclusion probability
    proportional to weight), with the uniform u derived from the Knuth
    hash instead of an RNG, so the sample is deterministic,
    repartition-stable, and ORACLE-EXACT — the property q79's
    rand()-based sampler can't have. Plans as TakeOrderedAndProject:
    per-partition top-k then a k-row merge, no global sort, no shuffle
    of the corpus. ln() of identical doubles agrees bit-for-bit across
    engines (both call the platform libm on the same value)."""
    d = table(spark, sf_dir, "documents")
    u = (((F.col("doc_id") * _KNUTH) % _MOD) + 1.0) / (_MOD + 1.0)
    es_key = -F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars", es_key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(_SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# q157: curation pass v2 — repetition gate + containment dedup + mixture.
# ---------------------------------------------------------------------------

_REP_GATE = 0.15  # top-token fraction above this = boilerplate (p95 here)


_Q157_SQL = f"""
WITH toks AS (
  {DOC_TOKENS_SQL}
),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
rep AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
  FROM tc GROUP BY doc_id
),
contained AS (
  SELECT DISTINCT a.doc_id
  FROM documents a
  JOIN documents b ON a.doc_id <> b.doc_id AND CONTAINS(b.text, a.text)
)
SELECT d.doc_id, d.source, d.lang, r.top_token_frac
FROM documents d
JOIN rep r USING (doc_id)
WHERE r.top_token_frac <= {_REP_GATE}
  AND d.doc_id NOT IN (SELECT doc_id FROM contained)
  AND (d.doc_id * {_KNUTH}) % {_MOD}
      < CAST(({_mix_rate_sql()}) * {_MOD} AS BIGINT)
ORDER BY d.doc_id
"""


@query("q157_curation_v2", _Q157_SQL)
def q157_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second end-to-end curation composition (q78 is gate->near-dup->
    keep-one; this is the round-2 signal set): repetition-gate out
    boilerplate (top-token fraction over the p95 threshold), drop docs
    verbatim-contained in another doc (q143's candidates+verify as an
    anti-join), then resample to the source mixture (q137's
    deterministic hash rule). Every stage is oracle-exact, so the WHOLE
    pipeline is — compositions are where silent semantic drift usually
    hides, which is why this is declared as one query and not just its
    parts. Plan: the repetition aggregate and the containment anti-join
    are the only shuffles; the mixture filter is free at scan time."""
    d = table(spark, sf_dir, "documents")
    toks = doc_tokens(d)
    rep = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_token_frac"))
    )
    contained = q143_substring_containment(spark, sf_dir).select(
        F.col("contained_id").alias("doc_id")
    ).distinct()
    rate = F.lit(_MIX_DEFAULT)
    for s, r in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep = (F.col("doc_id") * _KNUTH) % _MOD < (rate * _MOD).cast("bigint")
    return (
        d.join(rep, on="doc_id")
        .filter(F.col("top_token_frac") <= _REP_GATE)
        .join(contained, on="doc_id", how="left_anti")
        .filter(keep)
        .select("doc_id", "source", "lang", "top_token_frac")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q158: deterministic corpus shuffle (epoch-stable training order).
# ---------------------------------------------------------------------------

_Q158_SQL = f"""
SELECT doc_id,
       (doc_id * {_KNUTH}) % {_MOD} AS shuffle_key,
       ROW_NUMBER() OVER (ORDER BY (doc_id * {_KNUTH}) % {_MOD}, doc_id)
         AS position
FROM documents
ORDER BY position
"""


@query("q158_deterministic_shuffle", _Q158_SQL)
def q158_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-stable corpus shuffle: training order = rank of a hash of
    doc_id — reproducible across reruns and cluster layouts (rand()
    cannot be), resumable mid-epoch by position, and changing the seed
    constant gives an independent epoch permutation. The global
    ROW_NUMBER is the one range-partitioned sort; at 100 TB you keep the
    shuffle_key and skip the materialized rank (readers sort-merge on
    the key), which is why both columns are emitted."""
    d = table(spark, sf_dir, "documents")
    key = (F.col("doc_id") * _KNUTH) % _MOD
    w = Window.orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .withColumn("position", F.row_number().over(w))
        .orderBy("position")
    )


# ---------------------------------------------------------------------------
# q166: audience-overlap estimation via HLL sketch algebra.
# ---------------------------------------------------------------------------


@query("q166_hll_audience_overlap", None)  # rows-only: sketch estimates
def q166_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types WITHOUT touching raw
    rows twice: per-type HLL sketches of user_id are built once, then
    every pairwise intersection is estimated driver-free by
    inclusion-exclusion over sketch UNIONS (|A|+|B|-|A∪B|) — the sketch
    algebra that makes segment-overlap dashboards O(|segments|^2) sketch
    merges instead of O(n^2) row joins at 100 TB. The only corpus pass is
    the per-type sketch build; the pair grid is a self-join of 5 sketch
    rows. Estimates carry HLL error (~2%); pytest pins tolerance vs the
    exact intersection counts."""
    e = table(spark, sf_dir, "events")
    sketches = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_users"),
    )
    a = sketches.alias("a")
    b = sketches.alias("b")
    union_est = F.hll_sketch_estimate(
        F.hll_union(F.col("a.sk"), F.col("b.sk"))
    )
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.est_users").alias("est_a"),
            F.col("b.est_users").alias("est_b"),
            (F.col("a.est_users") + F.col("b.est_users") - union_est).alias(
                "est_overlap"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q175: character-entropy quality scoring per document.
# ---------------------------------------------------------------------------

# per-character p * ln(p), laid out as it sits in the oracle text
_Q175_PLNP = (
    "(CAST(cc.c AS DOUBLE) / tot.t)\n"
    "                      * LN(CAST(cc.c AS DOUBLE) / tot.t)\n"
    "                "
)
_Q175_SQL = f"""
WITH chars AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS ch FROM documents
),
cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
tot AS (SELECT doc_id, SUM(c) AS t FROM cc GROUP BY 1)
SELECT cc.doc_id,
       CAST(tot.t AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(-SUM({dec_sql(_Q175_PLNP, 18)}) AS DOUBLE) AS char_entropy_nats
FROM cc JOIN tot USING (doc_id)
GROUP BY cc.doc_id, tot.t
ORDER BY cc.doc_id
"""


@query("q175_char_entropy", _Q175_SQL)
def q175_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the cheap degenerate-text
    detector that catches what token-level repetition (q130) can't:
    single-character floods, base64 blobs (too HIGH), padded whitespace
    (too LOW). One explode->count pass shuffled by doc_id; each p*ln(p)
    term rounds to the scale-18 exact type before the per-doc sum (the q161
    discipline), so the entropy is order-independent and oracle-exact.

    Shape note (measured r3): a shuffle-free row-local variant — char
    histogram via higher-order functions (array_distinct x
    count-in-array + F.aggregate fold) — is 5x SLOWER (18.2 s vs 3.5 s
    at sf0.1): HOF lambdas evaluate interpreted per element, outside
    whole-stage codegen, so the O(n*d) per-row loop loses to the
    codegen'd explode + two hash aggregates despite the ~1-row-per-char
    shuffle amplification. Keep the explode shape; at 100 TB the
    doc_id-keyed shuffles are embarrassingly parallel and AQE-coalesced."""
    d = table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.length("ch") > 0)
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cc.groupBy("doc_id").agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    return (
        cc.join(tot, on="doc_id")
        .groupBy("doc_id", "t")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            (-dsum(p * F.log(p), 18)).alias("char_entropy_nats"),
        )
        .select(
            "doc_id",
            F.col("t").alias("n_chars"),
            "n_distinct_chars",
            "char_entropy_nats",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q200: corpus scorecard — one-row executive summary of corpus health.
# ---------------------------------------------------------------------------

_Q200_SQL = f"""
WITH fp AS (
  SELECT doc_id,
         {DOC_FP_SQL} AS fingerprint,
         LEN({tokens_sql('text')}) AS n_tokens,
         lang, source
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT fingerprint) AS BIGINT) AS n_exact_dups,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM fp
"""


@query("q200_corpus_scorecard", _Q200_SQL)
def q200_corpus_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus scorecard: volume, token mass, exact-dup count,
    language and source diversity, token-length spread — the summary a
    data team posts after every ingest, and the executive counterpart of
    the per-source breakdown (q146). ONE aggregate over one scan;
    fingerprints live only inside the aggregate. Declared as q200, the
    round-number capstone of the declared surface."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens_expr("text"))
    return d.select(
        doc_fp_expr().alias("fingerprint"), n_tok.alias("n_tokens"), "lang", "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint")).alias("n_exact_dups"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )
