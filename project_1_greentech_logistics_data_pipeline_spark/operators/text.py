"""Text-analysis operators over the documents table (SURVEY §2.10): token
counting, quality scoring, language-ID, document fingerprinting.

These are the LLM-training-data-pipeline primitives the north star requires.
All hot paths are JVM-side (split/regexp/higher-order functions) — no Python
UDFs; at 100 TB these run inside whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.deterministic import (
    frac_threshold_hex,
    md5_prefix,
    md5_prefix_sql,
    pos_zero,
    pos_zero_col,
)
from ..functions.text import (
    DOC_FP_SQL,
    DOC_NORM_SQL,
    DOC_TOKENS_SQL,
    WS_CLASS,
    WS_CLASS_SQL,
    doc_fp_expr,
    doc_norm_expr,
    doc_tokens,
    tokens_expr,
    tokens_sql,
)
from ..registry import query, table


# Function-word markers per language (public-knowledge stopword heads).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "et", "est", "un"],
    "es": ["el", "los", "y", "es", "un"],
    "de": ["der", "die", "und", "ist", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}
LANG_ORDER = ["en", "fr", "es", "de", "zh"]

STOPWORDS = ["the", "a", "of", "and", "is"]


def doc_id_exchange(d: DataFrame) -> DataFrame:
    """Hash-exchange ``d`` on doc_id into ``spark.sql.shuffle.partitions``
    partitions: the one exchange the per-document fan-out stages (token
    windows, grams, bigram pairs) place in front of their generate. It
    runs the fan-out at full parallelism when the scan has few input
    splits (a 5000-doc single-file scan ran q206's generate in ONE task:
    2.9 s single-threaded vs ~0.9 s repartitioned) and pre-positions rows
    for the per-doc aggregations, windows and joins downstream, so
    EnsureRequirements adds no second shuffle; at cluster scale the scan
    has many splits and this exchange simply relocates theirs. The
    partition COUNT is explicit: AQE's coalescer targets bytes, and this
    exchange's input is small BEFORE the fan-out, so a count-less
    repartition was coalesced back to one task, single-threading the
    generate again (measured)."""
    n_shuffle = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return d.repartition(n_shuffle, F.col("doc_id"))


def exchanged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-null-text documents, through :func:`doc_id_exchange`."""
    return doc_id_exchange(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )


def _in_set(markers: list[str]):
    """Single-arg lambda factory (PySpark higher-order lambdas must not carry
    default/bound extra parameters — arity is introspected)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return lambda t: F.array_contains(arr, t)


def lang_scores_from_toks(toks: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over an already-tokenized array —
    the classic n-gram/stopword heuristic, JVM-side. Factored from
    lang_scores so composition stages that already hold a token array
    (q216's post-scrub text) share the SAME expression tree instead of
    re-tokenizing."""
    return {
        lang: F.size(F.filter(toks, _in_set(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over the token set — the classic
    n-gram/stopword heuristic, JVM-side."""
    return lang_scores_from_toks(tokens_expr(text))


def lang_id_from_toks(toks: Column) -> Column:
    """argmax over marker scores of a token array; ties resolve in
    LANG_ORDER; all-zero -> 'und'. THE single Spark-side definition of the
    language decision — q42 consumes it via lang_id_expr, q216 directly
    over post-scrub tokens."""
    scores = lang_scores_from_toks(toks)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (scores[lang] == best), lang).otherwise(expr)
    return expr


def lang_id_expr(text: Column | str) -> Column:
    """argmax over marker scores; ties resolve in LANG_ORDER; all-zero -> 'und'."""
    return lang_id_from_toks(tokens_expr(text))


# ---------------------------------------------------------------------------


_Q40_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
    {tokens_sql('text')} AS toks
  FROM documents
)
SELECT
  doc_id, lang,
  CAST(LEN(toks) AS BIGINT) AS n_tokens,
  CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS n_unique_tokens,
  CAST(ROUND(LEN(LIST_DISTINCT(toks))::DOUBLE / LEN(toks), 6) AS DOUBLE) AS type_token_ratio,
  CAST(ROUND(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x)))::DOUBLE / LEN(toks), 6) AS DOUBLE)
    AS avg_token_len,
  CAST(ROUND(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['the','a','of','and','is'], x)))::DOUBLE
    / LEN(toks), 6) AS DOUBLE) AS stopword_ratio,
  (n_chars >= 50 AND LEN(toks) >= 10) AS passes_length_gate
FROM t
"""


@query("q40_text_stats", _Q40_SQL)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals (length, TTR, stopword ratio) — the
    quality-scoring pass of an LLM data pipeline, one narrow projection."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    tok_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop_n = F.size(F.filter(toks, _in_set(STOPWORDS)))
    return d.select(
        "doc_id",
        "lang",
        n.cast("bigint").alias("n_tokens"),
        uniq.cast("bigint").alias("n_unique_tokens"),
        F.round(uniq.cast("double") / n, 6).alias("type_token_ratio"),
        F.round(tok_chars.cast("double") / n, 6).alias("avg_token_len"),
        F.round(stop_n.cast("double") / n, 6).alias("stopword_ratio"),
        ((F.col("n_chars") >= 50) & (n >= 10)).alias("passes_length_gate"),
    )


_Q41_SQL = f"""
SELECT
  doc_id,
  {DOC_FP_SQL} AS fingerprint,
  SUBSTRING({DOC_FP_SQL}, 1, 4) AS shard_key,
  CAST(LENGTH({DOC_NORM_SQL}) AS BIGINT) AS norm_len
FROM documents
"""


@query("q41_fingerprint", _Q41_SQL)
def q41_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint (whitespace-collapse + lowercase
    + md5). The fingerprint doubles as an exact-dedup key and its prefix as
    a shard/bucket key at scale."""
    d = table(spark, sf_dir, "documents")
    norm = doc_norm_expr()
    fp = doc_fp_expr()
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


def _duck_list_sql(markers: list[str]) -> str:
    """DuckDB list literal: ['a','b',...]."""
    return "[" + ", ".join("'" + m + "'" for m in markers) + "]"


def _lang_scores_sel_sql() -> str:
    """Per-language marker-score select list over a ``toks`` column — the
    oracle twin of :func:`lang_scores_from_toks`. ONE definition shared by
    q42's oracle and the q216 composition's post-scrub lang stage
    (:func:`lang_stage_cte_sql`); generating q42's SQL through it is
    byte-identical to the pre-refactor literal (sha256-pinned in
    tests/test_extensions.py::test_lang_and_lm_sql_generators_pin)."""
    score = {
        lang: f"LEN(LIST_FILTER(toks, x -> LIST_CONTAINS({_duck_list_sql(markers)}, x)))"
        for lang, markers in LANG_MARKERS.items()
    }
    return ",\n    ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())


def _lang_best_sql() -> str:
    return "GREATEST(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"


def _lang_whens_sql() -> str:
    return "\n    ".join(
        f"WHEN s_{lang} = m AND m > 0 THEN '{lang}'" for lang in LANG_ORDER
    )


def lang_stage_cte_sql(src: str) -> str:
    """Oracle twin of :func:`lang_id_from_toks` for composition stages:
    CTE pair (``lang_scored``, ``langed``) assigning q42's marker-argmax
    language over a ``(doc_id, toks, mass)`` CTE named ``src`` — the same
    score/GREATEST/CASE fragments q42's oracle is generated from, so the
    language decision has one definition on the oracle side too."""
    return f"""lang_scored AS (
  SELECT doc_id, toks, mass,
    {_lang_scores_sel_sql()}
  FROM {src}
),
langed AS (
  SELECT doc_id, toks, mass,
    CASE
    {_lang_whens_sql()}
    ELSE 'und'
  END AS lang
  FROM (SELECT *, {_lang_best_sql()} AS m FROM lang_scored)
)"""


def _lang_case_sql() -> str:
    best = _lang_best_sql()
    whens = _lang_whens_sql()
    scores_sel = _lang_scores_sel_sql()
    return f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
    {scores_sel}
  FROM t
),
best AS (
  SELECT *, {best} AS m FROM scored
)
SELECT doc_id, lang AS labeled_lang,
  CASE
    {whens}
    ELSE 'und'
  END AS predicted_lang
FROM best
"""


@query("q42_lang_id", _lang_case_sql())
def q42_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID. (The synthetic corpus shares one English-ish
    vocabulary across lang labels, so prediction accuracy is exercised in
    tests/test_text.py on planted multilingual sentences; this query checks
    the distributed argmax logic end-to-end.)"""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id_expr("text").alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling / train-validation split (training-data pipeline ops)
# ---------------------------------------------------------------------------

STRATA_FRACTIONS = {"en": 0.2, "fr": 0.5, "es": 0.5, "de": 0.5, "zh": 0.5}
SPLIT_SEED = 42

_Q79_SQL = (
    "WITH kept AS (\n"
    "  SELECT lang FROM documents\n"
    f"  WHERE {md5_prefix_sql('doc_id', SPLIT_SEED)} < CASE lang\n"
    + "\n".join(
        f"    WHEN '{lang}' THEN '{frac_threshold_hex(frac)}'"
        for lang, frac in STRATA_FRACTIONS.items()
    )
    + "\n    ELSE '000000000000000' END\n"
    ")\n"
    "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled\n"
    "FROM kept GROUP BY lang"
)


@query("q79_stratified_sample", _Q79_SQL)
def q79_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) sampling — the rebalancing step a
    training-data pipeline uses to downweight an over-represented language.
    A one-pass filter with per-stratum keep-thresholds over the md5-prefix
    key (see md5_prefix): no shuffle, no count-first, and — unlike
    sampleBy's per-partition RNG — the kept SET is a pure function of the
    doc ids, so it is reproducible across engines and partitionings (which
    is also what makes an exact DuckDB oracle possible). Strata not in the
    fraction map are excluded, matching sampleBy semantics."""
    d = table(spark, sf_dir, "documents")
    thresh = F.lit("0" * 15)
    for lang, frac in STRATA_FRACTIONS.items():
        thresh = (
            F.when(F.col("lang") == lang, F.lit(frac_threshold_hex(frac)))
            .otherwise(thresh)
        )
    sampled = d.filter(md5_prefix("doc_id", SPLIT_SEED) < thresh)
    return sampled.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_sampled"))


def train_val_split(
    df: DataFrame, id_col: str, val_fraction: float = 0.1, seed: int = SPLIT_SEED
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, key-stable train/validation split: assign by hash of
    the id, not randomSplit. randomSplit's assignment depends on partition
    layout (re-reading with a different split count reassigns rows); hashing
    the id gives the SAME assignment for a row no matter how the data is
    partitioned, which is what leakage-free reprocessing requires at scale.
    The md5-prefix key additionally makes the assignment engine-portable
    (reproducible outside Spark — see md5_prefix)."""
    key = md5_prefix(id_col, seed)
    thresh = F.lit(frac_threshold_hex(val_fraction))
    val = df.filter(key < thresh)
    train = df.filter(key >= thresh)
    return train, val


_Q79B_SQL = f"""
WITH tagged AS (
  SELECT lang,
         CASE WHEN {md5_prefix_sql('doc_id', SPLIT_SEED)}
                   < '{frac_threshold_hex(0.1)}'
              THEN 1 ELSE 0 END AS is_val
  FROM documents
)
SELECT lang,
       CAST(SUM(1 - is_val) AS BIGINT) AS n_train,
       CAST(SUM(is_val) AS BIGINT) AS n_val
FROM tagged GROUP BY lang
"""


@query("q79b_train_val_split", _Q79B_SQL)
def q79b_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split summary per language: train/val counts. Exact oracle because
    the assignment is the portable md5-prefix function of doc_id (pytest
    additionally checks disjointness, conservation, fraction tolerance,
    and key-stability under repartitioning)."""
    d = table(spark, sf_dir, "documents")
    train, val = train_val_split(d, "doc_id", val_fraction=0.1)
    t = train.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_train"))
    v = val.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_val"))
    return (
        t.join(v, "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("n_train", F.lit(0)).alias("n_train"),
            F.coalesce("n_val", F.lit(0)).alias("n_val"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting (the subword-aware counterpart of q40)
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer classes, simplified to the lookahead-free subset
# both Java regex (Spark) and RE2 (DuckDB) execute identically: runs of
# letters, runs of digits, runs of other non-space symbols.
_BPE_PAT = f"[a-z]+|[0-9]+|[^a-z0-9{WS_CLASS}]+"

_Q91_SQL = f"""
WITH t AS (
  SELECT doc_id,
    REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9{WS_CLASS_SQL}]+') AS bpe_toks,
    {tokens_sql('text')} AS ws_toks
  FROM documents
)
SELECT
  doc_id,
  CAST(LEN(bpe_toks) AS BIGINT) AS n_bpe_tokens,
  CAST(LEN(ws_toks) AS BIGINT) AS n_ws_tokens,
  CAST(ROUND(LEN(bpe_toks)::DOUBLE / LEN(ws_toks), 6) AS DOUBLE) AS bpe_per_word,
  CAST(LEN(LIST_DISTINCT(bpe_toks)) AS BIGINT) AS n_bpe_vocab
FROM t
"""


@query("q91_bpe_token_count", _Q91_SQL)
def q91_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex (letter runs / digit
    runs / symbol runs — the lookahead-free core of the GPT-2 pattern),
    alongside the whitespace count: `bpe_per_word` is the tokens-per-word
    expansion factor used to budget training-token counts from raw text.
    Pure regexp_extract_all inside codegen — one narrow pass at 100 TB, no
    Python."""
    d = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0)
    ws = tokens_expr("text")
    return d.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.round(F.size(bpe).cast("double") / F.size(ws), 6).alias("bpe_per_word"),
        F.size(F.array_distinct(bpe)).cast("bigint").alias("n_bpe_vocab"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash (Karp-Rabin k-gram) document fingerprinting
# ---------------------------------------------------------------------------

_KGRAM = 8
_BASE = 31

# Polynomial k-gram hash, written as an explicit positional sum so Spark and
# DuckDB compute bit-identical BIGINTs: H(g) = sum_j ascii(g[j]) * 31^(k-1-j).
# Max value ~ 127 * 31^7 * 8 < 2^45 — no modulus needed, no overflow.
_Q92_SQL = f"""
WITH t AS (
  SELECT doc_id,
    {DOC_NORM_SQL} AS norm
  FROM documents
), h AS (
  SELECT doc_id,
    LIST_TRANSFORM(
      RANGE(1, GREATEST(LENGTH(norm) - 7, 0) + 1),
      i -> LIST_SUM(LIST_TRANSFORM(RANGE(0, 8),
             j -> ASCII(SUBSTRING(norm, CAST(i + j AS INT), 1))
                  * CAST(POWER(31, 7 - j) AS BIGINT)))
    ) AS kgram_hashes
  FROM t
)
SELECT
  doc_id,
  CAST(LIST_MIN(kgram_hashes) AS BIGINT) AS min_kgram_hash,
  CAST(LEN(LIST_DISTINCT(kgram_hashes)) AS BIGINT) AS n_distinct_kgrams
FROM h
"""


@query("q92_rolling_hash_fingerprint", _Q92_SQL)
def q92_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin k-gram fingerprinting: polynomial hash of every 8-char
    gram of the canonicalized text; the document signature is the minimum
    gram hash (the winnowing/MinHash selection step) plus the distinct-gram
    cardinality.

    Implementation: canonicalization stays JVM-side; the per-gram hashing is
    a vectorized Arrow `mapInPandas` stage — a sliding-window int64 dot
    product in numpy. The same math as nested higher-order SQL lambdas
    (tried first: exact but ~100x slower — per-gram interpreted expression
    trees), and bit-identical to the DuckDB oracle because the polynomial
    fits int64 with no modulus (127 * 31^7 * 8 < 2^45). Embarrassingly
    parallel, no shuffle: the scale path at 100 TB. Docs shorter than k get
    NULL/0 — same 3VL on both engines."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", doc_norm_expr().alias("norm")
    )

    def hash_batches(batches):
        import numpy as np
        import pandas as pd

        weights = (_BASE ** np.arange(_KGRAM - 1, -1, -1)).astype(np.int64)
        for pdf in batches:
            out = []
            for doc_id, s in zip(pdf["doc_id"], pdf["norm"]):
                if s is None:
                    # NULL text: same 3VL degradation as the oracle
                    out.append((doc_id, None, 0))
                    continue
                # utf-32 codepoints == ascii()/unicode codepoint in SQL
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if codes.size < _KGRAM:
                    out.append((doc_id, None, 0))
                    continue
                grams = np.lib.stride_tricks.sliding_window_view(codes, _KGRAM)
                h = grams @ weights
                out.append((doc_id, int(h.min()), int(np.unique(h).size)))
            yield pd.DataFrame(
                out, columns=["doc_id", "min_kgram_hash", "n_distinct_kgrams"]
            )

    return d.mapInPandas(
        hash_batches,
        "doc_id bigint, min_kgram_hash bigint, n_distinct_kgrams bigint",
    )


# ---------------------------------------------------------------------------
# Lexicon sentiment via broadcast join (SURVEY §2.10: sentiment ≙ lexicon
# broadcast-join, cf. the EDBT'16 Spark sentiment pattern in PAPERS.md)
# ---------------------------------------------------------------------------

# Public-knowledge valence lexicon over the corpus vocabulary (integer
# scores -> exact aggregation, no float accumulation concerns).
SENTIMENT_LEXICON = [("fast", 2), ("big", 1), ("small", -1), ("slow", -2)]

_Q93_SQL = f"""
WITH lex(word, score) AS (
  VALUES ('fast', 2), ('big', 1), ('small', -1), ('slow', -2)
), toks AS (
  {DOC_TOKENS_SQL}
)
SELECT
  t.doc_id,
  COUNT(*) AS n_sentiment_tokens,
  CAST(SUM(l.score) AS BIGINT) AS sentiment_sum,
  CAST({pos_zero("ROUND(SUM(l.score)::DOUBLE / COUNT(*), 6)")} AS DOUBLE)
    AS sentiment_mean,
  CASE WHEN SUM(l.score) > 0 THEN 'positive'
       WHEN SUM(l.score) < 0 THEN 'negative'
       ELSE 'neutral' END AS sentiment_label
FROM toks t
JOIN lex l ON t.tok = l.word
GROUP BY t.doc_id
"""


@query("q93_lexicon_sentiment", _Q93_SQL)
def q93_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring: tokenize -> explode -> broadcast-join
    the valence lexicon -> per-document aggregate. The lexicon is the
    canonical tiny-dim broadcast (bytes vs a 100 TB corpus: the join is a
    map-side hash probe, zero shuffle before the per-doc group-by). Integer
    scores keep the aggregation exact."""
    d = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(SENTIMENT_LEXICON, "word string, score int")
    toks = doc_tokens(d)
    ssum = F.sum("score")
    return (
        toks.join(F.broadcast(lex), toks.tok == lex.word)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentiment_tokens"),
            ssum.cast("bigint").alias("sentiment_sum"),
            # pos_zero: a tiny negative mean rounds to zero with opposite
            # signs on the two engines (q122 r4 signed-zero class).
            pos_zero_col(F.round(ssum.cast("double") / F.count("*"), 6)).alias(
                "sentiment_mean"
            ),
            F.when(ssum > 0, "positive")
            .when(ssum < 0, "negative")
            .otherwise("neutral")
            .alias("sentiment_label"),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed-size token windows with overlap)
# ---------------------------------------------------------------------------

_CHUNK = 50
_STRIDE = 40  # 10-token overlap

_Q102_SQL = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
    UNNEST(RANGE(0, GREATEST(CAST(CEIL((LEN(toks) - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1, 1))) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
  CAST(LEN(toks[(chunk_id * {_STRIDE} + 1):(chunk_id * {_STRIDE} + {_CHUNK})]) AS BIGINT) AS n_tokens,
  ARRAY_TO_STRING(toks[(chunk_id * {_STRIDE} + 1):(chunk_id * {_STRIDE} + {_CHUNK})], ' ') AS chunk_text
FROM c
"""


@query("q102_document_chunking", _Q102_SQL)
def q102_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-length-fitting step of
    an LLM training pipeline: 50-token chunks with a 10-token overlap
    (stride 40), last partial chunk kept. sequence() builds the chunk ids,
    posexplode-style explode fans out, slice() takes each window — all
    JVM-side; rows fan out ~len/stride x, which is the intended output
    volume, not overhead."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - _CHUNK) / F.lit(float(_STRIDE))).cast("bigint") + 1,
        F.lit(1).cast("bigint"),
    )
    return (
        d.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(F.slice("toks", F.col("chunk_id") * _STRIDE + 1, _CHUNK))
            .cast("bigint")
            .alias("n_tokens"),
            F.array_join(
                F.slice("toks", F.col("chunk_id") * _STRIDE + 1, _CHUNK), " "
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (token-budget bins, deterministic sequential packing)
# ---------------------------------------------------------------------------

_BUDGET = 2048

_Q103_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
    CAST(LEN({tokens_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT lang, doc_id, n_tokens,
    CAST(FLOOR(
      (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / {_BUDGET}.0
    ) AS BIGINT) AS pack_id
  FROM t
)
SELECT lang, pack_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM packed
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


@query("q103_sequence_packing", _Q103_SQL)
def q103_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential sequence-packing: assign docs (in deterministic doc_id
    order per language) to ~2048-token training bins by windowed running
    sum — pack_id = floor(tokens_before / budget). One window pass + one
    aggregation; the deterministic order makes the packing reproducible
    across runs and engines (greedy bin packing is order-dependent, so the
    order IS the spec). The per-lang window shuffle is the same partitioning
    the downstream per-pack aggregation needs — one exchange, reused."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    t = d.select("doc_id", "lang", F.size(toks).cast("bigint").alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = t.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(float(_BUDGET))).cast(
            "bigint"
        ),
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("lang", "pack_id")
    )


# ---------------------------------------------------------------------------
# Fuzzy entity matching (bounded edit distance against a probe list)
# ---------------------------------------------------------------------------

_Q110_SQL = """
WITH probes AS (
  SELECT c_custkey AS probe_id,
    REPLACE(c_name, 'Customer', 'Custmer') AS probe_name
  FROM customer WHERE c_custkey % 97 = 0
)
SELECT p.probe_id, p.probe_name, c.c_custkey AS matched_custkey,
  CAST(LEVENSHTEIN(p.probe_name, c.c_name) AS INTEGER) AS distance
FROM probes p
JOIN customer c ON LEVENSHTEIN(p.probe_name, c.c_name) <= 1
ORDER BY p.probe_id, matched_custkey
"""


@query("q110_fuzzy_entity_match", _Q110_SQL)
def q110_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: resolve corrupted keys (one-character
    deletions here) back to their canonical entities by bounded
    levenshtein distance — the record-linkage / data-cleaning op.

    Scale structure: BLOCK first, verify distance only inside blocks. The
    block key is the digit suffix (after '#'), and for this corruption
    class the blocking is provably lossless: probes differ from their
    source only in the alpha prefix (1 deletion), so any name within
    distance 1 of a probe must spend its single edit restoring the prefix —
    a digit difference would require a second edit. That turns the naive
    probes x corpus nested loop (measured 14.5s at sf0.1: ~2.3M full
    levenshtein evaluations) into an equi join + ~1 distance check per
    corpus row (0.5s). The oracle keeps the unblocked theta-join form,
    which doubles as the losslessness check."""
    c = table(spark, sf_dir, "customer")
    probes = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("probe_id"),
        F.regexp_replace("c_name", "Customer", "Custmer").alias("probe_name"),
    )
    digits = lambda col: F.substring_index(col, "#", -1)  # noqa: E731
    dist = F.levenshtein("probe_name", "c_name")
    return (
        c.join(
            F.broadcast(probes.withColumn("block", digits(F.col("probe_name")))),
            (digits(F.col("c_name")) == F.col("block")) & (dist <= 1),
        )
        .select(
            "probe_id",
            "probe_name",
            F.col("c_custkey").alias("matched_custkey"),
            dist.cast("int").alias("distance"),
        )
        .orderBy("probe_id", "matched_custkey")
    )


# ---------------------------------------------------------------------------
# q206: Gopher-style repetition quality signals (SURVEY §2.10 quality family)
# ---------------------------------------------------------------------------
# The published corpus-curation repetition rules (Gopher / Rae et al. 2021
# §A1.1, reused by RefinedWeb and Dolma): a document dominated by one
# repeated n-gram, or with a large fraction of its positions inside
# duplicated n-grams, is boilerplate/spam and gets filtered before
# training. Token-granularity analogs here (the corpus is whitespace-
# tokenized): top-2-gram mass = 2 x occurrences of the single most
# frequent bigram / n_tokens (occurrence-weighted, NOT a position-
# coverage fraction: a self-overlapping bigram — 'a a' in 'a a a a'
# occurs 3x over 4 tokens — double-counts shared positions and yields
# mass 1.5 > 1); duplicate-3-gram fraction = trigram positions whose
# trigram occurs more than once / trigram positions.
# Complements q40 (length/TTR/stopword) — repetition is the signal family
# q40 does not measure.
#
# Determinism: ratio outputs are UNROUNDED single IEEE divisions of exact
# integers — bit-identical on both engines with no ROUND tie class at all
# (the q51/q49b lesson applied up front), and non-negative so -0.0 cannot
# occur. NULL contracts: text IS NOT NULL twin-filtered; a doc too short
# to have any bigram (trigram) gets count 0 and a NULL ratio on BOTH
# sides (LEFT-JOIN/empty-SUM semantics), and `flagged` COALESCEs each
# NULL comparison to false identically.
#
# 100 TB shape: gram construction is array-side inside whole-stage
# codegen on the scan (zip_with over slices — no explode until the grams
# exist, no window); then two partial-aggregatable shuffles, both
# prefixed by doc_id (count per (doc,k,gram), then rollup per doc).
# Output is one row per document; nothing is quadratic and no driver
# state exists.

# The repetition-signal CTE stack (base tokens + bigram/trigram counts) —
# ONE definition shared by q206's oracle and q212's (the quality-filter
# composition must measure repetition identically to the signal query);
# rebuilding _Q206_SQL through it is byte-identical to the prior literal
# (pinned by tests/test_extensions.py::test_scrub_and_rep_sql_generators_pin),
# so q206's oracle hash is unchanged by construction.
_REP_CTES = f"""
WITH base AS (
  SELECT doc_id, {tokens_sql('text')} AS toks,
         LEN({tokens_sql('text')}) AS n
  FROM documents WHERE text IS NOT NULL
),
g2 AS (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, n),
                        i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM base WHERE n >= 2
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
a2 AS (SELECT doc_id, MAX(c) AS top2 FROM c2 GROUP BY doc_id),
g3 AS (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, n - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM base WHERE n >= 3
),
c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
a3 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
  FROM c3 GROUP BY doc_id
)"""

_Q206_SQL = _REP_CTES + """
SELECT
  b.doc_id,
  CAST(b.n AS BIGINT) AS n_tokens,
  CAST(COALESCE(a2.top2, 0) AS BIGINT) AS top_bigram_count,
  CAST(CAST(a2.top2 AS DOUBLE) * 2.0 / b.n AS DOUBLE) AS top_bigram_mass,
  CAST(COALESCE(a3.dup3, 0) AS BIGINT) AS dup_trigram_tokens,
  CAST(CAST(a3.dup3 AS DOUBLE) / (b.n - 2.0) AS DOUBLE) AS dup_trigram_frac,
  (COALESCE(a2.top2 >= 2 AND CAST(a2.top2 AS DOUBLE) * 2.0 / b.n > 0.20, FALSE)
   OR COALESCE(CAST(a3.dup3 AS DOUBLE) / (b.n - 2.0) > 0.30, FALSE))
    AS flagged
FROM base b
LEFT JOIN a2 ON a2.doc_id = b.doc_id
LEFT JOIN a3 ON a3.doc_id = b.doc_id
"""


@query("q206_repetition_signals", _Q206_SQL)
def q206_repetition_signals(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Repetition quality signals per document: most-frequent-bigram mass
    and duplicate-trigram position fraction, with a Gopher-style
    (token-adapted) discard flag at 0.20 / 0.30. The mass arm of the
    flag additionally requires the top bigram to actually REPEAT
    (count >= 2): mass has a 2/n floor, so short all-distinct docs would
    otherwise be flagged with zero repetition present. ``docs`` (optional
    ``(doc_id, text)`` relation, already non-null-filtered) replaces the
    documents scan — the q217 pair-machinery precedent, added so q218 can
    run the quality gate over URL-dedup survivors only; the default
    rebuilds the identical expression tree. See the block comment above
    for determinism/NULL contracts and the 100 TB plan shape."""
    # Gram construction via posexplode + window lead, NOT array
    # higher-order lambdas: the first cut built grams with nested
    # zip_with/transform lambdas and measured 8.9 s at sf0.1 for a 270k-
    # token corpus — HOF lambdas evaluate interpreted, outside
    # whole-stage codegen (the q92 lesson: nested SQL lambdas 118 s vs
    # the Arrow path). posexplode and lead() keep gram building in
    # generated code; the extra window shuffle partitions by doc_id with
    # ~doc-length groups, which is linear and skew-free at any scale.
    d = (
        docs
        if docs is not None
        else table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    # The doc_id exchange the window requires is placed BEFORE the
    # posexplode (doc_id_exchange). Materialize the token array ONCE
    # before fanning out: size() and
    # posexplode() both consume the same `toks` attribute, so the regex
    # split runs once per document. Writing size(tokens_expr(..)) next to
    # posexplode(tokens_expr(..)) in one select planned the size() copy in
    # the Project ABOVE the Generate — the full-document split re-ran once
    # per exploded token row, O(n_tokens * doc_len) per doc (review-caught,
    # confirmed in the executed plan; CollapseProject leaves the two-step
    # projection alone because split is non-cheap and referenced twice).
    base = (
        doc_id_exchange(d)
        .select("doc_id", tokens_expr("text").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n"),
            F.posexplode("toks").alias("pos", "tok"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    lead1 = F.lead("tok", 1).over(w)
    lead2 = F.lead("tok", 2).over(w)
    # F.concat NULL-propagates, so the last 1 (2) positions of each doc
    # yield NULL grams — kept through the explode (a 2-element array of
    # tagged structs, no lambdas) so every doc, even a 1-token one,
    # survives to the final projection; the conditional aggregates below
    # then require g IS NOT NULL
    led = base.select("doc_id", "n", "tok", lead1.alias("t1"), lead2.alias("t2"))
    g = led.select(
        "doc_id",
        "n",
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).alias("k"),
                    F.concat("tok", F.lit(" "), "t1").alias("g"),
                ),
                F.struct(
                    F.lit(3).alias("k"),
                    F.concat("tok", F.lit(" "), "t1", F.lit(" "), "t2").alias("g"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", "n", F.col("t.k").alias("k"), F.col("t.g").alias("g"))
    counts = g.groupBy("doc_id", "n", "k", "g").agg(F.count("*").alias("c"))
    notnull = F.col("g").isNotNull()
    agg = counts.groupBy("doc_id", "n").agg(
        # conditional aggs skip the other k and the NULL-gram buckets: an
        # empty input leaves the metric NULL, matching the oracle's
        # LEFT-JOIN semantics exactly
        F.max(F.when((F.col("k") == 2) & notnull, F.col("c"))).alias("top2"),
        F.sum(
            F.when(
                (F.col("k") == 3) & notnull,
                F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)),
            )
        ).alias("dup3"),
    )
    top_mass = F.col("top2").cast("double") * F.lit(2.0) / F.col("n")
    dup_frac = F.col("dup3").cast("double") / (F.col("n") - F.lit(2.0))
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("top2"), F.lit(0)).cast("bigint").alias("top_bigram_count"),
        top_mass.cast("double").alias("top_bigram_mass"),
        F.coalesce(F.col("dup3"), F.lit(0)).cast("bigint").alias("dup_trigram_tokens"),
        dup_frac.cast("double").alias("dup_trigram_frac"),
        (
            F.coalesce((F.col("top2") >= 2) & (top_mass > 0.20), F.lit(False))
            | F.coalesce(dup_frac > 0.30, F.lit(False))
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# q212: Gopher-rule quality filter (the quality-family composition)
# ---------------------------------------------------------------------------
# The decision stage real curation stacks run on top of the signal queries
# (Gopher / Rae et al. 2021 Appendix A1.1, reused by RefinedWeb and Dolma):
# compute per-document quality signals and KEEP a document only when every
# rule passes — the quality twin of q210's dedup composition, returning the
# per-document keep/drop ledger with per-rule attribution (the artifact an
# operator tunes thresholds against). Rules, token-adapted to this corpus:
#   length      — 10 <= n_tokens <= 100,000 (Gopher: 50..100k words; the
#                 lower bound matches q40's passes_length_gate)
#   word length — mean token length in [3, 10] chars
#   alpha       — >= 80% of tokens contain an alphabetic character
#   stopwords   — >= 2 stopword OCCURRENCES from the q40 list (Gopher
#                 requires >= 2 of a fixed stopword set; occurrence
#                 counting is the deliberate adaptation, documented here)
#   repetition  — NOT flagged by q206's rule (top-bigram mass > 0.20 with
#                 a repeating top bigram, or duplicate-trigram fraction
#                 > 0.30)
#
# Determinism: EVERY threshold is an exact integer comparison — mean length
# in [3,10] <=> 3n <= sum_len <= 10n; alpha >= 0.8 <=> 5*n_alpha >= 4*n;
# mass > 0.20 <=> 10*top2 > n; dup frac > 0.30 <=> 10*dup3 > 3*(n-2),
# guarded by n >= 3 exactly where q206's NULL ratio COALESCEd to false
# (for n < 3 the trigram arm cannot fire; unguarded, 0 > 3*(n-2) would be
# TRUE at n=1 — integer-rewrite trap caught at design time). No float
# exists anywhere in the query on either engine: no drift class can occur
# by construction (stronger than q206, whose ratio OUTPUTS are single IEEE
# divisions). All arithmetic runs in BIGINT on both engines (DuckDB
# LIST_SUM yields HUGEINT — cast in the stats CTE).
#
# 100 TB shape: the repetition branch is exactly q206's adjudicated plan
# (gram build via posexplode + lead inside codegen, two partial-agg
# shuffles); the token-stats branch is q40's adjudicated shape (per-doc
# array expressions on the scan — one lambda eval per token, amortized,
# never on a fan-out). The two branches join 1:1 on doc_id — per-document
# rows on both sides, a linear AQE-decided join (broadcast at test scale,
# shuffle at corpus scale; either is correct). Repetition counts are
# consumed as INTEGERS (top_bigram_count, dup_trigram_tokens) straight
# from q206's output — single definition of the signal on both engines
# (_REP_CTES oracle-side, q206_repetition_signals Spark-side). No
# reference equivalent (SURVEY.md §2.10 north-star extension).

_STOPWORD_LIST_SQL = "[" + ", ".join("'" + w + "'" for w in STOPWORDS) + "]"

# The full signal+flags CTE stack (repetition CTEs + token stats + per-rule
# flags) — shared with q213's filtered-curation oracle, which gates its
# stage chain on exactly these flags (single definition of the quality
# decision on both engines; q213's Spark path reuses
# q212_gopher_quality_filter directly).
_Q212_CTES = _REP_CTES + f""",
stats AS (
  SELECT doc_id,
    CAST(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))) AS BIGINT) AS sum_len,
    CAST(LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[a-zA-Z]'))) AS BIGINT)
      AS n_alpha,
    CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS({_STOPWORD_LIST_SQL}, x)))
      AS BIGINT) AS n_stop
  FROM base
),
flags AS (
  SELECT b.doc_id AS doc_id,
    CAST(b.n AS BIGINT) AS n_tokens,
    s.sum_len AS sum_token_chars,
    s.n_alpha AS alpha_tokens,
    s.n_stop AS stopword_tokens,
    CAST(COALESCE(a2.top2, 0) AS BIGINT) AS top_bigram_count,
    CAST(COALESCE(a3.dup3, 0) AS BIGINT) AS dup_trigram_tokens,
    (b.n >= 10 AND b.n <= 100000) AS pass_length,
    (3 * b.n <= s.sum_len AND s.sum_len <= 10 * b.n) AS pass_word_len,
    (5 * s.n_alpha >= 4 * b.n) AS pass_alpha,
    (s.n_stop >= 2) AS pass_stopwords,
    NOT ((COALESCE(a2.top2, 0) >= 2 AND 10 * COALESCE(a2.top2, 0) > b.n)
         OR (b.n >= 3 AND 10 * COALESCE(a3.dup3, 0) > 3 * (b.n - 2)))
      AS pass_repetition
  FROM base b
  JOIN stats s ON s.doc_id = b.doc_id
  LEFT JOIN a2 ON a2.doc_id = b.doc_id
  LEFT JOIN a3 ON a3.doc_id = b.doc_id
)"""

_Q212_SQL = _Q212_CTES + """
SELECT *,
  (pass_length AND pass_word_len AND pass_alpha AND pass_stopwords
   AND pass_repetition) AS kept
FROM flags
"""


@query("q212_gopher_quality_filter", _Q212_SQL)
def q212_gopher_quality_filter(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 A1.1, token-adapted):
    per-document keep/drop ledger with per-rule attribution — length,
    mean word length, alphabetic-token fraction, stopword presence, and
    q206's repetition rule — every threshold an exact integer comparison
    (no float anywhere on either engine). One row per non-null document.
    ``docs`` (optional ``(doc_id, text)`` relation, already non-null-
    filtered) replaces the documents scan on BOTH branches (stats and
    q206's repetition signals) — every rule is a per-document signal, so
    the verdict on any doc is corpus-independent; the override only
    shrinks the mass the gate processes (q218 runs it over URL-dedup
    survivors). The default rebuilds the identical expression tree.
    See the block comment above for the rule adaptations, the n >= 3
    guard on the integer-rewritten trigram arm, and the two-branch
    (q206 repetition + q40-style token stats) plan shape."""
    d = (
        docs
        if docs is not None
        else table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    toks = tokens_expr("text")
    # accumulator zero is LONG: an int zero would make F.aggregate sum in
    # 32-bit (the post-hoc bigint cast can't undo a wrapped sum), breaking
    # the block comment's all-BIGINT contract vs the oracle's HUGEINT
    # LIST_SUM on pathological multi-GB documents (review-caught)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    stats = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        sum_len.cast("bigint").alias("sum_token_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("alpha_tokens"),
        F.size(F.filter(toks, _in_set(STOPWORDS)))
        .cast("bigint")
        .alias("stopword_tokens"),
    )
    rep = q206_repetition_signals(spark, sf_dir, docs).select(
        "doc_id", "top_bigram_count", "dup_trigram_tokens"
    )
    j = stats.join(rep, "doc_id")
    n = F.col("n_tokens")
    top2 = F.col("top_bigram_count")
    dup3 = F.col("dup_trigram_tokens")
    pass_length = (n >= 10) & (n <= 100000)
    pass_word_len = (F.lit(3) * n <= F.col("sum_token_chars")) & (
        F.col("sum_token_chars") <= F.lit(10) * n
    )
    pass_alpha = F.lit(5) * F.col("alpha_tokens") >= F.lit(4) * n
    pass_stopwords = F.col("stopword_tokens") >= 2
    pass_repetition = ~(
        ((top2 >= 2) & (F.lit(10) * top2 > n))
        | ((n >= 3) & (F.lit(10) * dup3 > F.lit(3) * (n - 2)))
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "sum_token_chars",
        "alpha_tokens",
        "stopword_tokens",
        "top_bigram_count",
        "dup_trigram_tokens",
        pass_length.alias("pass_length"),
        pass_word_len.alias("pass_word_len"),
        pass_alpha.alias("pass_alpha"),
        pass_stopwords.alias("pass_stopwords"),
        pass_repetition.alias("pass_repetition"),
        (
            pass_length
            & pass_word_len
            & pass_alpha
            & pass_stopwords
            & pass_repetition
        ).alias("kept"),
    )
