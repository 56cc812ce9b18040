"""Corpus-statistics text operators (round 2): TF-IDF keyword extraction,
bigram language statistics, and frequency-based quality scoring.

Extends operators/text.py's per-document signals with corpus-relative ones
— the scores an LLM-data curation pipeline derives from global token
statistics (rarity-weighted keywords, n-gram distributions, OOV rates).
Tokenization is the engine-wide whitespace form of the text kit
(functions/text.py: tokens_expr ⟷ tokens_sql, doc_tokens ⟷
DOC_TOKENS_SQL), so results compose with q27/q40/q91.

Determinism note: idf is the RATIONAL form (n_docs+1)/(df+1), not
log-scaled — monotone in 1/df, so top-k ranking is unaffected, and it
avoids cross-engine libm last-ulp drift in ln() that would make exact
hash comparison flaky. All divisions are exact-int numerator/denominator
in one double op, identically shaped on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import (
    OLS_SLOPE_SQL,
    dec,
    dec_sql,
    moment_sums,
    moment_sums_sql,
    ols_slope,
)
from ..registry import query, table
from ..functions.text import DOC_TOKENS_SQL, doc_tokens, tokens_expr, tokens_sql
from .text import exchanged_docs


_TOKS_SQL = f"""
  {DOC_TOKENS_SQL}
"""


# ---------------------------------------------------------------------------
# q119: TF-IDF top-k keywords per document.
# ---------------------------------------------------------------------------

_Q119_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         t.tf * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE))
           AS tfidf
  FROM tf t JOIN df d USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, tok, tf, df, tfidf, rk
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


@query("q119_tfidf_keywords", _Q119_SQL)
def q119_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 rarity-weighted keywords per document. Three aggregations
    over one tokenized scan: per-(doc,term) tf, per-term df, corpus size
    as a 1-row broadcast scalar; df (|vocab| rows, small) broadcasts into
    the tf join, and the top-k is a per-doc window on the already
    doc-partitioned frame — shuffles on (doc,tok) and tok only, never on
    the raw text. At 100 TB the vocab-side stays broadcastable after a
    mincount cut; tf dominates and is map-side combinable."""
    d = table(spark, sf_dir, "documents")
    toks = doc_tokens(d)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a lazy 1-row broadcast (no separate driver job)
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.col("tf") * (
        (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        tf.join(F.broadcast(df), on="tok")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", tfidf)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# q124: corpus-wide top bigrams.
# ---------------------------------------------------------------------------

_Q124_SQL = f"""
WITH bi AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l)),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM (SELECT doc_id, {tokens_sql('text')} AS l
        FROM documents)
)
SELECT bigram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM bi
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 25
"""


@query("q124_top_bigrams", _Q124_SQL)
def q124_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-25 bigrams. Adjacent pairs come from zip_with over the
    token array and its tail slice — pure JVM higher-order functions, no
    shuffle until the (map-side combinable) count, then a global top-25
    TakeOrderedAndProject. The n-gram generalization of q27; at 100 TB
    the only shuffle is |bigram-vocab| partial counts."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q125: frequency-based quality score (token commonness + OOV rate).
# ---------------------------------------------------------------------------

_Q125_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
vocab AS (
  SELECT tok, n FROM (
    SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk FROM freq
  ) WHERE rk <= 1000
),
scored AS (
  SELECT t.doc_id,
         COUNT(*) AS n_toks,
         COUNT(v.tok) AS n_invocab,
         SUM(COALESCE(v.n, 0)) AS freq_mass
  FROM toks t LEFT JOIN vocab v USING (tok)
  GROUP BY t.doc_id
)
SELECT doc_id, n_toks,
       CAST(n_toks - n_invocab AS DOUBLE) / CAST(n_toks AS DOUBLE) AS oov_rate,
       CAST(freq_mass AS DOUBLE) / CAST(n_toks AS DOUBLE) AS mean_vocab_freq
FROM scored
ORDER BY doc_id
"""


@query("q125_token_commonness", _Q125_SQL)
def q125_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals from corpus frequency: OOV rate
    against the top-1000 vocabulary and mean in-vocab token frequency —
    the no-transcendental stand-in for unigram-LM surprisal (monotone in
    it for ranking). The vocab is a windowed top-k of the corpus counts
    (tiny) broadcast into the token stream; per-doc sums are exact ints,
    divided once. Identical shape at 100 TB: vocab stays O(k), the
    groupBy(doc_id) shuffle is the only large one."""
    d = table(spark, sf_dir, "documents")
    toks = doc_tokens(d)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), "tok")
    vocab = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 1000)
        .select("tok", "n")
    )
    scored = (
        toks.join(F.broadcast(vocab), on="tok", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.count("n").alias("n_invocab"),
            F.sum(F.coalesce("n", F.lit(0))).alias("freq_mass"),
        )
    )
    return scored.select(
        "doc_id",
        "n_toks",
        (
            (F.col("n_toks") - F.col("n_invocab")).cast("double")
            / F.col("n_toks").cast("double")
        ).alias("oov_rate"),
        (F.col("freq_mass").cast("double") / F.col("n_toks").cast("double")).alias(
            "mean_vocab_freq"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q161: bigram language-model perplexity per document (CCNet-style filter).
# ---------------------------------------------------------------------------

_LM_K = 0.5  # add-k smoothing
# add-k bigram log-probability over (c_ab, c_a, v), rounded to the scale-18
# exact type before any per-doc sum; shared by q161 and _lm_tier_sql (the
# trailing newline and indent are the oracle text's own layout)
_LOGP_SQL = dec_sql(
    f"LN((bc.c_ab + {_LM_K}) / (uc.c_a + {_LM_K} * vc.v))\n" + " " * 13, 18
)


def _logp() -> Column:
    """Spark twin of ``_LOGP_SQL``."""
    p = (F.col("c_ab") + _LM_K) / (F.col("c_a") + _LM_K * F.col("v"))
    return dec(F.log(p), 18)


_Q161_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS l FROM documents
),
bi AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l)), i -> l[i])) AS a,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l)), i -> l[i + 1])) AS b
  FROM toks
),
big_c AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b),
uni_c AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY a),
vocab AS (SELECT COUNT(DISTINCT b) AS v FROM bi),
lm AS (
  SELECT bc.a, bc.b,
         {_LOGP_SQL} AS logp
  FROM big_c bc JOIN uni_c uc USING (a) CROSS JOIN vocab vc
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(-CAST(SUM(lm.logp) AS DOUBLE) / COUNT(*) AS DOUBLE)
         AS avg_neg_logp
FROM bi d
JOIN lm ON lm.a = d.a AND lm.b = d.b
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@query("q161_bigram_lm_perplexity", _Q161_SQL)
def q161_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: train an add-k bigram LM on the
    corpus (bigram + unigram counts, one tokenized scan), then score
    every document by its average negative log-probability under that LM
    — the CCNet/KenLM filtering signal for 'fluent vs degenerate' text,
    here with the LM trained in the SAME engine instead of imported.
    Scale shape: counts are map-side combinable; the LM relation is
    |bigram vocab| rows and BROADCASTS into the scoring join, so the
    corpus-sized side never shuffles for the join (here vocab^2 ~ 1e3;
    at 100 TB a mincount cut keeps it broadcastable — CCNet's own LMs
    are pruned the same way). Determinism: each ln() rounds to
    the scale-18 exact type BEFORE the per-doc sum, so the mean is
    order-independent and bit-identical on both engines."""
    d = table(spark, sf_dir, "documents")
    t = tokens_expr("text")
    bi = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    big_c = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni_c = bi.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = bi.agg(F.countDistinct("b").alias("v"))
    lm = (
        big_c.join(uni_c, on="a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            _logp().alias("logp"),
        )
    )
    return (
        bi.join(F.broadcast(lm), on=["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-(F.sum("logp").cast("double")) / F.count(F.lit(1))).alias("avg_neg_logp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q215: CCNet perplexity tiers (head / middle / tail per language)
# ---------------------------------------------------------------------------
# The bucketing stage CCNet (Wenzek et al. 2020, §4.3) runs on top of the
# LM-perplexity signal: within each language, sort documents by perplexity
# and cut the corpus into head / middle / tail at one-third and two-thirds
# of the CUMULATIVE TOKEN MASS (CCNet cuts by size, not document count) —
# "head" is the most-fluent third, the slice a training run keeps first.
# q161 provides the signal (add-k bigram LM, decimal-rounded logp); q215 is
# the DECISION stage, with two CCNet-faithful changes from q161's shape:
# the LM is trained PER LANGUAGE (CCNet trains one KenLM per language;
# counts group by (lang, a, b)), and the output carries the tier ledger.
#
# Determinism: the only float is avg_neg_logp, q161's pinned construction
# (each ln() rounds to scale-18 decimal BEFORE the order-free per-doc sum,
# so the mean agrees across engines to the driver's round-9 grain; the
# LAST-ULP of the final decimal->double cast + /n division is engine-
# dependent, measured on a hand corpus). The tier ORDER BY therefore uses
# ROUND(mean, 9) with a doc_id tie-break (see the in-code comment in
# _lm_tier_df for the measured flip this prevents), and the cut itself is
# ALL-INTEGER — head iff 3*cum <= total, middle iff 3*cum <= 2*total — so
# no threshold arithmetic can drift.
#
# 100 TB shape: counts/vocab are partial-aggregatable; the per-lang LM
# relation is |pruned bigram vocab| rows and BROADCASTS into the scoring
# join (CCNet's own LMs are pruned the same way — q161's argument). The
# tier stage is ONE ROW PER DOCUMENT (post-agg, no token fan-out), but the
# exact cumulative-mass rule is a per-language prefix sum BY DEFINITION —
# the default window mode executes it as one sorted task per language. At
# 100 TB (~1e9 skinny rows per major language) two replacements exist:
# (a) broadcast thresholds from a mergeable weighted-quantile sketch
# (approx_percentile over (score, mass) — CCNet's practical cut, within
# sketch tolerance), or (b) an exact two-pass distributed prefix sum
# (range-partition by (lang, round(score,9), doc_id), per-partition mass
# offsets, partition-bounded prefix windows). A two-pass prefix sum was
# measured slower than the window at every probed scale (SCALE.md), so
# the window is the only plan. The probe in scripts/scale_probe.py
# measures the m-axis growth of this stage. No reference equivalent
# (SURVEY.md §2.10 north-star extension).


def _bi_pairs(src: DataFrame, keys: list[str]) -> DataFrame:
    """Adjacent-token pair fan-out over a ``(*keys, toks)`` relation —
    q161's sequence construction with the q206 materialize-once lesson
    applied: ``toks`` is a real column here, so the two slice() calls
    consume one attribute instead of re-evaluating a split per arm.
    Shared by q215 and q216 (q161 predates it and keeps its stamped
    tree)."""
    t = F.col("toks")
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    return src.select(
        *keys,
        F.explode(
            F.zip_with(
                F.slice(t, 1, n1),
                F.slice(t, 2, n1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p"),
    ).select(*keys, F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def _lm_tier_sql(src: str) -> str:
    """Oracle twin of :func:`_lm_tier_df`: the per-language add-k bigram
    LM + CCNet mass-tier CTE stack (``bi`` .. ``tiered``) over a CTE named
    ``src`` exposing ``(doc_id, lang, toks, mass)``. ONE definition shared
    by q215 (labeled lang, raw tokens) and q216 (predicted lang,
    post-scrub tokens) so the LM and the cut cannot drift between the
    compositions."""
    return f"""bi AS (
  SELECT doc_id, lang,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)), i -> toks[i])) AS a,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)), i -> toks[i + 1])) AS b
  FROM {src}
),
big_c AS (SELECT lang, a, b, COUNT(*) AS c_ab FROM bi GROUP BY lang, a, b),
uni_c AS (SELECT lang, a, COUNT(*) AS c_a FROM bi GROUP BY lang, a),
vocab AS (SELECT lang, COUNT(DISTINCT b) AS v FROM bi GROUP BY lang),
lm AS (
  SELECT bc.lang AS lang, bc.a AS a, bc.b AS b,
         {_LOGP_SQL} AS logp
  FROM big_c bc
  JOIN uni_c uc ON uc.lang = bc.lang AND uc.a = bc.a
  JOIN vocab vc ON vc.lang = bc.lang
),
scored AS (
  SELECT g.doc_id AS doc_id, g.lang AS lang,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(-CAST(SUM(lm.logp) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS avg_neg_logp
  FROM bi g JOIN lm ON lm.lang = g.lang AND lm.a = g.a AND lm.b = g.b
  GROUP BY g.doc_id, g.lang
),
cumed AS (
  SELECT s.doc_id AS doc_id, s.lang AS lang, m.mass AS mass,
         s.n_bigrams AS n_bigrams, s.avg_neg_logp AS avg_neg_logp,
         SUM(m.mass) OVER (PARTITION BY s.lang
                           ORDER BY ROUND(s.avg_neg_logp, 9), s.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_mass,
         SUM(m.mass) OVER (PARTITION BY s.lang) AS lang_mass
  FROM scored s JOIN {src} m ON m.doc_id = s.doc_id
),
tiered AS (
  SELECT *,
         CASE WHEN 3 * cum_mass <= lang_mass THEN 'head'
              WHEN 3 * cum_mass <= 2 * lang_mass THEN 'middle'
              ELSE 'tail' END AS tier
  FROM cumed
)"""


def _lm_tier_df(src: DataFrame) -> DataFrame:
    """Spark twin of :func:`_lm_tier_sql` over a ``(doc_id, lang, toks,
    mass)`` relation: per-language add-k bigram LM (q161's decimal-pinned
    logp, counts grouped by lang), per-doc scoring, then the CCNet
    head/middle/tail cut by cumulative mass (all-integer rule, doc_id
    tie-break). Returns ``(doc_id, lang, mass, n_bigrams, avg_neg_logp,
    cum_mass, lang_mass, tier)``. See the q215 block comment for the
    100 TB adjudication of the per-lang prefix window."""
    bi = _bi_pairs(src.select("doc_id", "lang", "toks"), ["doc_id", "lang"])
    big_c = bi.groupBy("lang", "a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni_c = bi.groupBy("lang", "a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = bi.groupBy("lang").agg(F.countDistinct("b").alias("v"))
    lm = (
        big_c.join(uni_c, ["lang", "a"])
        .join(F.broadcast(vocab), "lang")
        .select(
            "lang",
            "a",
            "b",
            _logp().alias("logp"),
        )
    )
    scored = (
        bi.join(F.broadcast(lm), ["lang", "a", "b"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-(F.sum("logp").cast("double")) / F.count(F.lit(1))).alias(
                "avg_neg_logp"
            ),
        )
    )
    j = scored.join(src.select("doc_id", "mass"), "doc_id")
    # The sort key is the mean ROUNDED TO THE DRIVER'S 9-DECIMAL GRAIN,
    # not the raw double: the decimal logp sum is exact, but the final
    # decimal->double cast and the /n division can land 1 ulp apart PER
    # ENGINE when two documents' means are analytically equal through
    # different bigram counts (measured: 9x/9 vs 4x/4 on a uniform-LM
    # hand corpus ordered DIFFERENTLY on Spark and DuckDB, flipping
    # tiers). Round-9 collapses analytic ties to equal keys — the doc_id
    # tie-break then gives both engines the same total order; a residual
    # divergence would need a transcendental ln-mean within 1 ulp of a
    # 0.5e-9 rounding boundary (measure-zero, and both engines round
    # half-away-from-zero on the non-negative mean).
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.round("avg_neg_logp", 9), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("mass").over(wcum)
    tot = F.sum("mass").over(Window.partitionBy("lang"))
    tier = (
        F.when(F.lit(3) * cum <= tot, F.lit("head"))
        .when(F.lit(3) * cum <= F.lit(2) * tot, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return j.select(
        "doc_id",
        "lang",
        F.col("mass").cast("bigint").alias("mass"),
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        "avg_neg_logp",
        cum.cast("bigint").alias("cum_mass"),
        tot.cast("bigint").alias("lang_mass"),
        tier.alias("tier"),
    )


_Q215_SQL = (
    f"""WITH base AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks
  FROM documents WHERE text IS NOT NULL
),
src AS (
  SELECT doc_id, lang, toks, CAST(LEN(toks) AS BIGINT) AS mass FROM base
),
"""
    + _lm_tier_sql("src")
    + """
SELECT doc_id, lang,
  mass AS n_tokens,
  n_bigrams, avg_neg_logp,
  CAST(cum_mass AS BIGINT) AS cum_tokens,
  CAST(lang_mass AS BIGINT) AS lang_tokens,
  tier
FROM tiered
"""
)


@query("q215_ccnet_perplexity_tiers", _Q215_SQL)
def q215_ccnet_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tiers (Wenzek et al. 2020 §4.3):
    train an add-k bigram LM PER LANGUAGE (q161's decimal-pinned logp with
    lang added to every count key), score each document, then cut each
    language's corpus at one-third and two-thirds of cumulative token mass
    in perplexity order — head is the most-fluent third. One row per
    scoreable document (>= 1 bigram): doc_id, lang, n_tokens, n_bigrams,
    avg_neg_logp, cum/lang token masses, tier. See the block comment above
    for the all-integer cut rule and the 100 TB adjudication of the
    per-language prefix window (sketch thresholds or a two-pass
    distributed prefix sum at scale)."""
    src = (
        exchanged_docs(spark, sf_dir)
        .select("doc_id", "lang", tokens_expr("text").alias("toks"))
        .withColumn("mass", F.size("toks").cast("bigint"))
    )
    t = _lm_tier_df(src)
    return t.select(
        "doc_id",
        "lang",
        F.col("mass").alias("n_tokens"),
        "n_bigrams",
        "avg_neg_logp",
        F.col("cum_mass").alias("cum_tokens"),
        F.col("lang_mass").alias("lang_tokens"),
        "tier",
    )


# ---------------------------------------------------------------------------
# q165: vocabulary indexing — encode documents as id sequences.
# ---------------------------------------------------------------------------

_Q165_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST({tokens_sql('text')}) AS tok,
         GENERATE_SUBSCRIPTS({tokens_sql('text')}, 1) AS pos
  FROM documents
),
freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM freq
)
SELECT t.doc_id,
       STRING_AGG(CAST(v.id AS VARCHAR), ',' ORDER BY t.pos) AS ids,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@query("q165_vocab_encode", _Q165_SQL)
def q165_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary indexing: rank tokens by corpus frequency (rank 1 =
    most frequent — the id layout real tokenizers emit so frequent ids
    compress well), then encode every document as its id sequence. The
    vocab is one corpus aggregate + a |V|-row window; encoding is
    explode-with-position, broadcast vocab join, and an order-preserving
    re-collect (sort_array over (pos, id) structs — collect_list alone
    has no order guarantee across partitions). The id sequence is emitted
    as one comma-joined string column (oracle: ordered STRING_AGG) — the
    output contract is scalar columns only, since the driver canonicalizer
    cannot sort array cells (q10 pattern)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "id", F.row_number().over(Window.orderBy(F.col("c").desc(), "tok"))
        )
        .select("tok", "id")
    )
    return (
        toks.join(F.broadcast(vocab), on="tok")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q177: token co-occurrence PMI (top associations).
# ---------------------------------------------------------------------------

_PMI_MIN_PAIRS = 25


_Q177_SQL = f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_DISTINCT({tokens_sql('text')})) AS tok
  FROM documents
),
n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
tok_docs AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
)
SELECT p.tok_a, p.tok_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       LN((CAST(p.n_ab AS DOUBLE) * n.n) / (CAST(da.df AS DOUBLE) * db.df))
         AS pmi
FROM pairs p
JOIN tok_docs da ON da.tok = p.tok_a
JOIN tok_docs db ON db.tok = p.tok_b
CROSS JOIN n_docs n
ORDER BY pmi DESC, tok_a, tok_b
LIMIT 50
"""


@query("q177_token_pmi", _Q177_SQL)
def q177_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over within-document token
    co-occurrence — the association matrix behind count-based embeddings
    and collocation mining (bigrams q124 see only ADJACENT pairs; PMI
    sees bag-level association). The pair space is the per-doc distinct-
    token self-join — bounded by distinct-tokens-per-doc squared, NOT
    corpus length squared — then a mincount cut before the (vocab-sized,
    broadcast) df joins and the single-ln score: one float op per
    surviving pair, no summation, so no decimal dance is needed."""
    d = table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_expr("text"))).alias("tok")
    ).distinct()
    n_docs = dt.select("doc_id").distinct().count()
    tok_docs = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    a = dt.alias("a")
    b = dt.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    da = tok_docs.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    db = tok_docs.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = F.log(
        (F.col("n_ab").cast("double") * n_docs)
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return (
        pairs.join(F.broadcast(da), on="tok_a")
        .join(F.broadcast(db), on="tok_b")
        .select("tok_a", "tok_b", "n_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q193: Zipf power-law fit over the token frequency distribution.
# ---------------------------------------------------------------------------

_Q193_SQL = f"""
WITH freq AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS f
  FROM (SELECT UNNEST({tokens_sql('text')}) AS tok
        FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS DOUBLE)) AS x,
         LN(f) AS y
  FROM freq
),
sums AS (
  SELECT {moment_sums_sql("x", "y")}
  FROM ranked
)
SELECT {OLS_SLOPE_SQL} AS zipf_exponent,
       CAST(k AS BIGINT) AS vocab_size
FROM sums
"""


@query("q193_zipf_exponent", _Q193_SQL)
def q193_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: the log-log rank-frequency slope of the
    vocabulary — natural language sits near -1; far-off exponents flag
    synthetic, templated, or spam corpora (another corpus-level quality
    diagnostic alongside entropy q175 and repetition q130). One token
    count, one |vocab|-row rank window, least squares from decimal-exact
    component sums (q178's discipline). Each ln() is a single float op
    on identical inputs; ONLY the sums need the decimal rounding."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), "tok")
    ranked = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("f").alias("y"),
    )
    sums = ranked.agg(*moment_sums("x", "y"))
    return sums.select(
        ols_slope().alias("zipf_exponent"), F.col("k").cast("bigint").alias("vocab_size")
    )
