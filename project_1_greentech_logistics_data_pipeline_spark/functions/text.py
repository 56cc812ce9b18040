"""Cross-engine text primitives: the whitespace tokenizer, the
one-token-per-row relation over ``documents``, and the canonical document
normalization and fingerprint. Each Spark helper has its DuckDB twin next
to it (``tokens_expr``/``tokens_sql``, ``doc_tokens``/``DOC_TOKENS_SQL``,
``doc_norm_expr``/``DOC_NORM_SQL``, ``doc_fp_expr``/``DOC_FP_SQL``).

Whitespace is one character set on every engine, spelled once per engine
here. Spark compiles Java regex, whose ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``;
DuckDB compiles RE2, whose ``\\s`` omits vertical tab (``\\x0B``), so the
oracle spells the class ``[\\s\\x0b]``; Python's ``re`` ``\\s`` is
Unicode-aware (it also matches NBSP), so the Python side lists the six
characters. TRIM strips ASCII spaces only, on Spark and DuckDB alike
(``str.strip(" ")`` in Python), so a tab- or vertical-tab-led document
keeps a leading ``''`` token on every engine, and both engines' regex
split keeps such edge empties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS_CLASS = r"\s"  # Spark (Java regex)
WS_CLASS_SQL = r"\s\x0b"  # DuckDB (RE2), inside a bracket expression
WS_CLASS_PY = " \t\n\x0b\f\r"  # Python re, inside a bracket expression


def tokens_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), f"{WS_CLASS}+")


def split_sql(expr: str) -> str:
    """Whitespace split of ``expr`` without the TRIM."""
    return f"STRING_SPLIT_REGEX({expr}, '[{WS_CLASS_SQL}]+')"


def tokens_sql(expr: str) -> str:
    return split_sql(f"TRIM({expr})")


def doc_tokens(docs: DataFrame) -> DataFrame:
    """``(doc_id, tok)``: one row per token of each document."""
    return docs.select("doc_id", F.explode(tokens_expr("text")).alias("tok"))


DOC_TOKENS_SQL = f"SELECT doc_id, UNNEST({tokens_sql('text')}) AS tok\n  FROM documents"


# The canonical document normalization (lowercase + whitespace collapse)
# and its md5 fingerprint, shared by every exact-dedup consumer and the
# streaming incremental dedup.


def doc_norm_expr(col: str = "text") -> Column:
    return F.lower(F.regexp_replace(F.trim(F.col(col)), f"{WS_CLASS}+", " "))


DOC_NORM_SQL = f"LOWER(REGEXP_REPLACE(TRIM(text), '[{WS_CLASS_SQL}]+', ' ', 'g'))"


def doc_fp_expr(col: str = "text") -> Column:
    return F.md5(doc_norm_expr(col))


DOC_FP_SQL = f"MD5({DOC_NORM_SQL})"
