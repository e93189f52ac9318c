"""Text-analysis column functions for the training-data pipeline.

Tokenization, shingling, language ID, quality scoring, fingerprinting — all
as native Spark SQL expressions over the ``documents`` table (no UDFs: these
run inside whole-stage codegen and scale linearly with no shuffle).

Every function has a DuckDB-SQL twin (suffix ``_sql_duck``) used by the
oracle queries; the pairs are kept adjacent so the symmetry is auditable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Tokenization: lowercase, split on whitespace runs, drop empties.
# --------------------------------------------------------------------------


def tokens(col: str = "text") -> Column:
    return F.filter(F.split(F.lower(F.col(col)), r"\s+"), lambda t: t != "")


def tokens_sql_spark(col: str = "text") -> str:
    return f"filter(split(lower({col}), '\\\\s+'), t -> t <> '')"


def tokens_sql_duck(col: str = "text") -> str:
    return f"list_filter(regexp_split_to_array(lower({col}), '\\s+'), t -> t <> '')"


# "BPE-ish" token estimate: count of letter-runs, digit-runs, and single
# punctuation marks — a cheap proxy for subword token counts.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(col), F.lit(_BPE_RE), 0))


def bpe_token_count_sql_duck(col: str = "text") -> str:
    return f"len(regexp_extract_all({col}, '{_BPE_RE}'))"


# --------------------------------------------------------------------------
# Word n-gram shingles (word-level, space-joined). 0-based in Spark SQL
# array indexing, 1-based in DuckDB — handled per dialect.
# --------------------------------------------------------------------------


def shingles_expr_spark(tokens_expr: str, n: int = 3) -> str:
    """Word n-grams via zip_with over shifted slices.

    Deliberately avoids ``toks[i]`` indexing inside a lambda: Catalyst's
    CollapseProject inlines upstream expressions, and an array-index access
    inside a lambda then re-evaluates the whole tokenizer per element —
    O(tokens^2) per row (measured 22s -> 0.7s at sf0.1 for 5k docs). Slices
    reference the input only at the top level of the projection, keeping the
    cost linear no matter what Catalyst inlines.
    """
    m = f"(size({tokens_expr}) - {n - 1})"
    acc = f"slice({tokens_expr}, 1, {m})"
    for k in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({tokens_expr}, {k}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return (
        f"CASE WHEN size({tokens_expr}) >= {n} THEN array_distinct({acc}) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles_sql_duck(tokens_expr: str, n: int = 3) -> str:
    parts = ", ".join(f"{tokens_expr}[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({tokens_expr}) - {n} + 2), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE [] END"
    )


# --------------------------------------------------------------------------
# Language ID: tiny per-language stopword lists, score = |distinct tokens ∩
# stoplist|, argmax with a fixed language order as the tiebreak. A real
# system would use character-n-gram models; the *shape* (map-side-only
# scoring against broadcast-size lexicons) is the scalable part.
# --------------------------------------------------------------------------

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "也"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # tiebreak priority


def lang_scores(tok: Column) -> dict[str, Column]:
    dt = F.array_distinct(tok)
    return {
        lang: F.size(F.array_intersect(dt, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def lang_scores_sql_duck(tokens_expr: str) -> dict[str, str]:
    out = {}
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        out[lang] = (
            f"len(list_filter(list_distinct({tokens_expr}), "
            f"t -> list_contains([{lst}], t)))"
        )
    return out


def argmax_lang(scores: dict[str, Column]) -> Column:
    """First language in LANG_ORDER whose score equals the row max (and the
    max is positive); all-zero -> 'und'."""
    mx = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((mx > 0) & (scores[lang] == mx), F.lit(lang)).otherwise(expr)
    return expr


def argmax_lang_sql_duck(score_exprs: dict[str, str]) -> str:
    mx = "greatest(" + ", ".join(score_exprs[lang] for lang in LANG_ORDER) + ")"
    sql = "'und'"
    for lang in reversed(LANG_ORDER):
        sql = (
            f"CASE WHEN {mx} > 0 AND {score_exprs[lang]} = {mx} "
            f"THEN '{lang}' ELSE {sql} END"
        )
    return sql
