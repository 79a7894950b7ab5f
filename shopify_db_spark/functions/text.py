"""Text-analysis functions for large-scale document pipelines.

Everything is built from JVM-side ``pyspark.sql.functions`` (regex,
higher-order array functions, md5) — no Python UDFs — so the whole
module stays inside whole-stage codegen and scales linearly with the
scan. These are the per-document building blocks the dedup operators
(``operators.dedup``) and the catalog's document queries compose.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: stopword sets per language for the language-ID heuristic. Small,
#: high-frequency function words; extend per deployment.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "de", "et", "est", "que", "un", "pour", "dans", "les"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"]


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form used
    for fingerprinting and dedup."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored token estimate: word-piece-like segments
    obtained by splitting on whitespace AND on letter/digit/punct
    boundaries (e.g. ``spark2.0!`` → ``spark``, ``2``, ``.``, ``0``,
    ``!``). A cheap upper-bound proxy for subword vocabularies that
    needs no model file."""
    pieces = F.regexp_extract_all(
        normalize_text(col), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), 1
    )
    return F.size(pieces)


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles from an ALREADY-MATERIALIZED token array.

    Higher-order functions are interpreted (not codegen'd) and
    re-evaluate every non-lambda subtree of the lambda body once per
    element — so ``toks`` must be a projected column (or other cheap
    expression), never an inline ``split(regexp_replace(...))``
    chain, or the tokenization cost multiplies by the shingle count.
    Call sites project the token array first (Catalyst keeps a
    multi-referenced non-trivial projection as a real column)."""
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def ngrams_of_norm(norm: Column, n: int = 8) -> Column:
    """Character n-grams from an ALREADY-MATERIALIZED normalized
    string (same HOF caveat as :func:`shingles_of_tokens`)."""
    k = F.length(norm) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(norm, i, n)),
    ).otherwise(F.array(norm))


def fingerprint(col: Column) -> Column:
    """Exact-dedup fingerprint: md5 of the normalized text. md5 is
    engine-portable (identical hex in Spark, DuckDB, Postgres), which
    keeps dedup results reproducible across systems."""
    return F.md5(normalize_text(col))


def lang_scores_of_tokens(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over an ALREADY-MATERIALIZED
    token array (project ``tokens(col)`` first in hot paths — the
    same HOF re-evaluation caveat as :func:`shingles_of_tokens`)."""
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id_from_scores(scores: dict[str, Column]) -> Column:
    """Argmax language from per-language score COLUMNS with the
    deterministic precedence order (en > es > de > fr > zh); 'und'
    when no stopword hits at all."""
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def md5_bucket(col: Column, salt: str, m: int) -> Column:
    """Engine-portable uniform hash bucket in [0, m): the integer
    value of the first 8 md5 hex digits of ``salt || ':' || col``,
    mod ``m``. md5 hex is identical across Spark / DuckDB / Postgres
    (same property :func:`fingerprint` relies on), so bucket sets
    built by one engine can be probed by another — the primitive
    under the Bloom-style membership filter (q75). 8 hex digits =
    32 bits, exact in BIGINT on both engines."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), col)), 1, 8), 16, 10
        ).cast("long")
        % m
    )
