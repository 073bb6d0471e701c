"""Text analysis for training-data pipelines — language-ID heuristic,
quality scoring, token counting, document fingerprinting. Everything is a
JVM-side Catalyst expression (split / array ops / xxhash64) so the hot
path stays inside whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# minimal stopword profiles for the n-gram/stopword language heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es", "por"],
}


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer regex, restricted to constructs shared by
# Java regex and RE2 (no lookarounds, no \p classes) so the same literal
# pattern runs in Catalyst and in the DuckDB oracle
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_regex_token_count(text: Column) -> Column:
    """Token count under the GPT-2-style pre-tokenization regex
    (contraction suffixes, space-prefixed letter runs, digit runs,
    punctuation runs) — the standard fast estimate of BPE token counts
    before merges; whitespace-only residue is not counted."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), F.lit(0)))


def quality_score(text: Column) -> Column:
    """[0,1] heuristic: penalizes extreme length, high punctuation density,
    low alphabetic ratio — the usual cheap pre-filter for web corpora."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    len_ok = F.when((n >= 20) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.3))
    alpha_ratio = alpha / F.greatest(n, F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct / F.greatest(n, F.lit(1.0)) * 4, F.lit(1.0))
    return F.round(len_ok * alpha_ratio * punct_pen, 6)


def lang_id(text: Column) -> Column:
    """Stopword-overlap language guess over the profiled languages;
    'und' (undetermined) when nothing matches."""
    t = tokens(text)
    scores = []
    for lang, words in _STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(
                F.size(F.filter(t, lambda x: F.array_contains(sw, x))).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """64-bit content fingerprint of the token-normalized document
    (whitespace-insensitive, case-insensitive)."""
    return F.xxhash64(F.concat_ws(" ", tokens(text)))


def document_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        F.size(F.array_distinct(tokens(t))).alias("n_distinct_tokens"),
        F.length(t).alias("n_chars"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
        fingerprint(t).alias("fingerprint"),
    )
