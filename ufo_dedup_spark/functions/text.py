"""Text-analysis Column expressions for the training-data pipeline.

All JVM-side (codegen) — no UDFs. Tokenization here is the ASCII-regex
variant shared with the DuckDB oracles (__spark_entry__.py); the *parity*
tokenizer (Python \\w semantics) lives in kernel.tokenize and is used by the
scoring UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Minimal English stopword list for quality scoring; deliberately small and
# frozen (part of the engine contract, mirrored in oracle SQL).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "is", "it",
    "for", "with", "as", "at", "by", "from", "that", "this", "was",
]


def tokens_col(text: Column) -> Column:
    """Ordered lowercase ASCII tokens (duplicates kept)."""
    return F.array_remove(F.split(F.lower(text), TOKEN_SPLIT_RE), "")


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized token stream.

    Collapses whitespace/punctuation/case so cosmetic variants collide —
    the exact-dedup key for the normalized-text variant.
    """
    return F.md5(F.array_join(tokens_col(text), " "))


# Marker-token language-ID profiles (Cavnar-Trenkle-style n-gram LID
# reduced to its token-unigram core): a frozen set of high-frequency
# function words per language, mirrored verbatim in the oracle SQL.
# Deterministic by construction — no model weights, no environment libs.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit",
           "von", "zu"],
    "en": ["the", "and", "of", "to", "is", "that", "it", "was", "for",
           "with"],
    "es": ["el", "los", "las", "una", "como", "pero", "por", "ser",
           "dos", "muy"],
    "fr": ["le", "les", "est", "dans", "que", "pour", "une", "des",
           "sur", "pas"],
}


def lang_marker_count_col(text: Column, lang: str) -> Column:
    """Number of tokens (duplicates kept) that hit ``lang``'s marker set.

    Coalesced to 0 for NULL text so NULL classifies as 'und' rather than
    falling through every NULL CASE condition to the last branch.
    """
    return lang_marker_count_from_tokens(tokens_col(text), lang)


def lang_marker_count_from_tokens(toks: Column, lang: str) -> Column:
    """lang_marker_count_col over an already-tokenized array — callers that
    materialize the token array once (a lower projection) avoid
    re-tokenizing per language profile."""
    markers = LANG_MARKERS[lang]
    return F.coalesce(
        F.size(F.filter(toks, lambda t: t.isin(markers))),
        F.lit(0),
    )


# CJK Unified Ideographs block. The \\x{hhhh} escape is supported by BOTH
# Java regex (Spark) and RE2 (the DuckDB oracle), so the same pattern
# string runs on both engines.
CJK_RE = r"[\x{4e00}-\x{9fff}]"


def cjk_char_count_col(text: Column) -> Column:
    """Count of CJK-ideograph characters; 0 for NULL text."""
    return F.coalesce(
        F.regexp_count(text, F.lit(CJK_RE)), F.lit(0)
    )


def lang_id_col(text: Column) -> Column:
    """Predicted language code from marker counts.

    CJK ideographs act as zh's marker set (an ASCII tokenizer sees no
    function words in Chinese text); 'zh' wins when CJK chars outnumber
    every Latin marker count. 'und' when no marker of any language
    occurs; Latin ties break toward the alphabetically-first language
    code (de < en < es < fr) — the CASE chain below is mirrored exactly
    in the oracle SQL.

    NOTE: each marker count re-tokenizes ``text`` and each count appears
    in several CASE branches; hot paths should materialize the counts in
    a lower projection and use ``lang_id_from_counts`` instead.
    """
    c = {lang: lang_marker_count_col(text, lang) for lang in LANG_MARKERS}
    zh = cjk_char_count_col(text)
    return lang_id_from_counts(c, zh)


def lang_id_from_counts(c: dict, zh: Column) -> Column:
    """The lang-ID CASE chain over precomputed marker-count Columns
    (``c[lang]`` per Latin language, ``zh`` for CJK chars). Exactly the
    decision chain mirrored in the oracle SQL."""
    return (
        F.when(
            (zh == 0)
            & (c["de"] == 0) & (c["en"] == 0) & (c["es"] == 0) & (c["fr"] == 0),
            F.lit("und"),
        )
        .when(
            (zh > c["de"]) & (zh > c["en"]) & (zh > c["es"]) & (zh > c["fr"]),
            F.lit("zh"),
        )
        .when(
            (c["de"] >= c["en"]) & (c["de"] >= c["es"]) & (c["de"] >= c["fr"]),
            F.lit("de"),
        )
        .when((c["en"] >= c["es"]) & (c["en"] >= c["fr"]), F.lit("en"))
        .when(c["es"] >= c["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )


# BPE-ish pre-tokenizer regex (GPT-2-style segmentation reduced to its
# ASCII core): English contraction suffixes, then optional-space letter
# runs, digit runs, and punctuation runs. Leftmost-first alternation only
# (no lookarounds), so Java regex (Spark) and RE2 (DuckDB oracle) agree.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+"


def bpe_tokens_col(text: Column) -> Column:
    """BPE-ish pre-tokenization segments over lowercased text."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count_col(text: Column) -> Column:
    """Segment count under the BPE-ish pre-tokenizer; 0 for NULL text."""
    return F.coalesce(F.size(bpe_tokens_col(text)), F.lit(0))


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct word ``k``-gram shingles, hashed to 64-bit longs.

    NOTE: references the tokenizer from inside a per-element lambda, so a
    consumer that has not materialized the token array re-tokenizes per
    shingle position; hot paths should project ``tokens_col`` first and
    call ``shingles_from_tokens_col``.
    """
    return shingles_from_tokens_col(tokens_col(text), k)


def shingles_from_tokens_col(toks: Column, k: int = 3) -> Column:
    """shingles_col over an already-tokenized array.

    Empty array for docs with fewer than ``k`` tokens (the WHEN guard is
    load-bearing: an unguarded ``sequence(1, n-k+1)`` DESCENDS for short
    docs). Hashing shingles to longs makes downstream ``array_intersect``
    far cheaper than on strings; Jaccard values are identical to a
    string-shingle oracle modulo 64-bit collisions (~1e-16 per pair).
    """
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            )
        ),
    )
    return F.when(n >= k, F.array_sort(F.array_distinct(grams))).otherwise(
        F.expr("CAST(array() AS ARRAY<BIGINT>)")
    )
