"""Text-analysis column expressions (SURVEY.md §2.11 'Text analysis').

All JVM-side built-ins (regexp over codegen'd expressions); no Python
in the hot path, so these run at scan speed on 100 TB of documents.
Regex classes are ASCII (`\\w`, `[a-z0-9]`) which Java regex and
DuckDB's RE2 interpret identically — that keeps the oracle exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: word pieces OR single non-word-non-space marks.
BPE_PATTERN = r"\w+|[^\w\s]"
_WORD_CLASS = "a-z0-9"
WORD_PATTERN = f"[{_WORD_CLASS}]+"
STOPWORD_PATTERN = r"\b(the|a|an|of|and|to|is|in|that|it)\b"
PUNCT_CLASS = "[.,!?;:]"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col) -> Column:
    """Whitespace-token count (number of \\S+ runs)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(r"\S+"), 0)).cast("long")


def bpe_token_count(col) -> Column:
    """BPE-ish token count: word pieces + punctuation marks."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_PATTERN), 0)).cast("long")


def words(col) -> Column:
    """Lower-cased alphanumeric word array (the shingling base)."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(WORD_PATTERN), 0)


def word_ngrams(col, n: int) -> Column:
    """Every word n-gram of ``words(col)`` in order, repeats kept, each
    joined with single spaces: the oracle's
    ``array_to_string(array_slice(regexp_extract_all(lower(text),
    '[a-z0-9]+'), i, i + n - 1), ' ')`` for every start ``i``.

    One codegen'd regex pass, no lambda: the lower-cased text becomes
    its words joined by single spaces, and a zero-width lookahead
    anchored at each word start captures that word and the n - 1 after
    it (a start with fewer than n - 1 words after it matches nothing).
    NULL text gives NULL. Lookaround is Java regex only (DuckDB's RE2
    has none), which is why the oracles spell the slices out."""
    joined = F.trim(F.regexp_replace(F.lower(_c(col)), f"[^{_WORD_CLASS}]+", " "))
    gram = f"{WORD_PATTERN}(?: {WORD_PATTERN}){{{n - 1}}}"
    return F.regexp_extract_all(joined, F.lit(f"(?<![{_WORD_CLASS}])(?=({gram}))"), 1)


def punct_count(col) -> Column:
    c = _c(col)
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))).cast("long")


def stopword_count(col) -> Column:
    return F.size(F.regexp_extract_all(F.lower(_c(col)), F.lit(STOPWORD_PATTERN), 0)).cast("long")


def stopword_lang(col) -> Column:
    """Stopword-voting language guess: the first of en/de/es/fr whose
    stopword set matches at least twice in the lower-cased text, else
    'other' (q32's classifier, q124's confusion matrix)."""

    def hits(pat: str) -> Column:
        return F.size(F.regexp_extract_all(F.lower(_c(col)), F.lit(pat), 0))

    return (
        F.when(hits(r"\b(the|and|of|to|is)\b") >= 2, "en")
        .when(hits(r"\b(der|die|das|und|ist)\b") >= 2, "de")
        .when(hits(r"\b(el|la|los|es|de)\b") >= 2, "es")
        .when(hits(r"\b(le|les|est|et|une)\b") >= 2, "fr")
        .otherwise("other")
    )


def alpha_ratio(col) -> Column:
    """Share of [A-Za-z] characters — a cheap quality signal.

    NULL for empty text: the denominator is nullif(length, 0), because
    under Spark 4's default ANSI mode a double division by zero THROWS
    (aborting the whole job on one empty document) while DuckDB yields
    NULL — nullif makes both engines produce NULL, which then filters/
    aggregates identically on both sides."""
    c = _c(col)
    return F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double") / F.nullif(
        F.length(c), F.lit(0)
    ).cast("double")


def hash60(col) -> Column:
    """60-bit md5-prefix content hash — THE engine-portable hash key
    convention (q37): 15 hex chars parse into int64 exactly in both
    Spark and DuckDB (`CAST('0x' || substring(md5(x),1,15) AS
    BIGINT)`); 16 would overflow the signed cast. One definition so
    the parity-critical width/base cannot drift between the call
    sites (doc fingerprints, span window keys, chunk hashes)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")
