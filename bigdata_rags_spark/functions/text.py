"""Text-analysis column expressions for training-data pipelines.

All pure Column expressions over built-in functions — JVM-side, codegen'd,
no UDFs — so they run at full scan speed on any number of executors.  Each
has an exact DuckDB-SQL mirror used by the oracle queries (portability rule:
only constructs with identical semantics in both engines: md5, regexp with
basic classes, lambda filter/transform on arrays, least/greatest).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deterministic surface: the classifier is a pure function of
# the text, mirrored 1:1 in oracle SQL.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "a", "is", "it", "you", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"],
    "fr": ["le", "les", "de", "et", "un", "il", "que", "ne", "sur", "au"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "auf"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def norm_text(text: Column) -> Column:
    """Normalization used for content hashing: lowercase, trim, collapse
    internal whitespace."""
    return F.lower(F.trim(F.regexp_replace(text, "\\s+", " ")))


def ws_tokens(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization -> array<string> (non-distinct)."""
    base = F.lower(F.trim(text)) if lowercase else F.trim(text)
    return F.split(base, "\\s+")


def word_shingles(tokens: Column, k: int) -> Column:
    """k-gram word shingles as space-joined strings; empty array when the
    document has fewer than k tokens (guarded — Spark's ``sequence`` would
    otherwise generate a descending range).

    ``tokens`` is bound once, as the lambda variable ``t`` of a one-element
    ``transform``: Spark re-evaluates an outer expression in a lambda body
    once per element, so slicing ``tokens`` directly would re-split the
    whole document for every shingle, O(n^2) per document (one shingling
    pass over a 684-doc corpus measured 3.5 s that way, 0.6 s bound)."""

    def shingles(t: Column) -> Column:
        n = F.size(t)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(tokens), shingles)[0]


def stopword_hits(tokens: Column, words: list[str]) -> Column:
    """Count of tokens in a fixed word list (non-distinct; frequency counts).
    ``filter`` with an isin lambda stays a codegen'd array expression."""
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


def punct_count(text: Column) -> Column:
    """Characters that are not alphanumeric or whitespace."""
    return F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def content_hash(text: Column) -> Column:
    """Exact-dedup key: md5 of normalized text (portable to every engine;
    string->binary cast is UTF-8 in both Spark and DuckDB)."""
    return F.md5(norm_text(text))


def html_extract_text(html: Column) -> Column:
    """HTML -> visible text (the WET-extraction step a web-corpus pipeline
    runs before any text analysis): drops <script>/<style> subtrees
    ENTIRELY (their contents are code, not prose), strips every remaining
    tag and HTML comment, decodes the five standard named entities plus
    numeric character references' common ASCII range is left to real
    parsers — this is the deterministic regex tier (the C4/CCNet
    extraction fidelity class, not a DOM parser), then collapses
    whitespace.  Pure codegen'd regexp algebra, no UDF; mirrored 1:1 by
    the oracle SQL.

    Order matters and is part of the contract: script/style removal ->
    comment removal -> tag strip -> entity decode (&amp; LAST so
    '&amp;lt;' decodes to '&lt;' the literal, not to '<') -> whitespace
    collapse + trim."""
    t = F.regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, "(?is)<style\\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, "(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, "(?s)<[^>]+>", " ")
    t = F.regexp_replace(t, "&lt;", "<")
    t = F.regexp_replace(t, "&gt;", ">")
    t = F.regexp_replace(t, "&quot;", "\"")
    t = F.regexp_replace(t, "&#39;", "'")
    t = F.regexp_replace(t, "&nbsp;", " ")
    t = F.regexp_replace(t, "&amp;", "&")
    return F.trim(F.regexp_replace(t, "\\s+", " "))
