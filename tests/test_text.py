"""`word_shingles` over `ws_tokens`: output values against a plain-Python
replay of Spark's `lower`/`trim`/`split` semantics on edge inputs, and
structural pins that a lambda-built array evaluates its per-document input
once (a lambda body re-evaluates an outer expression for every element)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.langid import char_ngrams
from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

TEXTS = [
    None,  # NULL text: no shingles
    "",  # empty text: one "" token
    "   ",  # spaces only: trims to one "" token
    "\nleading newline kept as an empty first token",
    "tab\tseparated\ttokens here",
    "runs   of    spaces  between words",
    "two words",  # fewer than k=5 tokens
    "exactly five tokens right here",  # exactly k=5 tokens
    "  Mixed CASE Ünïcode ÉTÉ Café text with more than five tokens  ",
    "trailing tab\t",  # trim keeps the tab, so split ends with ""
]


def _reference(text: str | None, k: int) -> list[str]:
    """Spark's ``split(lower(trim(text)), '\\s+')``: ``trim`` strips spaces
    only, and the regex split keeps leading and trailing empty tokens
    (Java's ``\\s`` is the ASCII whitespace class)."""
    if text is None:
        return []
    toks = re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("k", [1, 2, 5])
def test_word_shingles_match_python_reference(spark, k, ansi):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = df.select("id", word_shingles(ws_tokens(F.col("text")), k).alias("sh")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    got = {r["id"]: list(r["sh"]) for r in rows}
    assert got == {i: _reference(t, k) for i, t in enumerate(TEXTS)}


def test_char_ngrams_match_python_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    rows = df.select("id", char_ngrams(F.col("text"), (2, 3)).alias("g")).collect()

    def reference(text: str | None) -> list[str]:
        # norm_text: collapse \s+ runs to one space, trim spaces, lowercase
        t = "" if text is None else re.sub(r"\s+", " ", text, flags=re.ASCII).strip(" ").lower()
        return [t[i : i + n] for n in (2, 3) for i in range(len(t) - n + 1)]

    assert {r["id"]: list(r["g"]) for r in rows} == {i: reference(t) for i, t in enumerate(TEXTS)}


def test_word_shingles_tokenize_once(spark):
    expr = str(word_shingles(ws_tokens(F.col("text")), 5))
    assert expr.count("split(") == 1, expr


def test_char_ngrams_normalize_once(spark):
    expr = str(char_ngrams(F.col("text"), (2, 3)))
    assert expr.count("regexp_replace(") == 1, expr
