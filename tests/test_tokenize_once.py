"""The shared tokenizer runs once per row, and the shingles it feeds keep
their meaning.

``norm_tokens`` read inside a higher-order function's lambda would run
again on every element (no common-subexpression elimination inside a
lambda body), so ``word_shingles`` and ``repetition_features`` bind the
tokens with ``functions.let``. The first test counts the tokenizer's
``regexp_replace`` in the optimized plan; the second pins the shingle
semantics against a pure-Python reference."""

import re

import pytest
from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.functions import word_shingles
from debezium_connector_yugabytedb_1_spark.operators.text import repetition_features


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _src(spark):
    # not a LocalRelation: the optimizer would fold the projection away
    return spark.range(1).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )


@pytest.mark.parametrize("k", [2, 3])
def test_word_shingles_tokenizes_once(spark, k):
    plan = _optimized(_src(spark).select(word_shingles("text", k).alias("sh")))
    assert plan.count("regexp_replace") == 1, plan


def test_repetition_features_tokenizes_once(spark):
    plan = _optimized(repetition_features(_src(spark)).select("top_bigram_share"))
    assert plan.count("regexp_replace") == 1, plan


def _ref_shingles(text, k):
    """``norm_tokens`` (lowercase, collapse ASCII whitespace runs, trim,
    split on one space), then distinct k-grams in first-occurrence order;
    fewer than k tokens give the one whole-token-list shingle."""
    if text is None:
        toks = []
    else:
        toks = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip(" ").split(" ")
    if len(toks) < k:
        return [" ".join(toks)]
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return list(dict.fromkeys(grams))


TEXTS = [
    None,
    "",
    "   ",
    "one",
    "two words",
    "  leading runs here",
    "trailing runs here \t\n ",
    "inner \t\n  whitespace   runs\r\nand more",
    "a b a b a b a b",
    "The Cat the CAT the cat sat",
    "x y z x y z x y z w",
]


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_word_shingles_match_reference(spark, k):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", word_shingles("text", k).alias("sh")).collect()
    }
    assert got == {i: _ref_shingles(t, k) for i, t in enumerate(TEXTS)}
