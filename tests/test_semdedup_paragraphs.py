"""Gates for two round-5 tail ops: in-document paragraph repetition
removal (ops/dedup.dedup_paragraphs) and the perplexity-bucket corpus
filter (ops/ngramlm.perplexity_filter).

dedup_paragraphs: keep-first semantics on crafted paragraph lists,
and the whole operator is a map-only projection (no Exchange).

perplexity_filter: too-short docs (coverage 0) drop; well-covered
low-bits docs keep; thresholds are inclusive bounds.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftsoup_spark.ops.dedup import dedup_paragraphs  # noqa: E402
from swiftsoup_spark.ops.ngramlm import (  # noqa: E402
    char_ngram_model, perplexity_filter)


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="paragraph-dedup-test")


def test_paragraph_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(0, "a\nb\na\na\nc\nb"), (1, "x\ny"), (2, "z\nz\nz"), (3, "")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    assert out[0]["text_clean"] == "a\nb\nc"
    assert (out[0]["n_paras"], out[0]["n_kept"]) == (6, 3)
    assert out[1]["text_clean"] == "x\ny"
    assert out[2]["text_clean"] == "z"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (3, 1)
    # empty text splits to one empty paragraph, which is kept
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (1, 1)


def test_paragraph_dedup_map_only(spark):
    df = spark.createDataFrame([(0, "a\na")], "doc_id: long, text: string")
    plan = (dedup_paragraphs(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan, plan


def test_perplexity_filter_bounds(spark):
    # model trained on doc 0 only (sample_mod=1 includes all; use a
    # corpus where the repeated phrase dominates the model)
    common = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [(0, common), (20, common), (40, common), (60, common), (80, common),
         (1, common + " extra tail of familiar words the quick brown"),
         (7, "ab"),                      # shorter than n: all zeros
         (3, "zzzz qqqq jjjj xxxx vvvv " * 8)],  # uncovered junk
        "doc_id: long, text: string")
    model = char_ngram_model(docs, sample_mod=20, min_count=5)
    out = {r["doc_id"]: r for r in perplexity_filter(
        docs, model, min_coverage_e4=6000, max_bits_e3=6000).collect()}
    assert len(out) == 8
    assert not out[7]["kept"] and out[7]["coverage_e4"] == 0
    assert out[0]["kept"] and out[0]["coverage_e4"] == 10000
    assert not out[3]["kept"], out[3]
    # inclusive bounds: a doc exactly at the coverage threshold keeps
    cov1 = out[1]["coverage_e4"]
    bits1 = out[1]["avg_bits_e3"]
    again = {r["doc_id"]: r for r in perplexity_filter(
        docs, model, min_coverage_e4=cov1, max_bits_e3=bits1).collect()}
    assert again[1]["kept"]
