"""Incremental new-vs-corpus dedup (ops/dedup.incremental_dedup)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftsoup_spark.ops.dedup import incremental_dedup  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="membership-test")


def test_incremental_verdicts(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " changed"
    rows = [
        (0, base, False),                       # corpus
        (1, "totally different words here", False),
        (10, base, True),                       # exact copy of corpus 0
        (11, near, True),                       # near-dup of corpus 0
        (12, "unrelated fresh content zzz", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    got = {r.doc_id: r.verdict for r in incremental_dedup(df).collect()}
    assert got == {10: "exact", 11: "near", 12: "kept"}


def test_incremental_within_batch_dups_not_flagged(spark):
    rows = [(0, "corpus doc words", False),
            (10, "batch dup text", True),
            (11, "batch dup text", True)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    got = {r.doc_id: r.verdict for r in incremental_dedup(df).collect()}
    # identical to each other but not to the corpus -> both kept
    assert got == {10: "kept", 11: "kept"}
