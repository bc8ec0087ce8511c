"""Unicode scrub (ops/scrub), host boilerplate and normalized-key
dedup (ops/dedup)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[2]", app="scrub-search-test")


def test_scrub_text(spark):
    from swiftsoup_spark.ops.scrub import scrub_text
    df = spark.createDataFrame(
        [(0, "a​b­c﻿"),      # ZWSP, SHY, BOM removed
         (1, "x y z"),            # NBSP + em space -> ' '
         (2, "tab\tkeeps\nnewline"),        # \t and \n survive
         (3, "ctl\x01\x9fgone")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in scrub_text(df).collect()}
    assert (rows[0].text_scrubbed, rows[0].n_removed) == ("abc", 3)
    assert (rows[1].text_scrubbed, rows[1].n_removed) == ("x y z", 0)
    assert (rows[2].text_scrubbed, rows[2].n_removed) == (
        "tab\tkeeps\nnewline", 0)
    assert (rows[3].text_scrubbed, rows[3].n_removed) == ("ctlgone", 2)


def test_scrub_sql_matches(spark):
    import duckdb
    from swiftsoup_spark.ops.scrub import scrub_sql, scrub_text
    vals = ["a​b", "x y", "plain", "﻿bom"]
    df = spark.createDataFrame([(v,) for v in vals], "text string")
    got = [r.text_scrubbed
           for r in scrub_text(df).orderBy("text").collect()]
    con = duckdb.connect()
    exp = [r[0] for r in con.execute(
        f"SELECT {scrub_sql('t')} FROM (SELECT unnest(?) AS t) ORDER BY t",
        [vals]).fetchall()]
    assert got == exp


def test_remove_host_boilerplate(spark):
    from swiftsoup_spark.ops.dedup import remove_host_boilerplate
    rows = [(i, "h1", f"FOOT\nbody {i}\nNAV") for i in range(4)]
    # h2 has the SAME footer text but only 1 doc: below min_docs -> kept
    rows.append((9, "h2", "FOOT\nbody 9"))
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {r.doc_id: r for r in remove_host_boilerplate(df).collect()}
    for i in range(4):
        assert out[i].text_clean == f"body {i}"
        assert (out[i].n_lines, out[i].n_removed) == (3, 2)
    assert out[9].text_clean == "FOOT\nbody 9"
    assert out[9].n_removed == 0


def test_norm_exact_dedup(spark):
    from swiftsoup_spark.ops.dedup import norm_exact_dedup
    df = spark.createDataFrame(
        [(1, "Hello,   World! 42"), (2, "hello world"),
         (3, "HELLO ... world"), (4, "different text")],
        "doc_id long, text string")
    out = {r.nkey: r for r in norm_exact_dedup(df).collect()}
    assert len(out) == 2
    big = max(out.values(), key=lambda r: r.n_docs)
    assert (big.n_docs, big.rep_id) == (3, 1)


def test_norm_key_sql_matches(spark):
    import duckdb
    from pyspark.sql import functions as F
    from swiftsoup_spark.ops.dedup import norm_key_col, norm_key_sql
    vals = ["A  b,c!", "x9y", "  trim me  ", "plain"]
    got = [r.k for r in spark.createDataFrame([(v,) for v in vals],
                                              "t string")
           .select(norm_key_col(F.col("t")).alias("k"), "t")
           .orderBy("t").collect()]
    exp = [r[0] for r in duckdb.connect().execute(
        f"SELECT {norm_key_sql('t')} FROM (SELECT unnest(?) AS t)"
        " ORDER BY t", [vals]).fetchall()]
    assert got == exp
