"""Physical-plan quality gates: the properties that matter at 100 TB.

- Column pruning: extraction over a pages table must scan ONLY (url, html)
  — a scan reading all columns for the 2-column kernel input is a bug.
- No shuffle in the extraction path: scan → project → ArrowEvalPython.
- Small dimension joins broadcast (ANN query side).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="plan-test")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_prunes_scan_columns(spark, tmp_path_factory):
    from swiftsoup_spark.spark.pages import pages_df
    from swiftsoup_spark.spark.extract import extract_pages

    out = str(tmp_path_factory.mktemp("pages"))
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    ex = extract_pages(pages).select("url", "text")
    plan = _plan(ex)
    # parquet scan must read only url + html
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    for col in ("text", "lang", "source", "ts_epoch", "doc_id"):
        assert f"{col}:" not in read_schema, f"unpruned column {col}: {read_schema}"


def test_extraction_has_no_shuffle(spark, tmp_path_factory):
    from swiftsoup_spark.spark.extract import extract_pages

    out = str(tmp_path_factory.mktemp("pages2"))
    from swiftsoup_spark.spark.pages import pages_df
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    ex = extract_pages(pages)
    plan = _plan(ex)
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_exact_dedup_partial_aggregation(spark):
    """groupBy(md5) must partial-aggregate map-side before the shuffle."""
    from swiftsoup_spark.ops.dedup import exact_dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    # two HashAggregate phases around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_quality_pipeline_no_post_kernel_shuffle(spark, tmp_path_factory):
    """extract -> tokenize -> filter -> fingerprint must stay one fused
    stage: the filter/project run in whole-stage codegen directly on the
    MapInArrow output, with no Exchange after the kernel."""
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.extract import extract_pages
    from swiftsoup_spark.spark.pages import pages_df

    out = str(tmp_path_factory.mktemp("pages3"))
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    ex = extract_pages(pages).select("url", "text")
    q = ex.select(
        "url",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("fp"),
    ).filter(F.col("n_tokens") >= 20)
    plan = _plan(q)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan, plan


def test_scoped_extraction_prunes_and_fuses(spark, tmp_path_factory):
    """#id-scoped extraction (C fast path) keeps the same fused plan."""
    from swiftsoup_spark.spark.extract import extract_pages
    from swiftsoup_spark.spark.pages import pages_df

    out = str(tmp_path_factory.mktemp("pages4"))
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    ex = extract_pages(pages, css_scope="#main").select("url", "text")
    plan = _plan(ex)
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_prepare_shard_three_shuffles_all_keyed(spark):
    """The end-to-end shard pipeline (extract → gate → dedup → lang-ID →
    rollup) must hold at exactly THREE shuffles: the tiny-base fan-out
    repartition (doc_id), the md5-fingerprint dedup groupBy (fp), and
    the final (shard, lang) rollup. Lang-ID and token stats run
    MAP-SIDE before the dedup shuffle — an implementation that joins
    lang back after dedup, or shuffles the corpus for the quality gate,
    shows up here as a fourth Exchange."""
    import re

    import __spark_entry__ as E
    df = E.queries()["prepare_shard"](spark, SF_DIR)
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "CartesianProduct" not in plan
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sorted(keys) == ["_groupingexpression", "doc_id", "fp"], plan


def test_line_dedup_linear_shuffles(spark):
    """CCNet-style corpus line dedup: exactly two line_key shuffles
    (frequency groupBy + probe join input) and one doc_id rebuild —
    every stage linear in corpus bytes, nothing quadratic."""
    import re

    import __spark_entry__ as E
    df = E.queries()["line_dedup"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sorted(keys) == ["doc_id", "line_key", "line_key"], plan


def test_host_sample_salted_two_phase(spark, tmp_path_factory):
    """The salted per-host min-K aggregates in TWO phases: a partial
    keyed by (host, salt) and a merge keyed by host — the physical plan
    must show both groupings so no single task ever owns a whole host's
    rows (the north rule's host-skew requirement)."""
    from swiftsoup_spark.ops.hoststats import host_url_sample
    from swiftsoup_spark.spark.pages import pages_df

    out = str(tmp_path_factory.mktemp("pages5"))
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    plan = _plan(host_url_sample(pages, k=3, salt=8))
    # phase 1 keys: host + salt; phase 2 keys: host only
    import re
    assert plan.count("Exchange") >= 2, plan
    assert re.search(r"keys=\[host#\d+, s#\d+", plan), plan
    assert re.search(r"keys=\[host#\d+\]", plan), plan


def test_template_fingerprint_fused(spark, tmp_path_factory):
    """The DFS-tag fingerprint must ride ONE fused scan→MapInArrow
    stage (html never shuffles); only (host, fp) pairs reach the
    partial-aggregated groupBy."""
    from swiftsoup_spark.ops.template import template_clusters
    from swiftsoup_spark.spark.pages import pages_df

    out = str(tmp_path_factory.mktemp("pages6"))
    pages_df(spark, SF_DIR).write.mode("overwrite").parquet(out)
    pages = spark.read.parquet(out)
    plan = _plan(template_clusters(pages))
    assert "MapInArrow" in plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2  # map-side partials


def test_latest_snapshot_single_partial_agg(spark):
    """Argmax-per-url must be ONE max(struct) aggregate with map-side
    partials — no Window, no self-join back."""
    import __spark_entry__ as E
    df = E.queries()["latest_snapshot"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_host_boilerplate_broadcasts_host_counts(spark):
    """The tiny host→doc-count aggregate must broadcast; line traffic
    stays keyed on the uniform (host, line_key)."""
    import __spark_entry__ as E
    df = E.queries()["host_boilerplate"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_passage_excise_semi_join_no_fanout(spark):
    """Passage excision: marks must SEMI-join the shared-fingerprint
    set (no pair fanout, unlike the winnow_pairs self-join), with no
    cartesian anywhere and every exchange keyed (fp for the shared-set
    aggregate, d for the island windows / rebuild join)."""
    import re

    import __spark_entry__ as E
    df = E.queries()["passage_excise"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    keys = {m for m in re.findall(
        r"Exchange hashpartitioning\((\w+)", plan)}
    assert keys <= {"d", "fp", "doc_id"}, plan
