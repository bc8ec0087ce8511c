"""Resumable-pipeline tests: bucketing, lineage manifest, idempotent
resume, and the N-vs-4N determinism oracle (identical corpus checksums at
two parallelism levels)."""

import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="pipeline-test")


def test_run_and_resume(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.pages import pages_df
    from swiftsoup_spark.spark import pipeline as P

    out = str(tmp_path_factory.mktemp("out"))
    pages = pages_df(spark, SF_DIR)
    n_total = pages.count()

    man = P.run_extraction(spark, pages, out, n_buckets=8)
    rows = man.collect()
    assert {r.bucket for r in rows} == set(range(8))
    assert sum(r.row_count for r in rows) == n_total
    assert all(r.status == "done" for r in rows)
    cks_full, n_full = P.corpus_checksum(spark, out)

    # simulate a partial failure: drop manifest entries + data for 3 buckets
    keep = [r for r in rows if r.bucket not in (1, 3, 5)]
    spark.createDataFrame(keep, man.schema).write.mode("overwrite").parquet(
        os.path.join(out, P.MANIFEST))
    for b in (1, 3, 5):
        shutil.rmtree(os.path.join(out, "extracted", f"bucket={b}"))

    # resume: only the 3 missing buckets are recomputed; result identical
    man2 = P.run_extraction(spark, pages, out, n_buckets=8)
    assert sorted(r.bucket for r in man2.collect()) == list(range(8))
    cks2, n2 = P.corpus_checksum(spark, out)
    assert (cks2, n2) == (cks_full, n_full)

    # re-running a finished job is a no-op with the same checksum
    man3 = P.run_extraction(spark, pages, out, n_buckets=8)
    cks3, n3 = P.corpus_checksum(spark, out)
    assert (cks3, n3) == (cks_full, n_full)

    ex = spark.read.parquet(os.path.join(out, "extracted"))
    assert ex.count() == n_total
    assert ex.filter(F.col("parse_errors") != 0).count() == 0


def test_parallelism_determinism(tmp_path_factory):
    """Same input, two parallelism levels → identical corpus checksums
    (the sandbox stand-in for the N vs 4N cluster-size oracle).
    Each level runs in its own subprocess (one JVM per SparkContext)."""
    import json
    import subprocess

    script = r"""
import json, sys
sys.path.insert(0, %r)
from swiftsoup_spark.spark.session import get_spark
from swiftsoup_spark.spark.pages import pages_df
from swiftsoup_spark.spark import pipeline as P
n, out = int(sys.argv[1]), sys.argv[2]
spark = get_spark(master=f"local[{n}]", app=f"det{n}")
pages = pages_df(spark, %r)
P.run_extraction(spark, pages, out, n_buckets=4)
print(json.dumps(P.corpus_checksum(spark, out)))
""" % (ROOT, SF_DIR)
    results = []
    for n in (2, 8):
        out = str(tmp_path_factory.mktemp(f"det{n}"))
        r = subprocess.run(
            [sys.executable, "-c", script, str(n), out],
            capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        results.append(json.loads(r.stdout.strip().splitlines()[-1]))
    assert results[0] == results[1]


def test_table_format_seam_resolution():
    from swiftsoup_spark.spark.pipeline import (
        IcebergFormat, ParquetFormat, table_format_for)
    assert isinstance(table_format_for("/tmp/out"), ParquetFormat)
    assert isinstance(table_format_for("local.db.extracted"), IcebergFormat)
    assert isinstance(table_format_for("./rel/path"), ParquetFormat)


def _fake_iceberg_df(calls, exists, write_fails=False):
    """DataFrameWriterV2 + catalog test double for the Iceberg seam."""
    class FakeWriter:
        def overwritePartitions(self):
            calls.append("overwritePartitions")
            if write_fails:
                raise RuntimeError("snapshot commit failed")
        def partitionedBy(self, col):
            calls.append("partitionedBy")
            return self
        def create(self):
            calls.append("create")

    class FakeCatalog:
        def tableExists(self, target):
            calls.append(f"tableExists:{target}")
            return exists

    class FakeSession:
        catalog = FakeCatalog()

    class FakeDF:
        sparkSession = FakeSession()
        def writeTo(self, target):
            calls.append(f"writeTo:{target}")
            return FakeWriter()

    return FakeDF()


def test_iceberg_format_writer_v2_surface():
    """IcebergFormat drives the DataFrameWriterV2 API: existence check
    routes to overwritePartitions (existing) or partitionedBy+create
    (first run)."""
    from swiftsoup_spark.spark.pipeline import IcebergFormat

    calls = []
    IcebergFormat().overwrite_partitions(
        _fake_iceberg_df(calls, exists=True), "c.db.t", "bucket")
    assert calls == ["tableExists:c.db.t", "writeTo:c.db.t",
                     "overwritePartitions"]
    calls.clear()
    IcebergFormat().overwrite_partitions(
        _fake_iceberg_df(calls, exists=False), "c.db.t", "bucket")
    assert calls == ["tableExists:c.db.t", "writeTo:c.db.t",
                     "partitionedBy", "create"]


def test_iceberg_format_write_failure_not_masked():
    """A real overwritePartitions failure on an EXISTING table must
    propagate — not be swallowed and misread as 'first run: create'."""
    from swiftsoup_spark.spark.pipeline import IcebergFormat

    calls = []
    with pytest.raises(RuntimeError, match="snapshot commit failed"):
        IcebergFormat().overwrite_partitions(
            _fake_iceberg_df(calls, exists=True, write_fails=True),
            "c.db.t", "bucket")
    assert "create" not in calls
