"""Resumable-pipeline tests: bucketing, lineage manifest, idempotent
resume, crash injection into the manifest commit, and the N-vs-4N
determinism oracle (identical corpus checksums at two parallelism
levels). The write job sums each bucket's manifest row itself; the
oracle for those rows is the grouped Spark aggregation over the written
files that the pipeline once ran after every write (``_readback``)."""

import glob
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
    assert sorted(tuple(r) for r in rows) == _readback(spark, out)
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
    # the Spark-written file of the earlier run and this run's file
    # together hold what the written files hold
    assert sorted(tuple(r) for r in man2.collect()) == _readback(spark, out)
    cks2, n2 = P.corpus_checksum(spark, out)
    assert (cks2, n2) == (cks_full, n_full)

    # re-running a finished job is a no-op with the same checksum
    man3 = P.run_extraction(spark, pages, out, n_buckets=8)
    cks3, n3 = P.corpus_checksum(spark, out)
    assert (cks3, n3) == (cks_full, n_full)

    ex = spark.read.parquet(os.path.join(out, "extracted"))
    assert ex.count() == n_total
    assert ex.filter(F.col("parse_errors") != 0).count() == 0


# the manifest schema as Spark writes it: every column nullable
def _manifest_schema():
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)
    return StructType([StructField("bucket", IntegerType()),
                       StructField("row_count", LongType()),
                       StructField("byte_count", LongType()),
                       StructField("checksum", LongType()),
                       StructField("status", StringType())])


@pytest.fixture(scope="module")
def finished(spark, tmp_path_factory):
    """One uninterrupted 8-bucket run: (pages, its output dir, its
    manifest rows, its corpus checksum). Tests work on copies."""
    from swiftsoup_spark.spark.pages import pages_df
    from swiftsoup_spark.spark import pipeline as P

    pages = pages_df(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("finished") / "out")
    rows = P.run_extraction(spark, pages, out, n_buckets=8).collect()
    assert {r.bucket for r in rows} == set(range(8))
    return pages, out, sorted(rows), P.corpus_checksum(spark, out)


def _copy(finished, tmp_path):
    out = str(tmp_path / "out")
    shutil.copytree(finished[1], out)
    return out


def _bucket_files(out):
    """bucket -> its data file names (a rewrite gives new names)."""
    ext = os.path.join(out, "extracted")
    return {int(d.split("=")[1]): sorted(os.listdir(os.path.join(ext, d)))
            for d in os.listdir(ext) if d.startswith("bucket=")}


def _int32(values):
    import pyarrow as pa
    return pa.array(values, pa.int32())


def _manifest_files(out):
    from swiftsoup_spark.spark import pipeline as P
    return set(glob.glob(os.path.join(out, P.MANIFEST, "*.parquet")))


def _manifest_rows(path):
    """Sorted row tuples of a manifest directory or file."""
    import pyarrow.parquet as pq
    from swiftsoup_spark.spark import pipeline as P
    t = pq.read_table(path, schema=P.MANIFEST_SCHEMA)
    return sorted(tuple(r.values()) for r in t.to_pylist())


def _readback(spark, out, buckets=None):
    """The oracle: manifest rows re-derived from the written files by a
    Spark aggregation, for ``buckets`` (default all), as sorted tuples."""
    from pyspark.sql import functions as F
    written = spark.read.parquet(os.path.join(out, "extracted"))
    if buckets is not None:
        written = written.filter(F.col("bucket").isin(list(buckets)))
    man = (written.groupBy("bucket")
           .agg(F.count("*").alias("row_count"),
                F.sum(F.length("text")).alias("byte_count"),
                F.expr('bit_xor(xxhash64(concat_ws("\\u0000", url, text)))')
                 .alias("checksum"))
           .withColumn("status", F.lit("done")))
    return sorted(tuple(r) for r in man.collect())


def _drop_buckets(out, buckets):
    """Rewrite the manifest as one file without ``buckets``' rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from swiftsoup_spark.spark import pipeline as P
    mdir = os.path.join(out, P.MANIFEST)
    t = pq.read_table(mdir)
    keep = t.filter(pc.invert(pc.is_in(t["bucket"],
                                       value_set=_int32(list(buckets)))))
    shutil.rmtree(mdir)
    os.makedirs(mdir)
    pq.write_table(keep, os.path.join(mdir, "part-00000.parquet"))


def _jobs_of(spark, group, fn):
    """The ids of the Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_noop_rerun_starts_no_spark_job(spark, finished, tmp_path):
    from swiftsoup_spark.spark import pipeline as P

    pages, _, rows, _ = finished
    out = _copy(finished, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("noop-rerun", "re-run over a finished output")
    try:
        man = P.run_extraction(spark, pages, out, n_buckets=8)
        jobs = list(sc.statusTracker().getJobIdsForGroup("noop-rerun"))
        spark.range(3).count()      # the group does see this thread's jobs
        control = sc.statusTracker().getJobIdsForGroup("noop-rerun")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert len(control) >= 1
    assert man.schema == _manifest_schema()
    assert sorted(man.collect()) == rows


def test_crash_in_commit_redoes_only_that_runs_buckets(
        spark, finished, tmp_path, monkeypatch):
    """The commit raises after the data write: the next run redoes
    exactly the buckets of the crashed run, and the corpus checksum is
    that of an uninterrupted run."""
    import pyarrow.parquet as pq
    from swiftsoup_spark.spark import pipeline as P

    pages, _, _, cks_full = finished
    out = _copy(finished, tmp_path)
    _drop_buckets(out, [1, 3, 5])
    kept = {0, 2, 4, 6, 7}

    def crash(out_dir, rows):
        raise RuntimeError("killed in the manifest commit")

    monkeypatch.setattr(P, "_commit_manifest", crash)
    with pytest.raises(RuntimeError, match="killed in the manifest commit"):
        P.run_extraction(spark, pages, out, n_buckets=8)
    monkeypatch.undo()
    assert P.done_buckets(spark, out) == kept   # earlier entries intact

    before_data, before_man = _bucket_files(out), _manifest_files(out)
    P.run_extraction(spark, pages, out, n_buckets=8)
    after = _bucket_files(out)
    assert {b for b in after if after[b] != before_data[b]} == {1, 3, 5}
    (new,) = _manifest_files(out) - before_man
    assert sorted(pq.read_table(new)["bucket"].to_pylist()) == [1, 3, 5]
    assert _manifest_rows(new) == _readback(spark, out, [1, 3, 5])
    assert _manifest_rows(os.path.join(out, P.MANIFEST)) == _readback(spark, out)
    assert P.corpus_checksum(spark, out) == cks_full


def test_half_written_temp_file_is_invisible(spark, finished, tmp_path):
    """Temp files of a commit that never reached its rename — one cut
    short, one complete with a row no reader may see — are skipped by
    ``done_buckets``, Spark and a DuckDB ``*.parquet`` glob alike."""
    import duckdb
    import pyarrow.parquet as pq
    from swiftsoup_spark.spark import pipeline as P

    out = _copy(finished, tmp_path)
    mdir = os.path.join(out, P.MANIFEST)
    (done_file,) = _manifest_files(out)
    ghost = pq.read_table(done_file).slice(0, 1).set_column(
        0, "bucket", _int32([99]))
    pq.write_table(ghost, os.path.join(mdir, ".part-ghost.parquet.tmp"))
    with open(done_file, "rb") as f:
        head = f.read()
    with open(os.path.join(mdir, ".part-cut.parquet.tmp"), "wb") as f:
        f.write(head[:len(head) // 2])

    assert P.done_buckets(spark, out) == set(range(8))
    assert sorted(r.bucket for r in spark.read.parquet(mdir).collect()) \
        == list(range(8))
    assert sorted(b for (b,) in duckdb.connect().execute(
        f"SELECT bucket FROM read_parquet('{mdir}/*.parquet')").fetchall()) \
        == list(range(8))


def test_corrupt_manifest_file_raises(spark, finished, tmp_path):
    """An unreadable manifest file is an error, not 'nothing is done':
    the run raises before it recomputes any bucket."""
    import pyarrow as pa
    from swiftsoup_spark.spark import pipeline as P

    pages = finished[0]
    out = _copy(finished, tmp_path)
    with open(os.path.join(out, P.MANIFEST, "part-x.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    before = _bucket_files(out)
    with pytest.raises(pa.ArrowInvalid):
        P.run_extraction(spark, pages, out, n_buckets=8)
    assert _bucket_files(out) == before


def test_manifest_schema_mixed_writers(spark, finished, tmp_path):
    """A manifest directory holding a Spark-written file (as
    test_run_and_resume writes one) and a driver-written commit reads in
    Spark as one table with the Spark manifest schema, file by file too."""
    from swiftsoup_spark.spark import pipeline as P

    rows = finished[2]
    out = _copy(finished, tmp_path)
    mdir = os.path.join(out, P.MANIFEST)
    spark.createDataFrame([r for r in rows if r.bucket not in (1, 3, 5)],
                          _manifest_schema()) \
        .write.mode("overwrite").parquet(mdir)
    P._commit_manifest(out, [r for r in rows if r.bucket in (1, 3, 5)])

    files = _manifest_files(out)
    assert len(files) >= 2
    assert spark.read.parquet(mdir).schema == _manifest_schema()
    for f in files:
        assert spark.read.parquet(f).schema == _manifest_schema(), f
    assert sorted(spark.read.parquet(mdir).collect()) == rows
    assert P.done_buckets(spark, out) == set(range(8))


def test_corpus_checksum_matches_spark_bit_xor(spark, finished, tmp_path):
    """The driver-side checksum is Spark's ``bit_xor(checksum)`` and
    ``sum(row_count)`` over the same manifest, negative int64 values and
    their extremes included; an empty manifest reads (0, 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark import pipeline as P

    def spark_side(out):
        row = spark.read.parquet(os.path.join(out, P.MANIFEST)).agg(
            F.expr("bit_xor(checksum)"), F.sum("row_count")).collect()[0]
        return (row[0], row[1])

    assert P.corpus_checksum(spark, finished[1]) == spark_side(finished[1])

    out = str(tmp_path / "out")
    mdir = os.path.join(out, P.MANIFEST)
    os.makedirs(mdir)
    cks = [-5, 3, -(2 ** 63), 2 ** 63 - 1]
    pq.write_table(pa.Table.from_pydict(
        {"bucket": list(range(4)), "row_count": [1, 2, 3, 4],
         "byte_count": [0] * 4, "checksum": cks, "status": ["done"] * 4},
        schema=P.MANIFEST_SCHEMA), os.path.join(mdir, "part-0.parquet"))
    assert P.corpus_checksum(spark, out) == spark_side(out)

    empty = str(tmp_path / "empty")
    os.makedirs(os.path.join(empty, P.MANIFEST))
    pq.write_table(P.MANIFEST_SCHEMA.empty_table(),
                   os.path.join(empty, P.MANIFEST, "part-0.parquet"))
    assert P.corpus_checksum(spark, empty) == (0, 0)


def _hash_cases():
    """(url, text) pairs: nulls, empty text, non-ASCII, NUL, and joined
    keys of every length from 0 to 40 bytes (XXH64's < 32-byte and
    32-byte-stripe paths, and each 8/4/1-byte tail) plus long ones."""
    rows = [(None, "text"), ("u", None), (None, None), ("", ""),
            ("http://x/", ""), ("", "t"), ("h\u00e9", "\u4e2d\u6587 \U0001f600"),
            ("a\x00b", "\x00"), ("\x00", "\x00\x00"),
            ("https://example.com/" + "p" * 300, "\u00e9" * 5000)]
    for n in range(41):
        rows.append(("u" * (n // 2), "t" * (n - n // 2 - 1) if n else None))
    return rows


@pytest.mark.parametrize("native", [True, False], ids=["c", "python"])
@pytest.mark.parametrize("large", [False, True], ids=["string", "large_string"])
def test_row_checksums_match_spark_xxhash64(spark, monkeypatch, native, large):
    """The write job's per-row hash is Spark's ``xxhash64(concat_ws(
    "\\0", url, text))``, in C and in the pure-Python fallback, over
    whole and sliced Arrow arrays."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from swiftsoup_spark.kernel import fastpath
    from swiftsoup_spark.spark import pipeline as P

    rows = _hash_cases()
    want = [r[0] for r in spark.createDataFrame(
        rows, "url string, text string").select(F.expr(
            'xxhash64(concat_ws("\\u0000", url, text))')).collect()]
    typ = pa.large_string() if large else pa.string()
    url = pa.array([r[0] for r in rows], typ)
    text = pa.array([r[1] for r in rows], typ)
    if native:
        assert fastpath.batch_xxhash64_concat_ws(url, text) is not None
    else:
        monkeypatch.setattr(fastpath, "batch_xxhash64_concat_ws",
                            lambda a, b: None)
    assert P.row_checksums(url, text).tolist() == want
    # sliced arrays: non-zero offsets into the offsets and validity buffers
    for lo, hi in [(1, 5), (3, len(rows)), (9, 30)]:
        got = P.row_checksums(url.slice(lo, hi - lo), text.slice(lo, hi - lo))
        assert got.tolist() == want[lo:hi], (lo, hi)
    assert P.row_checksums(url.slice(0, 0), text.slice(0, 0)).tolist() == []


def test_fresh_run_and_resume_start_one_spark_job(spark, finished, tmp_path):
    """The write is a run's only Spark job: no second job re-reads the
    written files, yet the manifest holds what the readback gives. The
    pages are read from parquet, so the input plan needs no job of its
    own (``pages_df``'s repartition is a shuffle, a job of its own under
    adaptive execution)."""
    from swiftsoup_spark.spark import pipeline as P

    _, _, rows, cks_full = finished
    src = str(tmp_path / "pages")
    finished[0].write.parquet(src)
    pages = spark.read.parquet(src)
    out = str(tmp_path / "fresh")
    jobs = _jobs_of(spark, "fresh-run",
                    lambda: P.run_extraction(spark, pages, out, n_buckets=8))
    assert len(jobs) == 1, jobs
    assert _manifest_rows(os.path.join(out, P.MANIFEST)) == _readback(spark, out)
    assert _manifest_rows(os.path.join(out, P.MANIFEST)) == \
        sorted(tuple(r) for r in rows)

    _drop_buckets(out, [2, 4, 6])
    before = _manifest_files(out)
    jobs = _jobs_of(spark, "resume-run",
                    lambda: P.run_extraction(spark, pages, out, n_buckets=8))
    assert len(jobs) == 1, jobs
    (new,) = _manifest_files(out) - before
    assert _manifest_rows(new) == _readback(spark, out, [2, 4, 6])
    assert P.corpus_checksum(spark, out) == cks_full


def test_salt_gives_same_rows_manifest_and_checksum(spark, finished, tmp_path):
    """``salt=3`` shuffles each bucket into three sub-tasks before the
    kernel; the output, the manifest and the checksum are those of
    ``salt=1``."""
    from swiftsoup_spark.spark import pipeline as P

    pages, base, rows, cks_full = finished
    out = str(tmp_path / "salted")
    man = P.run_extraction(spark, pages, out, n_buckets=8, salt=3)
    assert sorted(man.collect()) == rows
    assert _manifest_rows(os.path.join(out, P.MANIFEST)) == _readback(spark, out)
    assert P.corpus_checksum(spark, out) == cks_full

    def extracted(d):
        cols = ["bucket", "url", "text", "n_nodes", "parse_errors"]
        return sorted(spark.read.parquet(os.path.join(d, "extracted"))
                      .select(*cols).collect())
    assert extracted(out) == extracted(base)


def test_empty_buckets_are_done(spark, finished, tmp_path):
    """With more buckets than a 500-page input fills, every bucket gets a
    manifest row: a bucket no url hashes into gets (b, 0, 0, 0, 'done')
    and has no data files, and a re-run starts no Spark job. The readback
    oracle has no row for an empty bucket, so it is compared with the
    non-empty rows."""
    from swiftsoup_spark.spark import pipeline as P

    pages, _, _, cks_full = finished
    out = str(tmp_path / "sparse")
    P.run_extraction(spark, pages, out, n_buckets=1024)
    rows = _manifest_rows(os.path.join(out, P.MANIFEST))
    assert [r[0] for r in rows] == list(range(1024))
    full = [r for r in rows if r[1]]
    zero = [r for r in rows if not r[1]]
    assert full == _readback(spark, out)
    assert zero and all(r[1:] == (0, 0, 0, "done") for r in zero)
    assert not {r[0] for r in zero} & set(_bucket_files(out))
    assert P.corpus_checksum(spark, out) == cks_full
    jobs = _jobs_of(spark, "sparse-rerun", lambda: P.run_extraction(
        spark, pages, out, n_buckets=1024))
    assert jobs == []


@pytest.mark.parametrize("salt", [1, 3])
def test_no_exchange_above_the_kernel(spark, finished, tmp_path, salt):
    """``BucketStats`` counts each row once only while the kernel stage
    runs in the write's result stage: the planned write has no Exchange
    above the ``MapInArrow``; with ``salt=3`` its bucket shuffle is below
    it (``pages_df``'s own repartition is below it either way)."""
    from swiftsoup_spark.spark import pipeline as P

    plans = []

    class Spy(P.ParquetFormat):
        def overwrite_partitions(self, df, target, partition_col):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            super().overwrite_partitions(df, target, partition_col)

    P.run_extraction(spark, finished[0], str(tmp_path / "out"), n_buckets=8,
                     salt=salt, table_format=Spy())
    (plan,) = plans
    lines = plan.splitlines()
    kernel = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(kernel) == 1, plan
    assert all(i > kernel[0] for i in exchanges), plan
    assert any("hashpartitioning(bucket" in lines[i] for i in exchanges) \
        == (salt > 1), plan


def test_run_leaves_session_overwrite_mode_alone(spark, finished, tmp_path):
    """The bucket write asks for dynamic partition overwrite per write:
    the session's ``partitionOverwriteMode`` stays as the caller set it,
    and a resume under a static session mode still keeps the buckets it
    does not redo."""
    from swiftsoup_spark.spark import pipeline as P

    key = "spark.sql.sources.partitionOverwriteMode"
    pages, _, _, cks_full = finished
    out = _copy(finished, tmp_path)
    _drop_buckets(out, [0, 7])
    before = _bucket_files(out)
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        P.run_extraction(spark, pages, out, n_buckets=8)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, old)
    after = _bucket_files(out)
    assert sorted(after) == list(range(8))
    assert {b for b in after if after[b] != before[b]} == {0, 7}
    assert P.corpus_checksum(spark, out) == cks_full


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


def test_task_retry_counts_committed_rows_once(tmp_path):
    """A task of the write job fails after the kernel has counted some of
    its batches, and is retried (``local[2,2]``: two attempts per task):
    the failed attempt's accumulator partials are dropped, so the
    manifest equals the readback oracle and the corpus checksum that of
    an undisturbed run. Runs in a subprocess (one JVM per master)."""
    import json
    import subprocess

    script = r"""
import json, os, sys, time
sys.path.insert(0, %r)
from pyspark import TaskContext
from pyspark.sql import functions as F
from swiftsoup_spark.spark.session import get_spark
from swiftsoup_spark.spark.pages import pages_df
from swiftsoup_spark.spark import pipeline as P
work = sys.argv[1]
# small Arrow batches and a small worker buffer, so the batches the
# flaky stage passes on reach the kernel before the failure
spark = get_spark(master="local[2,2]", app="retry", extra_conf={
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8",
    "spark.buffer.size": "1024"})
src = os.path.join(work, "pages")
pages_df(spark, %r).write.parquet(src)
pages = spark.read.parquet(src)
marker = os.path.join(work, "failed_once")

def flaky(it):
    ctx = TaskContext.get()
    fail = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
    for i, batch in enumerate(it):
        if fail and i == 20:
            open(marker, "w").close()
            time.sleep(1)   # the kernel downstream counts what it was passed
            raise RuntimeError("injected task failure")
        yield batch

clean, retried = os.path.join(work, "clean"), os.path.join(work, "retried")
P.run_extraction(spark, pages, clean, n_buckets=8)
P.run_extraction(spark, pages.mapInArrow(flaky, pages.schema), retried,
                 n_buckets=8)
written = spark.read.parquet(os.path.join(retried, "extracted"))
readback = written.groupBy("bucket").agg(
    F.count("*"), F.sum(F.length("text")),
    F.expr('bit_xor(xxhash64(concat_ws("\\u0000", url, text)))'),
    F.lit("done")).collect()
print(json.dumps({
    "failed": os.path.exists(marker),
    "manifest": sorted(list(r) for r in
                       spark.read.parquet(os.path.join(retried, P.MANIFEST))
                       .collect()),
    "readback": sorted(list(r) for r in readback),
    "clean": P.corpus_checksum(spark, clean),
    "retried": P.corpus_checksum(spark, retried)}))
""" % (ROOT, SF_DIR)
    r = subprocess.run([sys.executable, "-c", script, str(tmp_path)],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["failed"]
    assert len(got["manifest"]) == 8
    assert got["manifest"] == got["readback"]
    assert got["retried"] == got["clean"]


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
