"""Resumable extraction pipeline: url-hash bucketing, per-bucket
lineage manifest, idempotent partition overwrite.

North-rule requirements implemented here:
  * explicit url-hash bucketing: ``bucket = pmod(xxhash64(url), n)`` — at
    10^12 docs this is the unit of retry/commit (maps 1:1 onto an Iceberg
    partition; the parquet fallback uses dynamic partition overwrite,
    which has the same replace-not-append semantics).
  * per-bucket lineage: (bucket, row_count, byte_count, checksum,
    status) — checksum is ``bit_xor`` over the rows'
    ``xxhash64(concat_ws("\\0", url, text))``, order-independent, so
    N-core and 4N-core runs of the same input produce identical
    manifests (the determinism/scaling oracle). The write job computes
    them: its one ``mapInArrow`` stage hashes each batch it extracts and
    sends per-bucket partials to the driver through an accumulator, so
    no second job re-reads the written files.
  * append-only manifest: ``_manifest/`` is a flat directory of parquet
    files, one per run, each holding the rows of the buckets that run
    wrote. A run writes its file under a hidden temp name and renames it
    into place (``os.replace``), so readers see either the whole file or
    none of it, and no earlier run's file is ever rewritten. The
    directory is read on the driver with pyarrow; Spark reads it as one
    table too (same column types as a Spark-written manifest).
  * idempotent resume: buckets already 'done' in the manifest are skipped;
    re-running a finished job returns at once and starts no Spark job.
    A crash after the data write, before the rename, redoes only that
    run's buckets on the next run; earlier runs' entries are never
    touched, so a crash anywhere in the commit loses none of them.
Skew handling: bucket keys are hashes (uniform by construction); doc-size
skew is addressed by Arrow batch sizing (maxRecordsPerBatch) and, for
pathological hosts, an optional salt column.
"""

from __future__ import annotations

import operator
import os
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from swiftsoup_spark.kernel import fastpath
from swiftsoup_spark.spark import extract
from swiftsoup_spark.spark.worker import prelude


MANIFEST = "_manifest"
# the column types a Spark-written manifest has (int bucket, bigint
# aggregates), so Spark reads driver- and Spark-written files as one table.
# byte_count is Spark's sum(length(text)): a count of code points, not of
# UTF-8 bytes (the name stays, so earlier manifests still read)
MANIFEST_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("row_count", pa.int64()),
    ("byte_count", pa.int64()), ("checksum", pa.int64()),
    ("status", pa.string())])


# --- table-format seam ------------------------------------------------------
# The north rule names Iceberg; this sandbox ships no Iceberg runtime jar,
# so the commit path is a SEAM with two implementations sharing the same
# replace-not-append contract:
#   * ParquetFormat  — dynamic partition overwrite (used everywhere here;
#     identical idempotence semantics at the bucket granularity)
#   * IcebergFormat  — DataFrameWriterV2 ``writeTo(tbl).overwritePartitions()``
#     (atomic snapshot commit); auto-selected when the target is a catalog
#     table name rather than a path. Unit-tested against the writer-V2 call
#     surface; runs unmodified on a session with the Iceberg extension.

class ParquetFormat:
    """Path-based parquet with dynamic partition overwrite."""

    def overwrite_partitions(self, df, target: str, partition_col: str) -> None:
        # a per-write option: the session's partitionOverwriteMode, which
        # the caller's own static overwrites rely on, stays as it is
        (df.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(partition_col).parquet(target))

    def extracted_target(self, out_dir: str) -> str:
        return os.path.join(out_dir, "extracted")


class IcebergFormat:
    """Catalog-table commit via the DataFrameWriterV2 API: partition
    replacement is an atomic snapshot operation (``overwritePartitions``).
    ``target`` is a table identifier (``catalog.db.table``).

    Risk, unverified (no Iceberg runtime here): the manifest stats are
    exact only while the kernel stage runs in the write's result stage,
    whose accumulator updates Spark applies once per partition. A table
    that shuffles before the write (a ``hash`` or ``range``
    write-distribution mode, which Iceberg can apply to partitioned
    tables) would move the kernel into a map stage, where a retried or
    speculative stage can count its rows twice.
    ``tests/test_pipeline.py`` pins the parquet plan (no Exchange above
    the kernel); a session with Iceberg needs the same check."""

    def overwrite_partitions(self, df, target: str, partition_col: str) -> None:
        # explicit existence check — a blind try/except around
        # overwritePartitions() would misread a real write failure
        # (schema mismatch, permissions, catalog outage) as "first run"
        # and mask it behind a confusing create() error
        if df.sparkSession.catalog.tableExists(target):
            df.writeTo(target).overwritePartitions()
        else:
            df.writeTo(target).partitionedBy(F.col(partition_col)).create()

    def extracted_target(self, out_dir: str) -> str:
        return out_dir + "_extracted" if "." not in out_dir else out_dir


def table_format_for(target: str):
    """Catalog table identifiers (dots, no path separators) -> Iceberg;
    paths -> parquet."""
    if "/" not in target and "." in target:
        return IcebergFormat()
    return ParquetFormat()


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def done_buckets(spark, out_dir: str) -> set[int]:
    """Buckets with a 'done' manifest row. Read on the driver (no Spark
    job); a missing manifest means none, an unreadable file raises."""
    p = _manifest_path(out_dir)
    if not os.path.isdir(p):
        return set()
    # pyarrow skips names starting with '.' or '_': commit temp files,
    # Spark's _SUCCESS and .crc files
    t = pq.read_table(p, columns=["bucket", "status"], schema=MANIFEST_SCHEMA)
    return {b for b, s in zip(t["bucket"].to_pylist(), t["status"].to_pylist())
            if s == "done"}


def _commit_manifest(out_dir: str, rows) -> None:
    """Add one manifest file holding ``rows`` (tuples in
    ``MANIFEST_SCHEMA`` order); earlier files stay as they are. The
    hidden temp name (leading '.', no '.parquet' suffix) keeps a
    half-written file out of every reader's listing."""
    p = _manifest_path(out_dir)
    os.makedirs(p, exist_ok=True)
    if not rows:
        return
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(p, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(MANIFEST_SCHEMA.names, r)) for r in rows],
        schema=MANIFEST_SCHEMA), tmp)
    os.replace(tmp, os.path.join(p, name))


def _manifest_df(spark, out_dir: str):
    # an explicit schema: Spark would start a job to infer it
    return (spark.read.schema(from_arrow_schema(MANIFEST_SCHEMA))
            .parquet(_manifest_path(out_dir)))


# --- per-bucket lineage, computed in the write job ----------------------------
_XXH_SEED = 42      # the seed of Spark's xxhash64
_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, v: int) -> int:
    return _rotl((acc + v * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes) -> int:
    """XXH64 of ``data`` as a signed int64, as Spark's ``xxhash64`` of a
    string with these UTF-8 bytes. The pure-Python stand-in for
    ``fastpath.batch_xxhash64_concat_ws``."""
    seed, n, p = _XXH_SEED, len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while p + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[p:p + 8], "little"))
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        h ^= int.from_bytes(data[p:p + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        p += 4
    for byte in data[p:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def row_checksums(url, text):
    """Per row of two ``pyarrow`` string arrays, Spark's
    ``xxhash64(concat_ws("\\0", url, text))`` as a numpy int64 array: in C
    over the Arrow buffers, else with :func:`xxh64`."""
    import numpy as np

    h = fastpath.batch_xxhash64_concat_ws(url, text)
    if h is not None:
        return h
    return np.array(
        [xxh64("\0".join(v for v in pair if v is not None).encode())
         for pair in zip(url.to_pylist(), text.to_pylist())], np.int64)


def _bucket_stats(bucket, url, text) -> dict:
    """{bucket: (row_count, byte_count, checksum)} over one batch: what
    Spark's ``count(*)``, ``sum(length(text))`` and ``bit_xor(xxhash64(
    concat_ws("\\0", url, text)))`` grouped by bucket give."""
    import numpy as np
    import pyarrow.compute as pc

    b = bucket.to_numpy(zero_copy_only=False)
    h = row_checksums(url, text)
    chars = pc.utf8_length(text).to_numpy(zero_copy_only=False).astype(np.int64)
    out = {}
    for k in np.unique(b):
        m = b == k
        out[int(k)] = (int(m.sum()), int(chars[m].sum()),
                       int(np.bitwise_xor.reduce(h[m])))
    return out


class BucketStats(AccumulatorParam):
    """Accumulator of {bucket: (row_count, byte_count, checksum)}: counts
    add, checksums XOR. Spark merges a result task's update once per
    partition and drops those of failed attempts, so after the write
    job the value describes exactly the rows it committed."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for k, (n, chars, cks) in more.items():
            n0, chars0, cks0 = acc.get(k, (0, 0, 0))
            acc[k] = (n0 + n, chars0 + chars, cks0 ^ cks)
        return acc


def _extract_stage(todo, css_scope: str | None, stats):
    """todo(url, bucket, html) -> (bucket, url, text, n_nodes,
    parse_errors): run_extraction's one ``mapInArrow`` stage. Each batch
    goes through ``extract._extract_column`` (with metrics, so the C
    arena tier counts exact per-doc n_nodes and parse_errors for the
    extracted table) and adds its :func:`_bucket_stats` to the
    ``stats`` accumulator."""
    src = todo.select("url", "bucket", "html")
    fields = {f.name: f for f in src.schema.fields}
    out_schema = T.StructType([
        fields["bucket"], fields["url"],
        T.StructField("text", T.StringType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("parse_errors", T.IntegerType())])
    names = out_schema.fieldNames()

    def batches(it):
        prelude()
        import pyarrow as pa
        for batch in it:
            bucket, url = batch.column("bucket"), batch.column("url")
            text, _title, n_nodes, errors = extract._extract_column(
                batch.column("html"), css_scope, True)
            stats.add(_bucket_stats(bucket, url, text))
            yield pa.RecordBatch.from_arrays(
                [bucket, url, text, n_nodes, errors], names)

    return src.mapInArrow(batches, out_schema)


def run_extraction(spark, pages_df, out_dir: str, n_buckets: int = 32,
                   css_scope: str | None = None, salt: int = 1,
                   table_format=None):
    """Extract text for all not-yet-done buckets; returns the manifest DF.

    ``salt`` > 1 splits each bucket into sub-tasks for skewed inputs
    (doc-size skew), without changing the bucket commit unit.
    ``table_format``: a table-format seam instance (ParquetFormat /
    IcebergFormat); default resolves from the target shape.
    """
    fmt = table_format or table_format_for(out_dir)
    done = done_buckets(spark, out_dir)
    todo_buckets = set(range(n_buckets)) - done
    if not todo_buckets:
        return _manifest_df(spark, out_dir)
    bucketed = pages_df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    todo = bucketed.filter(~F.col("bucket").isin(list(done))) if done else bucketed
    if salt > 1:
        todo = todo.repartition(n_buckets * salt, "bucket",
                                F.pmod(F.xxhash64("url", F.lit(1)), F.lit(salt)))
    # the kernel stage sums the lineage of the buckets it writes; it runs
    # after the salt shuffle, in the write's result stage, whose
    # accumulator updates Spark applies once per partition
    stats = spark.sparkContext.accumulator({}, BucketStats())
    fmt.overwrite_partitions(_extract_stage(todo, css_scope, stats),
                             fmt.extracted_target(out_dir), "bucket")
    # lineage manifest: one row per bucket of this run, committed from
    # the driver as this run's own manifest file: until that rename
    # lands, these buckets are not done, so a crash here redoes exactly
    # them on the next run. A bucket no url hashes into wrote no rows; its
    # (0, 0, 0) row marks it done all the same, so no re-run scans for it
    seen = stats.value
    _commit_manifest(out_dir, [(b, *seen.get(b, (0, 0, 0)), "done")
                               for b in sorted(todo_buckets)])
    return _manifest_df(spark, out_dir)


def corpus_checksum(spark, out_dir: str) -> tuple[int, int]:
    """Order-independent whole-corpus (checksum, row count): the N-vs-4N
    oracle. The manifest (at most ``n_buckets`` rows) is read on the
    driver; XOR of int64 values stays in int64, as Spark's ``bit_xor``."""
    t = pq.read_table(_manifest_path(out_dir),
                      columns=["row_count", "checksum"], schema=MANIFEST_SCHEMA)
    return (reduce(operator.xor, t["checksum"].to_pylist(), 0),
            sum(t["row_count"].to_pylist()))
