"""Resumable extraction pipeline: url-hash bucketing, per-bucket
lineage manifest, idempotent partition overwrite.

North-rule requirements implemented here:
  * explicit url-hash bucketing: ``bucket = pmod(xxhash64(url), n)`` — at
    10^12 docs this is the unit of retry/commit (maps 1:1 onto an Iceberg
    partition; the parquet fallback uses dynamic partition overwrite,
    which has the same replace-not-append semantics).
  * per-bucket lineage: (bucket, row_count, byte_count, checksum,
    status) — checksum is an order-independent sum of xxhash64(url‖text),
    so N-core and 4N-core runs of the same input produce identical
    manifests (the determinism/scaling oracle).
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
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from swiftsoup_spark.spark.extract import extract_pages


MANIFEST = "_manifest"
# the column types a Spark-written manifest has (int bucket, bigint
# aggregates), so Spark reads driver- and Spark-written files as one table
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
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic")
        (df.write.mode("overwrite").partitionBy(partition_col)
           .parquet(target))

    def read(self, spark, target: str):
        return spark.read.parquet(target)

    def extracted_target(self, out_dir: str) -> str:
        return os.path.join(out_dir, "extracted")


class IcebergFormat:
    """Catalog-table commit via the DataFrameWriterV2 API: partition
    replacement is an atomic snapshot operation (``overwritePartitions``).
    ``target`` is a table identifier (``catalog.db.table``)."""

    def overwrite_partitions(self, df, target: str, partition_col: str) -> None:
        # explicit existence check — a blind try/except around
        # overwritePartitions() would misread a real write failure
        # (schema mismatch, permissions, catalog outage) as "first run"
        # and mask it behind a confusing create() error
        if df.sparkSession.catalog.tableExists(target):
            df.writeTo(target).overwritePartitions()
        else:
            df.writeTo(target).partitionedBy(F.col(partition_col)).create()

    def read(self, spark, target: str):
        return spark.read.table(target)

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
    """Add one manifest file holding ``rows``; earlier files stay as
    they are. The hidden temp name (leading '.', no '.parquet' suffix)
    keeps a half-written file out of every reader's listing."""
    p = _manifest_path(out_dir)
    os.makedirs(p, exist_ok=True)
    if not rows:
        return
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(p, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([r.asDict() for r in rows],
                                        schema=MANIFEST_SCHEMA), tmp)
    os.replace(tmp, os.path.join(p, name))


def _manifest_df(spark, out_dir: str):
    # an explicit schema: Spark would start a job to infer it
    return (spark.read.schema(from_arrow_schema(MANIFEST_SCHEMA))
            .parquet(_manifest_path(out_dir)))


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
    if done >= set(range(n_buckets)):
        return _manifest_df(spark, out_dir)
    bucketed = pages_df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    todo = bucketed.filter(~F.col("bucket").isin(list(done))) if done else bucketed
    if salt > 1:
        todo = todo.repartition(n_buckets * salt, "bucket",
                                F.pmod(F.xxhash64("url", F.lit(1)), F.lit(salt)))
    # metrics=True: the extracted table carries exact per-doc (n_nodes,
    # parse_errors) columns (the manifest does not); the C arena tier
    # counts them, so each document starts at that tier (the Python
    # kernel only where it bails)
    extracted = extract_pages(todo, css_scope, keep_cols=("bucket",),
                              metrics=True)
    out = extracted.select("bucket", "url", "text", "n_nodes", "parse_errors")
    target = fmt.extracted_target(out_dir)
    fmt.overwrite_partitions(out, target, "bucket")
    # lineage manifest: one row per bucket this run wrote, order-independent
    # checksum — derived by READING BACK the files just written (not from
    # ``out``'s lineage, which would re-run the whole parse a second time
    # and describe a recomputation rather than what landed on disk). The
    # rows (at most n_buckets) are committed from the driver as this run's
    # own manifest file: until that rename lands, these buckets are not
    # done, so a crash here redoes exactly them on the next run.
    written = fmt.read(spark, target)
    if done:
        written = written.filter(~F.col("bucket").isin(list(done)))
    man = (written.groupBy("bucket")
           .agg(F.count("*").alias("row_count"),
                F.sum(F.length("text")).alias("byte_count"),
                F.expr('bit_xor(xxhash64(concat_ws("\\u0000", url, text)))')
                 .alias("checksum"))
           .withColumn("status", F.lit("done")))
    _commit_manifest(out_dir, man.collect())
    return _manifest_df(spark, out_dir)


def corpus_checksum(spark, out_dir: str) -> tuple[int, int]:
    """Order-independent whole-corpus (checksum, row count): the N-vs-4N
    oracle. The manifest (at most ``n_buckets`` rows) is read on the
    driver; XOR of int64 values stays in int64, as Spark's ``bit_xor``."""
    t = pq.read_table(_manifest_path(out_dir),
                      columns=["row_count", "checksum"], schema=MANIFEST_SCHEMA)
    return (reduce(operator.xor, t["checksum"].to_pylist(), 0),
            sum(t["row_count"].to_pylist()))
