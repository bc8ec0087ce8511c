"""Resumable extraction pipeline: url-hash bucketing, per-partition
lineage/metrics manifest, idempotent partition overwrite.

North-rule requirements implemented here:
  * explicit url-hash bucketing: ``bucket = pmod(xxhash64(url), n)`` — at
    10^12 docs this is the unit of retry/commit (maps 1:1 onto an Iceberg
    partition; the parquet fallback uses dynamic partition overwrite,
    which has the same replace-not-append semantics).
  * per-partition lineage: (bucket, row_count, byte_count, checksum,
    status) — checksum is an order-independent sum of xxhash64(url‖text),
    so N-core and 4N-core runs of the same input produce identical
    manifests (the determinism/scaling oracle).
  * idempotent resume: buckets already 'done' in the manifest are skipped;
    re-running a finished job is a no-op.
Skew handling: bucket keys are hashes (uniform by construction); doc-size
skew is addressed by Arrow batch sizing (maxRecordsPerBatch) and, for
pathological hosts, an optional salt column.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from swiftsoup_spark.spark.extract import extract_pages


MANIFEST = "_manifest"


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


def read_manifest(spark, out_dir: str):
    p = _manifest_path(out_dir)
    try:
        return spark.read.parquet(p)
    except Exception:
        return None


def done_buckets(spark, out_dir: str) -> set[int]:
    m = read_manifest(spark, out_dir)
    if m is None:
        return set()
    return {r.bucket for r in m.filter(F.col("status") == "done").collect()}


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
    bucketed = pages_df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    todo = bucketed.filter(~F.col("bucket").isin(list(done))) if done else bucketed
    if salt > 1:
        todo = todo.repartition(n_buckets * salt, "bucket",
                                F.pmod(F.xxhash64("url", F.lit(1)), F.lit(salt)))
    # metrics=True: the lineage manifest wants exact (n_nodes,
    # parse_errors); the C arena tier counts them, so each document
    # starts at that tier (the Python kernel only where it bails)
    extracted = extract_pages(todo, css_scope, keep_cols=("bucket",),
                              metrics=True)
    out = extracted.select("bucket", "url", "text", "n_nodes", "parse_errors")
    target = fmt.extracted_target(out_dir)
    fmt.overwrite_partitions(out, target, "bucket")
    # lineage manifest: one row per bucket, order-independent checksum —
    # derived by READING BACK the files just written (not from ``out``'s
    # lineage, which would re-run the whole parse a second time and
    # describe a recomputation rather than what landed on disk)
    written = fmt.read(spark, target)
    if done:
        written = written.filter(~F.col("bucket").isin(list(done)))
    man = (written.groupBy("bucket")
           .agg(F.count("*").alias("row_count"),
                F.sum(F.length("text")).alias("byte_count"),
                F.expr('bit_xor(xxhash64(concat_ws("\\u0000", url, text)))')
                 .alias("checksum"))
           .withColumn("status", F.lit("done")))
    prior = read_manifest(spark, out_dir)
    if prior is not None and done:
        man = prior.filter(F.col("bucket").isin(list(done))).unionByName(man)
    tmp = _manifest_path(out_dir) + ".tmp"
    man.write.mode("overwrite").parquet(tmp)
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(_manifest_path(out_dir))
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(_manifest_path(out_dir))


def corpus_checksum(spark, out_dir: str) -> int:
    """Order-independent whole-corpus checksum (the N-vs-4N oracle)."""
    m = spark.read.parquet(_manifest_path(out_dir))
    row = m.agg(F.expr("bit_xor(checksum)").alias("c"),
                F.sum("row_count").alias("n")).collect()[0]
    return (row.c or 0, row.n or 0)
