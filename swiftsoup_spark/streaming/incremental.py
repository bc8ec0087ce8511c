"""Incremental (streaming) extraction.

The reference is batch-only (SURVEY.md §2.9) — its whole-buffer parse has
no streaming constructs. At corpus scale, however, crawls arrive
incrementally; this module drops the SAME batch kernel into Structured
Streaming: ``readStream`` over a page directory → the Arrow-batched
extraction UDF → ``foreachBatch`` writing through the resumable pipeline,
with per-epoch dynamic partition overwrite making each micro-batch write
idempotent: a replayed epoch_id REPLACES its own partition instead of
appending, so checkpoint-replay after a mid-write failure cannot
duplicate rows (exactly-once per micro-batch)."""

from __future__ import annotations

import os


def stream_extract(spark, in_dir: str, out_dir: str, checkpoint_dir: str,
                   schema=None, css_scope: str | None = None,
                   available_now: bool = True):
    """Stream page parquet files from ``in_dir``; extract; append to
    ``out_dir``. Returns the StreamingQuery (awaits termination when
    available_now)."""
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.extract import extract_pages

    if schema is None:
        schema = spark.read.parquet(in_dir).schema
    src = spark.readStream.schema(schema).parquet(in_dir)

    def process_batch(df, epoch_id: int):
        # idempotent micro-batch commit: epoch-partitioned dynamic
        # overwrite — a replayed epoch replaces rather than appends; a
        # per-write option, so the session's own mode is left alone
        ex = extract_pages(df, css_scope)
        (ex.withColumn("epoch", F.lit(epoch_id))
           .write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy("epoch")
           .parquet(os.path.join(out_dir, "extracted")))

    writer = (src.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
