"""Stateful streaming operators (applyInPandasWithState).

The reference is batch-only; at corpus scale, crawls arrive as a
stream and the training-data pipeline needs CROSS-BATCH operators.
``dedup_stream`` keeps, per fingerprint-hash key group, the set of
fingerprints already emitted, and drops documents whose exact text has
been seen in ANY earlier micro-batch — the streaming counterpart of
``ops.dedup.exact_dedup``.

Scale design: state is partitioned by a bounded key space
(``pmod(xxhash64(fp), n_state_buckets)``), so state shuffles hash-
uniformly; per-group state holds only the fingerprints of that bucket
(64-bit ints, ~8 bytes/doc) and is capped (``max_fps_per_bucket``) —
past the cap the bucket degrades to pass-through rather than growing
without bound (documented trade: unbounded exactness belongs to the
batch dedup pass; the stream guard is an optimization that removes the
bulk of duplicates before they hit storage)."""

from __future__ import annotations

from swiftsoup_spark.spark.worker import prelude


def dedup_stream(df, text_col: str = "text", n_state_buckets: int = 64,
                 max_fps_per_bucket: int = 1_000_000):
    """stream df -> stream df with exact-duplicate rows (by ``text_col``
    fingerprint) dropped across micro-batches. Appends a ``fp`` column.
    """
    import pandas as pd
    from pyspark.sql import functions as F, types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = df.withColumn("fp", F.xxhash64(F.col(text_col)))
    src = src.withColumn(
        "state_bucket",
        F.pmod(F.col("fp"), F.lit(n_state_buckets)).cast("int"))

    out_schema = T.StructType(
        [f for f in src.schema.fields if f.name != "state_bucket"])
    state_schema = T.StructType(
        [T.StructField("seen", T.ArrayType(T.LongType()))])
    out_cols = [f.name for f in out_schema.fields]

    def dedup_group(key, pdf_iter, state):
        prelude()
        seen = set(state.get[0]) if state.exists else set()
        saturated = len(seen) >= max_fps_per_bucket
        for pdf in pdf_iter:
            # drop in-batch dupes first, then cross-batch dupes
            pdf = pdf.drop_duplicates(subset=["fp"])
            if not saturated:
                pdf = pdf[~pdf["fp"].isin(seen)]
                seen.update(int(v) for v in pdf["fp"])
                if len(seen) >= max_fps_per_bucket:
                    saturated = True
            yield pdf[out_cols]
        state.update((list(seen),))

    return (src.groupBy("state_bucket")
            .applyInPandasWithState(
                dedup_group, out_schema, state_schema,
                "Append", GroupStateTimeout.NoTimeout))
