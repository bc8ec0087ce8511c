"""Unicode NFC normalization over a text column.

Web text arrives in mixed normalization forms (Mac uploads are NFD,
most of the web NFC; combining sequences also survive entity decoding
and PDF extraction). Dedup keys, shingles, and tokenizers all assume
one canonical form, so a corpus pipeline normalizes to NFC before any
hashing — otherwise ``café`` (e + U+0301) and ``café`` (U+00E9) are
different documents to every downstream operator.

Spark has no built-in normalizer, so this is a kernel stage:
``mapInArrow`` batches with ``unicodedata.normalize`` per string —
CPython's normalizer is C (one call per string, no per-char Python),
and the fused stage pipelines with the scan exactly like the HTML
kernel. A fast pre-check skips already-NFC strings
(``unicodedata.is_normalized`` is O(n) with no allocation — the common
case on web text, so the scan stays near memcpy speed).

Oracle: DuckDB's native ``nfc_normalize`` (utf8proc) — both implement
Unicode canonical composition, so outputs are byte-identical.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from swiftsoup_spark.spark.worker import prelude


def nfc_normalize(df, key_col: str = "doc_id", text_col: str = "text"):
    """(key, text_nfc, changed): NFC-normalized text + did-it-change.

    One fused map stage, no shuffle; the key column passes through the
    Arrow batch untouched.
    """
    src = df.select(key_col, text_col)
    out_schema = T.StructType([
        src.schema[key_col],
        T.StructField("text_nfc", T.StringType()),
        T.StructField("changed", T.BooleanType())])

    def batches(it):
        prelude()
        import unicodedata

        for batch in it:
            texts = batch.column(text_col)
            nfc, changed = [], []
            for raw in texts:
                s = raw.as_py()
                if s is None:
                    nfc.append(None)
                    changed.append(None)
                elif unicodedata.is_normalized("NFC", s):
                    nfc.append(s)
                    changed.append(False)
                else:
                    nfc.append(unicodedata.normalize("NFC", s))
                    changed.append(True)
            yield pa.RecordBatch.from_arrays(
                [batch.column(key_col), pa.array(nfc, pa.string()),
                 pa.array(changed, pa.bool_())],
                [key_col, "text_nfc", "changed"])

    return src.mapInArrow(batches, out_schema)


def nfc_normalize_sql(text_expr: str, key_expr: str = "doc_id",
                      docs_table: str = "documents") -> str:
    return f"""
WITH x AS (SELECT {key_expr} AS k, {text_expr} AS t FROM {docs_table})
SELECT k AS doc_id, nfc_normalize(t) AS text_nfc,
       t <> nfc_normalize(t) AS changed
FROM x
"""
