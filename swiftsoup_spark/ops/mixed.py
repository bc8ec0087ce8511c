"""Mixed-format corpus extraction: sniff-and-route in ONE fused kernel.

A real Common-Crawl-style table carries more than HTML — the payload
column is opaque binary and the format is a per-document property, not
a partition property. ``extract_any_over`` routes each document inside
one ``mapInArrow`` stage:

  * payload starts with ``%PDF-``  -> the from-scratch PDF extractor
    (``ops.pdftext``; documented bails surface as NULL text)
  * anything else -> charset-aware decode (``api.decode_html``: BOM +
    ``<meta charset>`` sniff) and ``extract_pages``' tier policy over
    the batch's HTML documents (C streaming, then the C arena walk,
    then the byte-identical Python kernel)

Scale shape: routing is a per-document branch inside the same fused
Scan -> MapInArrow stage every other extractor uses — no shuffle, no
per-format job split, no second pass over the table. A format split
("repartition by format, run two jobs") would shuffle 100 TB to save
nothing: both kernels are already per-document.
"""

from __future__ import annotations

from pyspark.sql import types as T

from swiftsoup_spark.spark.worker import prelude


def extract_any_over(df, payload_col: str = "payload",
                     keep_cols: tuple = ("url",)):
    """(keep_cols..., fmt, text) — format-sniffed extraction per doc."""
    import pyarrow as pa

    src = df.select(*keep_cols, payload_col)
    keep_fields = [f for f in src.schema.fields if f.name != payload_col]
    out_schema = T.StructType(keep_fields + [
        T.StructField("fmt", T.StringType()),
        T.StructField("text", T.StringType())])
    keep_names = [f.name for f in keep_fields]
    out_names = [f.name for f in out_schema.fields]

    def batches(it):
        prelude()
        from swiftsoup_spark.ops.pdftext import extract_pdf_text_bytes
        from swiftsoup_spark.spark.extract import _extract_column

        for batch in it:
            payloads = batch.column(payload_col).to_pylist()
            fmts = [None if b is None else
                    "pdf" if b.startswith(b"%PDF-") else "html"
                    for b in payloads]
            texts = [extract_pdf_text_bytes(b) if f == "pdf" else None
                     for b, f in zip(payloads, fmts)]
            html_idx = [i for i, f in enumerate(fmts) if f == "html"]
            if html_idx:
                html = pa.array([payloads[i] for i in html_idx], pa.binary())
                for i, t in zip(html_idx,
                                _extract_column(html)[0].to_pylist()):
                    texts[i] = t
            yield pa.RecordBatch.from_arrays(
                [batch.column(nm) for nm in keep_names]
                + [pa.array(fmts, pa.string()), pa.array(texts, pa.string())],
                out_names)

    return src.mapInArrow(batches, out_schema)


def synthesize_mixed(df, html_col: str = "html", text_col: str = "text",
                     id_col: str = "doc_id", keep_cols: tuple = ("url",),
                     out_col: str = "payload"):
    """Deterministic mixed corpus for the driver gate: even ids carry
    the utf-8 HTML bytes, odd ids a synthesized PDF (``build_mini_pdf``
    variant ``id % 4``)."""
    import pyarrow as pa

    from swiftsoup_spark.ops.pdftext import build_mini_pdf

    keep = [c for c in keep_cols if c != id_col]
    src = df.select(id_col, *keep, html_col, text_col)
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in keep]
        + [T.StructField(out_col, T.BinaryType())])

    def batches(it):
        prelude()
        for batch in it:
            ids = batch.column(id_col)
            htmls = batch.column(html_col)
            texts = batch.column(text_col)
            payloads = []
            for i, h, t in zip(ids, htmls, texts):
                did = i.as_py()
                if did % 2 == 0:
                    payloads.append((h.as_py() or "").encode("utf-8"))
                else:
                    payloads.append(build_mini_pdf(t.as_py() or "", did % 4))
            yield pa.RecordBatch.from_arrays(
                [ids] + [batch.column(c) for c in keep]
                + [pa.array(payloads, pa.binary())],
                [id_col] + keep + [out_col])

    return src.mapInArrow(batches, out_schema)
