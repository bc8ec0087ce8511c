"""Winnowing document fingerprints (local substring dedup).

Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting" (SIGMOD 2003 — the MOSS algorithm, public paper): hash
every k-gram of a document, slide a window of w consecutive hashes, and
keep the minimum hash of each window (rightmost on ties). The selected
fingerprints are a *local* sample — any shared substring of length
>= k + w - 1 between two documents is GUARANTEED to produce at least one
shared fingerprint — so joining on fingerprints finds copied passages
that block-aligned span hashing (ops/dedup.duplicate_span_blocks) can
miss, with a provable detection floor instead of a stride blind spot.

Execution shape (100 TB honest):

* fingerprint selection is a map-only ``mapInArrow`` kernel (the
  ops/dedup.simhash pattern): k-gram shingles are built as one strided
  byte-matrix copy per ASCII doc and hashed by the C
  ``batch_md5_prefix64`` over the raw Arrow buffers; window minima are
  one vectorized ``sliding_window_view(...).min`` — O(len * w) per doc
  with no per-position Python OR per-position Catalyst eval. (A pure
  higher-order-function formulation was measured O(n^2 * k): a lambda
  that closes over another lazy ``transform`` column re-evaluates the
  whole inner array per window, and interpreted UTF8String.substring
  scans from the string start per call.) Text never rides a shuffle.
* the (doc, fingerprint) table is linear in corpus size (1/(w+1)
  expected density per the paper).
* candidate pairing is ONE equi self-join on the fingerprint hash,
  after a document-frequency prune (``2 <= df <= max_df``) that drops
  boilerplate k-grams — the standard MOSS index trick and the explicit
  skew guard: per-fingerprint join fanout is capped at max_df^2.

Tie-break and encoding: hash and position are packed into one BIGINT
``enc = hash32 * 2^24 + (2^24 - 1 - pos)`` so a single ``array_min``
yields the minimum hash with the RIGHTMOST position on ties (the
winnowing rule), identically in Spark and DuckDB. Positions are bounded
at 2^24 - 1 chars per document (16 MiB of text — beyond any sane page);
longer texts are truncated to the bound rather than wrapping.

Reference scope note: SwiftSoup has no corpus-dedup surface; this is
part of the LLM-training-data pipeline layer built on the extraction
kernel's text output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from swiftsoup_spark.spark.worker import prelude

__all__ = ["winnow_fingerprints", "winnow_pairs", "winnow_pairs_sql",
           "excise_shared_passages", "excise_shared_passages_sql"]

_B = 1 << 24  # position field width of the packed fingerprint


def _doc_winnow(t: str, k: int, w: int):
    """numpy: (fp, pos) arrays of one document's winnow sample —
    md5-prefix32 k-gram hashes packed with inverted position, sliding
    window min, distinct. Bit-identical to the SQL oracle's
    list_transform formulation."""
    import numpy as np
    import pyarrow as pa
    from numpy.lib.stride_tricks import sliding_window_view

    from swiftsoup_spark.kernel.fastpath import batch_md5_prefix64

    t = t[:_B - 1]
    n = len(t)
    m = n - k + 1
    b = t.encode("utf-8")
    if len(b) == n:
        # ASCII: shingles = one strided copy of the byte matrix, zero
        # per-position Python strings; Arrow array built from buffers
        win = np.ascontiguousarray(
            sliding_window_view(np.frombuffer(b, np.uint8), k))
        offs = np.arange(0, (m + 1) * k, k, dtype=np.int32)
        arr = pa.Array.from_buffers(
            pa.utf8(), m, [None, pa.py_buffer(offs.tobytes()),
                           pa.py_buffer(win.tobytes())])
    else:
        arr = pa.array([t[i:i + k] for i in range(m)], pa.utf8())
    hv = batch_md5_prefix64(arr)
    if hv is None:                      # no native module: stdlib md5
        import hashlib
        hv = np.fromiter(
            (int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8],
                            "big") for s in arr.to_pylist()),
            dtype=np.uint64, count=m)
    h32 = (hv >> np.uint64(32)).astype(np.int64)
    enc = h32 * _B + (_B - 1 - np.arange(m, dtype=np.int64))
    sel = np.unique(sliding_window_view(enc, w).min(axis=1))
    return sel // _B, (_B - 1) - (sel % _B)


def winnow_fingerprints(df, k: int = 16, w: int = 8,
                        id_col: str = "doc_id", text_col: str = "text"):
    """(id, fp, pos) rows: the winnow fingerprint sample of each doc.
    fp is the 32-bit k-gram hash, pos its 0-based character offset.
    One fused mapInArrow stage over (id, text); see module docstring
    for why this is a kernel and not a higher-order-function column."""
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("fp", T.LongType()),
        T.StructField("pos", T.LongType())])
    keep = (df.filter(F.length(text_col) >= k + w - 1)
            .select(id_col, text_col))

    def batches(it):
        prelude()
        import numpy as np
        import pyarrow.compute as pc

        for batch in it:
            texts = pc.fill_null(batch.column(text_col), "").to_pylist()
            fps, poss, counts = [], [], np.zeros(len(texts), np.int64)
            for i, t in enumerate(texts):
                fp, pos = _doc_winnow(t, k, w)
                fps.append(fp)
                poss.append(pos)
                counts[i] = len(fp)
            idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
            ids = pc.take(batch.column(id_col), pa.array(idx, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids,
                 pa.array(np.concatenate(fps) if fps else
                          np.zeros(0, np.int64), pa.int64()),
                 pa.array(np.concatenate(poss) if poss else
                          np.zeros(0, np.int64), pa.int64())],
                [id_col, "fp", "pos"])

    return keep.mapInArrow(batches, out_schema)


def winnow_pairs(df, k: int = 16, w: int = 8, max_df: int = 8,
                 min_shared: int = 3, id_col: str = "doc_id",
                 text_col: str = "text"):
    """Candidate copied-passage pairs: docs sharing >= min_shared
    distinct winnow fingerprints, after pruning fingerprints present in
    more than max_df docs (boilerplate guard / join-skew cap).
    Returns (i, j, shared) with i < j."""
    # materialize the fingerprint index ONCE (it feeds the df-prune
    # aggregate and BOTH sides of the self-join — without this the
    # md5 extraction pass runs three times). The index is the linear
    # ~1/(w+1)-density MOSS table, exactly what a production run would
    # checkpoint; same localCheckpoint convention as
    # ops/dedup.connected_components.
    e = (winnow_fingerprints(df, k, w, id_col, text_col)
         .select(F.col(id_col).alias("d"), "fp").distinct()
         .localCheckpoint())
    dfreq = (e.groupBy("fp").agg(F.count("*").alias("ndocs"))
             .filter((F.col("ndocs") >= 2) & (F.col("ndocs") <= max_df))
             .select("fp"))
    ee = e.join(dfreq, "fp")
    a, b = ee.alias("a"), ee.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.d") < F.col("b.d")))
            .groupBy(F.col("a.d").alias("i"), F.col("b.d").alias("j"))
            .agg(F.count("*").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def winnow_pairs_sql(k: int = 16, w: int = 8, max_df: int = 8,
                     min_shared: int = 3, table: str = "documents",
                     id_expr: str = "doc_id",
                     text_expr: str = "text") -> str:
    """DuckDB replay of :func:`winnow_pairs` — same packed-BIGINT
    min-of-window selection, df prune and self-join."""
    return f"""
WITH d AS (
  SELECT {id_expr} AS d, substr({text_expr}, 1, {_B - 1}) AS t
  FROM {table} WHERE length({text_expr}) >= {k + w - 1}
),
h AS (
  SELECT d, length(t) AS n,
         list_transform(range(0, length(t) - {k} + 1), i ->
           CAST('0x' || substr(md5(substr(t, CAST(i + 1 AS INT), {k})),
                               1, 8) AS BIGINT) * {_B}
           + ({_B - 1} - i)) AS hs
  FROM d
),
fps AS (
  SELECT d, unnest(list_distinct(list_transform(
           range(1, n - {k} - {w} + 3),
           j -> list_min(hs[CAST(j AS INT):CAST(j + {w} - 1 AS INT)]))))
         AS enc
  FROM h
),
e AS (SELECT DISTINCT d, enc // {_B} AS fp FROM fps),
keepfp AS (
  SELECT fp FROM e GROUP BY fp
  HAVING count(*) BETWEEN 2 AND {max_df}
),
ee AS (SELECT e.d, e.fp FROM e JOIN keepfp USING (fp))
SELECT a.d AS i, b.d AS j, count(*) AS shared
FROM ee a JOIN ee b ON a.fp = b.fp AND a.d < b.d
GROUP BY 1, 2 HAVING count(*) >= {min_shared}"""


def excise_shared_passages(df, k: int = 16, w: int = 8,
                           min_docs: int = 2, id_col: str = "doc_id",
                           text_col: str = "text"):
    """Cross-document duplicated-passage EXCISION — the text-rewrite
    counterpart of :func:`winnow_pairs` (Lee et al. 2022's ExactSubstr
    dedup removes the duplicated substring and keeps the document;
    this op does that with the winnow index instead of a suffix
    array). Every winnow-SELECTED k-gram whose fingerprint appears in
    >= ``min_docs`` documents is cut as the span
    ``[pos, pos + k + w - 1)``; overlapping spans merge.

    Coverage contract (honest): inside a long copied passage the two
    documents select identical fingerprints except within w windows of
    the boundaries (selection depends only on local hash content), and
    selected positions are at most w apart — so the k+w-1 span
    extension tiles the interior of any shared passage >= k + w - 1
    chars, leaving at most ~k+w boundary chars at each end. Short
    duplications (< k + w - 1) may be missed entirely — the same
    floor :func:`winnow_pairs` documents.

    Returns (doc_id, n_spans, n_cut, text_clean) for EVERY input row
    (docs with nothing shared pass through, n_spans = n_cut = 0).

    Scale shape: the fingerprint index is linear (~1/(w+1) density);
    the shared-fp set comes from one uniform fp-keyed groupBy; marking
    is a SEMI-join of marks against that set (each mark meets at most
    one fp row — no fanout, so no max_df cap is needed here, unlike
    the pairs self-join); span merging is the classic gaps-and-islands
    pair of doc-keyed windows over ~marks rows; the rebuild joins the
    per-doc span ARRAY (tiny) back to the corpus — text rides exactly
    one doc_id-keyed join, the same budget as line_dedup's rebuild.
    """
    span = k + w - 1
    # the index feeds BOTH the shared-fp aggregate and the marks
    # semi-join; checkpoint it so the mapInArrow kernel pass runs once
    # (the winnow_pairs convention — without it Catalyst inlines the
    # kernel subtree into both consumers)
    idx = winnow_fingerprints(df, k, w, id_col, text_col) \
        .localCheckpoint()
    shared = (idx.select(F.col(id_col).alias("d"), "fp").distinct()
              .groupBy("fp").agg(F.count("*").alias("ndocs"))
              .filter(F.col("ndocs") >= min_docs).select("fp"))
    marks = (idx.join(shared, "fp", "left_semi")
             .select(F.col(id_col).alias("d"), "pos").distinct())
    from pyspark.sql.window import Window
    prev = (Window.partitionBy("d").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1))
    upto = (Window.partitionBy("d").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0))
    sp = (marks
          .withColumn("maxe", F.max(F.col("pos") + span).over(prev))
          .withColumn("isnew",
                      F.when(F.col("maxe").isNull()
                             | (F.col("pos") > F.col("maxe")), 1)
                      .otherwise(0))
          .withColumn("isl", F.sum("isnew").over(upto)))
    islands = (sp.groupBy("d", "isl")
               .agg(F.min("pos").alias("s"),
                    F.max(F.col("pos") + span).alias("e")))
    per_doc = (islands.groupBy("d")
               .agg(F.array_sort(F.collect_list(F.struct("s", "e")))
                    .alias("spans")))
    j = df.join(per_doc, F.col(id_col) == F.col("d"), "left")
    n = F.length(text_col)
    rebuilt = F.aggregate(
        F.col("spans"),
        F.struct(F.lit(0).cast("long").alias("prev"),
                 F.lit("").alias("acc")),
        lambda a, x: F.struct(
            F.least(x["e"], n.cast("long")).alias("prev"),
            F.concat(a["acc"],
                     F.col(text_col).substr(
                         (a["prev"] + 1).cast("int"),
                         (x["s"] - a["prev"]).cast("int")))
            .alias("acc")),
        lambda a: F.concat(
            a["acc"],
            F.col(text_col).substr((a["prev"] + 1).cast("int"),
                                   (n.cast("long") - a["prev"])
                                   .cast("int"))))
    clean = F.when(F.col("spans").isNull(), F.col(text_col)) \
             .otherwise(rebuilt)
    return j.select(
        F.col(id_col),
        F.coalesce(F.size("spans"), F.lit(0)).cast("int")
        .alias("n_spans"),
        (n - F.length(clean)).cast("long").alias("n_cut"),
        clean.alias("text_clean"))


def excise_shared_passages_sql(k: int = 16, w: int = 8,
                               min_docs: int = 2,
                               table: str = "documents",
                               id_expr: str = "doc_id",
                               text_expr: str = "text") -> str:
    """DuckDB replay of :func:`excise_shared_passages` (same winnow
    selection as :func:`winnow_pairs_sql`, same gaps-and-islands
    windows, same piece-wise rebuild)."""
    span = k + w - 1
    return f"""
WITH d AS (
  SELECT {id_expr} AS d, substr({text_expr}, 1, {_B - 1}) AS t
  FROM {table} WHERE length({text_expr}) >= {k + w - 1}
),
h AS (
  SELECT d, length(t) AS n,
         list_transform(range(0, length(t) - {k} + 1), i ->
           CAST('0x' || substr(md5(substr(t, CAST(i + 1 AS INT), {k})),
                               1, 8) AS BIGINT) * {_B}
           + ({_B - 1} - i)) AS hs
  FROM d
),
fps AS (
  SELECT d, unnest(list_distinct(list_transform(
           range(1, n - {k} - {w} + 3),
           j -> list_min(hs[CAST(j AS INT):CAST(j + {w} - 1 AS INT)]))))
         AS enc
  FROM h
),
e AS (SELECT d, enc // {_B} AS fp,
             {_B - 1} - (enc % {_B}) AS pos FROM fps),
shared AS (
  SELECT fp FROM (SELECT DISTINCT d, fp FROM e)
  GROUP BY fp HAVING count(*) >= {min_docs}
),
marks AS (SELECT DISTINCT e.d, e.pos FROM e JOIN shared USING (fp)),
sp AS (
  SELECT d, pos,
         max(pos + {span}) OVER (PARTITION BY d ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
  FROM marks
),
sp2 AS (
  SELECT d, pos,
         SUM(CASE WHEN maxe IS NULL OR pos > maxe THEN 1 ELSE 0 END)
           OVER (PARTITION BY d ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM sp
),
islands AS (
  SELECT d, isl, min(pos) AS s, max(pos + {span}) AS e
  FROM sp2 GROUP BY d, isl
),
pieces AS (
  SELECT i.d, i.s, least(i.e, length(doc.{text_expr})) AS e,
         coalesce(lag(least(i.e, length(doc.{text_expr})))
                  OVER (PARTITION BY i.d ORDER BY i.s), 0) AS pstart,
         doc.{text_expr} AS t
  FROM islands i JOIN {table} doc ON doc.{id_expr} = i.d
),
built AS (
  SELECT d,
         count(*) AS n_spans,
         string_agg(substr(t, CAST(pstart + 1 AS INT),
                           CAST(s - pstart AS INT)), '' ORDER BY s)
           || substr(any_value(t), CAST(max(e) + 1 AS INT)) AS text_clean
  FROM pieces GROUP BY d
)
SELECT doc.{id_expr} AS doc_id,
       CAST(coalesce(b.n_spans, 0) AS INTEGER) AS n_spans,
       CAST(length(doc.{text_expr})
            - length(coalesce(b.text_clean, doc.{text_expr}))
            AS BIGINT) AS n_cut,
       coalesce(b.text_clean, doc.{text_expr}) AS text_clean
FROM {table} doc LEFT JOIN built b ON b.d = doc.{id_expr}
"""
