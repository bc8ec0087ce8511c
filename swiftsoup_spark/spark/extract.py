"""Arrow-batched extraction kernels: the Spark-facing physical operators.

Every operator here is a ``mapInArrow`` stage: the per-document kernel
(tokenize -> tree-build -> select/extract/clean) runs inside Arrow
record batches — the "vectorized pandas/Arrow UDF, never per-row
Python" contract of the north star, minus even the pandas Series
materialization (measured ~2x overhead on megabyte string columns, so
all paths use raw Arrow batches; commit 7be95ce's finding applied
everywhere).

Selector compilation happens ONCE per worker process (driver-side
string -> broadcast by closure -> compiled lazily and cached by
``parse_query``'s LRU), mirroring the reference's QueryParser cache.
"""

from pyspark.sql import types as T

from swiftsoup_spark.spark.worker import prelude

SPAN_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("node", T.IntegerType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
]))


def _to_str(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        from swiftsoup_spark.api import decode_html
        return decode_html(bytes(v))
    return v


def fast_parse(tb, s: str, track_spans: bool = False):
    """Full DOM build for the selector/clean/metrics operators: the C
    arena builder (kernel/fastpath.build_arena, byte-identical to the
    Python kernel, differential-fuzzed) with per-document fallback to
    ``tb.parse`` on bail-out."""
    from swiftsoup_spark.kernel.fastpath import build_arena
    arena = build_arena(s, track_spans=track_spans)
    return arena if arena is not None else tb.parse(s)


def apply_kernel(df, row_fn, out_fields, in_col="html", keep_cols=("url",),
                 track_spans=False, ctx_col=None):
    """Generic Arrow-batched kernel stage.

    ``row_fn(tree_builder, html_str) -> tuple`` runs per document inside
    ``mapInArrow``; its results become the ``out_fields`` columns
    appended to ``keep_cols``. One fused stage pipelined with the scan
    (no shuffle, no pandas); Catalyst prunes the scan to
    (keep_cols, in_col).

    ``ctx_col``: name of a keep column whose per-row value is passed as
    a third argument — ``row_fn(tb, s, ctx)`` — e.g. the page url as
    the document base URI for absUrl resolution.
    """
    import pyarrow as pa

    src = df.select(*keep_cols, in_col)
    keep_fields = [f for f in src.schema.fields if f.name != in_col]
    out_schema = T.StructType(keep_fields + list(out_fields))
    keep_names = [f.name for f in keep_fields]
    out_names = [f.name for f in out_schema.fields]

    def batches(it):
        prelude()
        from pyspark.sql.pandas.types import to_arrow_type
        from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder

        tb = HtmlTreeBuilder(track_spans=track_spans)
        out_types = [to_arrow_type(f.dataType) for f in out_fields]
        for batch in it:
            cols = [[] for _ in out_fields]
            ctx = batch.column(ctx_col) if ctx_col is not None else None
            for i, raw in enumerate(batch.column(in_col)):
                if ctx is None:
                    vals = row_fn(tb, _to_str(raw.as_py()))
                else:
                    vals = row_fn(tb, _to_str(raw.as_py()), ctx[i].as_py())
                for c, v in zip(cols, vals):
                    c.append(v)
            arrays = [batch.column(nm) for nm in keep_names] + [
                pa.array(c, t) for c, t in zip(cols, out_types)]
            yield pa.RecordBatch.from_arrays(arrays, out_names)

    return src.mapInArrow(batches, out_schema)


def select_over(df, css: str, mode: str = "text", out_col: str = "vals",
                in_col: str = "html", keep_cols=("url",)):
    """-> (keep_cols..., out_col: array<string>) of per-match values in
    document order. mode: 'text' | 'own_text' | 'outer_html' | 'tag' |
    'attr:<key>' | 'abs:<key>' (absolute URL resolved against the
    document base, reference Node.absUrl)."""
    attr_key = mode[5:] if mode.startswith("attr:") else None
    abs_key = mode[4:] if mode.startswith("abs:") else None

    def row(tb, s):
        from swiftsoup_spark.kernel.serializer import serialize
        from swiftsoup_spark.select.engine import select as sel

        arena = fast_parse(tb, s)
        ids = sel(arena, 0, css)
        if attr_key is not None:
            return ([(arena.attrs[i] or {}).get(attr_key) or "" for i in ids],)
        if abs_key is not None:
            from swiftsoup_spark.kernel.arena import Element
            return ([Element(arena, i).abs_url(abs_key) for i in ids],)
        if mode == "text":
            return ([arena.node_text(i) for i in ids],)
        if mode == "own_text":
            return ([arena.own_text(i) for i in ids],)
        if mode == "outer_html":
            return ([serialize(arena, i) for i in ids],)
        if mode == "tag":
            return ([arena.tag_name(i) for i in ids],)
        raise ValueError(mode)

    return apply_kernel(
        df, row, [T.StructField(out_col, T.ArrayType(T.StringType()))],
        in_col=in_col, keep_cols=keep_cols)


def select_count_over(df, css: str, out_col: str = "n",
                      in_col: str = "html", keep_cols=("url",)):
    """-> (keep_cols..., out_col: int) matches per document."""
    def row(tb, s):
        from swiftsoup_spark.select.engine import select as sel
        return (len(sel(fast_parse(tb, s), 0, css)),)

    return apply_kernel(df, row, [T.StructField(out_col, T.IntegerType())],
                        in_col=in_col, keep_cols=keep_cols)


def spans_over(df, css: str, out_col: str = "spans",
               in_col: str = "html", keep_cols=("url",)):
    """-> (keep_cols..., out_col: array<struct<node,start,end>>) source
    spans of selector matches (char offsets into the input)."""
    def row(tb, s):
        from swiftsoup_spark.select.engine import select as sel
        arena = fast_parse(tb, s, track_spans=True)
        ids = sel(arena, 0, css)
        return ([{"node": i, "start": arena.src_start[i],
                  "end": arena.src_end[i]} for i in ids],)

    return apply_kernel(df, row, [T.StructField(out_col, SPAN_SCHEMA)],
                        in_col=in_col, keep_cols=keep_cols, track_spans=True)


def clean_over(df, whitelist: str = "basic", out_col: str = "clean_html",
               in_col: str = "body", keep_cols=("url",)):
    """-> (keep_cols..., out_col) sanitized body html
    (reference SwiftSoup.clean)."""
    def row(tb, s):
        from swiftsoup_spark.clean.cleaner import clean_html as _clean
        return (_clean(s, whitelist),)

    return apply_kernel(df, row, [T.StructField(out_col, T.StringType())],
                        in_col=in_col, keep_cols=keep_cols)


def _extract_column(html, css_scope: str | None = None,
                    metrics: bool = False) -> list:
    """The one tier policy of the text operators: an Arrow ``html``
    column -> ``[text, title]`` Arrow arrays, plus ``[n_nodes,
    parse_errors]`` when ``metrics`` is set. A null reads as "".

    With no scope or a simple ``#id`` scope, the C tiers read binary
    html in place: ``fastpath.utf8_gate`` picks out the docs that
    ``api.decode_html`` would read as plain UTF-8, and only the docs it
    refuses (other charsets, UTF-16, invalid UTF-8, NUL bytes) are
    decoded before the C tiers; a doc both C tiers bail on is decoded
    for the Python tree builder. Tier 1 is the C streaming extractor over
    the whole batch's Arrow buffers (``fastpath.batch_doc_text``). A
    document it refuses goes to tier 2, the C arena
    (``fastpath.arena_doc_text``); every document does when ``metrics``
    is set, since tier 1 counts no nodes. Only a tier-2 bail reaches the
    Python tree builder. Any other scope decodes every binary doc, builds
    the DOM with :func:`fast_parse` and runs the selector. Every tier
    gives byte-identical output (tests/test_fastpath.py,
    tests/test_arena_build.py, tests/test_utf8_gate.py). Layer functions
    are looked up through their modules on each call, so wrappers
    patched onto those modules see every call.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from swiftsoup_spark import api
    from swiftsoup_spark.kernel import fastpath
    from swiftsoup_spark.kernel.arena import Document
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.select import engine

    scope_id = fastpath.scope_to_id(css_scope)
    c_scope = not css_scope or scope_id is not None
    gate = fastpath.utf8_gate(html) if c_scope else None
    if gate is None and not (pa.types.is_string(html.type)
                             or pa.types.is_large_string(html.type)):
        html = pa.array([_to_str(v) for v in html.to_pylist()], pa.string())
    todo, tier1 = range(len(html)), None
    if c_scope and not metrics:
        br = fastpath.batch_doc_text(html, scope_id, gate)
        if br is not None:
            tier1, todo = br[:2], br[2]
            if not todo:
                return list(tier1)
    cols = [], [], [], []
    tb = HtmlTreeBuilder(track_spans=False)
    for i in todo:
        s = gate.doc(html, i) if gate is not None else html[i].as_py() or ""
        r = fastpath.arena_doc_text(s, scope_id) if c_scope else None
        if r is None:
            if isinstance(s, bytes):    # the gate's UTF-8 bytes
                s = api.decode_html(html[i].as_py())
            arena = tb.parse(s) if c_scope else fast_parse(tb, s)
            if css_scope:
                m = engine.select(arena, 0, css_scope)
                text = arena.node_text(m[0]) if m else ""
            else:
                text = arena.node_text(0)
            r = (text, Document(arena, 0).title(), len(arena.parent) - 1,
                 arena.errors)
        for col, v in zip(cols, r):
            col.append(v)
    out = [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.string())]
    if tier1 is not None:
        # splice the later tiers' rows into tier 1's C-built arrays
        mask = [False] * len(html)
        for i in todo:
            mask[i] = True
        mask = pa.array(mask, pa.bool_())
        return [pc.replace_with_mask(a, mask, b) for a, b in zip(tier1, out)]
    if metrics:
        out += [pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.int32())]
    return out


def extract_pages(pages_df, css_scope: str | None = None, keep_cols: tuple = (),
                  metrics: bool = False):
    """pages(url, html, ...) -> (url, *keep_cols, text, title[, n_nodes,
    parse_errors]).

    One ``mapInArrow`` stage pipelined with the scan, no shuffle; the
    kernel reads and writes pyarrow arrays directly (measured ~2x the
    throughput of the pandas_udf path) and Catalyst prunes the scan to
    (url, html, *keep_cols). Each batch goes through
    :func:`_extract_column`: the C streaming tier, then the C arena
    tier per refused document, then the Python kernel only where both
    bail. ``metrics=True`` adds exact (n_nodes, parse_errors) columns,
    the per-doc columns of the resumable pipeline's extracted table
    (whose own stage, ``pipeline._extract_stage``, calls
    :func:`_extract_column` the same way); they come from the C arena
    tier, so each document starts there.
    """
    src = pages_df.select("url", *keep_cols, "html")
    keep_fields = [f for f in src.schema.fields if f.name != "html"]
    out_fields = keep_fields + [
        T.StructField("text", T.StringType()),
        T.StructField("title", T.StringType())]
    if metrics:
        out_fields += [T.StructField("n_nodes", T.IntegerType()),
                       T.StructField("parse_errors", T.IntegerType())]
    out_schema = T.StructType(out_fields)
    keep_names = [f.name for f in keep_fields]
    out_names = [f.name for f in out_fields]

    def batches(it):
        prelude()
        import pyarrow as pa
        for batch in it:
            arrays = [batch.column(nm) for nm in keep_names] + _extract_column(
                batch.column("html"), css_scope, metrics)
            yield pa.RecordBatch.from_arrays(arrays, out_names)

    return src.mapInArrow(batches, out_schema)
