"""The text operators' one tier policy (``extract._extract_column``):
C streaming, then the C arena per refused document, then the Python
kernel where both bail. Every tier must give the Python kernel's
(text, title, n_nodes, parse_errors), and one bad page must not fail a
job."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftsoup_spark.api import decode_html  # noqa: E402
from swiftsoup_spark.kernel import fastpath  # noqa: E402

LATIN1 = ('<html><head><meta charset="iso-8859-1"><title>Café</title>'
          '</head><body><div id="main"><div class="x">crème</div>'
          ' brûlée</div>tail</body></html>').encode("latin-1")
FRAMESET = (b"<html><head><title>F</title></head><frameset><frame src=a>"
            b"</frameset><div id=main class=x>after</div></html>")
NUL = (b"<html><head><title>N\x00ul</title></head><body>"
       b"<div id=main>a\x00b <div class=x>c</div></div></body></html>")
PLAIN = (b"<html><head><title>  Plain  page </title></head><body><p>lead"
         b"<div id=main><p>one<p>two<div class=x>three</div></div></body>")
HTML = [PLAIN, None, LATIN1, FRAMESET, NUL]
SCOPES = [None, "#main", "div.x"]


def _kernel(data, css_scope):
    """The Python kernel's (text, title, n_nodes, parse_errors)."""
    from swiftsoup_spark.kernel.arena import Document
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.select.engine import select

    a = HtmlTreeBuilder(track_spans=False).parse(
        decode_html(data) if data is not None else "")
    if css_scope:
        m = select(a, 0, css_scope)
        text = a.node_text(m[0]) if m else ""
    else:
        text = a.node_text(0)
    return text, Document(a, 0).title(), len(a.parent) - 1, a.errors


def test_cases_reach_each_tier():
    """The corpus above exercises all three tiers: the frameset page is
    refused by tier 1 only, the NUL page by both C tiers."""
    import pyarrow as pa

    if fastpath.get_module() is None:
        pytest.skip("native kernel unavailable")
    strs = [decode_html(h) for h in (PLAIN, FRAMESET, NUL)]
    _, _, bails = fastpath.batch_doc_text(pa.array(strs, pa.string()))
    assert bails == [1, 2]
    assert fastpath.arena_doc_text(strs[1]) is not None
    assert fastpath.arena_doc_text(strs[2]) is None


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[2]", app="extract-tiers-test")


def test_extract_pages_tiers_match_kernel(spark):
    """Binary html with a null, a latin-1 <meta charset> page, a tier-1
    bail (frameset) and a tier-2 bail (NUL byte), for every scope shape
    with and without metrics."""
    from pyspark.sql import types as T
    from swiftsoup_spark.spark.extract import extract_pages

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    pages = spark.createDataFrame(
        [(f"u{i}", h) for i, h in enumerate(HTML)], schema)
    for css_scope in SCOPES:
        for metrics in (False, True):
            got = {r.url: tuple(r)[1:] for r in extract_pages(
                pages, css_scope, metrics=metrics).collect()}
            width = 4 if metrics else 2
            want = {f"u{i}": _kernel(h, css_scope)[:width]
                    for i, h in enumerate(HTML)}
            assert got == want, (css_scope, metrics)


def test_bad_charset_pages_do_not_fail_job(spark):
    """Pages whose <meta charset> names a hostname codec (idna raises
    on decode, punycode too on non-ASCII bytes) read as UTF-8 instead of
    failing the whole job."""
    from pyspark.sql import types as T
    from swiftsoup_spark.spark.extract import extract_pages

    bad = [('<meta charset="%s"><title>t</title><p>café ok</p>' % enc)
           .encode("utf-8") for enc in ("idna", "punycode")]
    good = [b"<p>good %d</p>" % i for i in range(20)]
    html = good + bad
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    pages = spark.createDataFrame(
        [(f"u{i}", h) for i, h in enumerate(html)], schema)
    got = {r.url: r.text for r in extract_pages(pages).collect()}
    assert len(got) == len(html)
    assert got[f"u{len(good)}"] == got[f"u{len(good) + 1}"] == "t café ok"
    assert got["u0"] == "good 0"


def _captured_kernel(pages, monkeypatch, **kwargs):
    """``extract_pages``' own ``mapInArrow`` function, captured without
    running a job."""
    from swiftsoup_spark.spark.extract import extract_pages
    got = []
    cls = type(pages)
    orig = cls.mapInArrow

    def spy(self, func, schema, *args, **kw):
        got.append(func)
        return orig(self, func, schema, *args, **kw)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    extract_pages(pages, **kwargs)
    monkeypatch.setattr(cls, "mapInArrow", orig)
    return got[-1]


def test_hot_path_decodes_only_what_the_gate_refuses(spark, monkeypatch):
    """The operator's kernel, replayed in-process over one binary batch,
    calls ``api.decode_html`` for no UTF-8 page (plain, BOM, ``<meta
    charset="utf-8">``) and once for a latin-1 or a UTF-16-BOM page.
    Every row equals the row of the decoded string column."""
    import pyarrow as pa
    from swiftsoup_spark import api
    from swiftsoup_spark.spark.extract import _extract_column

    if fastpath.get_module() is None:
        pytest.skip("native kernel unavailable")
    utf8 = [PLAIN, b"\xef\xbb\xbf" + PLAIN,
            b'<meta charset="utf-8">' + PLAIN.replace(b"lead", "léad".encode())]
    utf16 = "<title>T</title><div id=main>wide</div>".encode("utf-16")
    pages = spark.createDataFrame([("u", b"")], "url string, html binary")
    for metrics in (False, True):
        kernel = _captured_kernel(pages, monkeypatch, css_scope="#main",
                                  metrics=metrics)
        for docs, n_decodes in ((utf8, 0), (utf8 + [LATIN1], 1),
                                (utf8 + [utf16], 1)):
            want = _extract_column(pa.array([decode_html(d) for d in docs]),
                                   "#main", metrics)
            calls = []
            monkeypatch.setattr(api, "decode_html",
                                lambda d, f=api.decode_html: calls.append(d)
                                or f(d))
            batch = pa.RecordBatch.from_arrays(
                [pa.array([f"u{i}" for i in range(len(docs))]),
                 pa.array(docs, pa.binary())], ["url", "html"])
            (out,) = kernel(iter([batch]))
            monkeypatch.undo()
            assert len(calls) == n_decodes, (metrics, docs[-1][:20])
            names = ["text", "title"] + (["n_nodes", "parse_errors"]
                                         if metrics else [])
            assert [out.column(nm).to_pylist() for nm in names] == \
                [a.to_pylist() for a in want]
