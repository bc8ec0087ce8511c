"""DOM-heuristic main-content extraction (ops/maincontent.py):
link-density scoring boundary cases, the C scorer
(``fastpath.main_content_text``) against the Python one, and the Spark
operator."""

import random

import pytest

from swiftsoup_spark.api import decode_html
from swiftsoup_spark.kernel import fastpath
from swiftsoup_spark.kernel.fastpath import build_arena
from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
from swiftsoup_spark.ops import maincontent
from swiftsoup_spark.ops.maincontent import (
    main_content_node, main_content_text)
from test_arena_build import rand_doc

needs_c = pytest.mark.skipif(
    fastpath.get_module() is None
    or not hasattr(fastpath.get_module(), "main_content_text"),
    reason="native module unavailable")


def _arena(html):
    a = build_arena(html)
    return a if a is not None else HtmlTreeBuilder().parse(html)


def _mc(html):
    return main_content_text(_arena(html))


def test_article_beats_nav():
    h = ('<body><div id="m"><h1>Title</h1><p>real prose body text</p></div>'
         '<div class="nav"><a href="/x">next &gt;</a></div></body>')
    assert _mc(h) == "Title real prose body text"


def test_link_farm_loses_despite_more_text():
    h = ('<body><div><a>one very long anchor text</a>'
         '<a>another very long anchor here</a><a>more more more links</a></div>'
         '<div><p>short real prose</p></div></body>')
    assert _mc(h) == "short real prose"


def test_mixed_block_scores_nonlink_minus_link():
    # 24 chars prose vs (10 prose + 20 link -> 10-20*1... score
    # text-2*link): second div: 30 - 40 = -10 < first div's 24
    h = ('<body><div><p>twenty-four chars prose.</p></div>'
         '<div><p>ten chars!</p><a>twenty chars of link!</a></div></body>')
    assert _mc(h) == "twenty-four chars prose."


def test_tie_goes_to_first_in_doc_order():
    h = '<body><div><p>same text</p></div><div><p>same text</p></div></body>'
    a = _arena(h)
    n = main_content_node(a)
    first = [nid for nid in range(len(a.parent))
             if a.node_text(nid) == "same text"]
    assert n == min(x for x in first if a.parent[x] != -1) or \
        a.node_text(n) == "same text"


def test_chrome_only_page_falls_back_to_body():
    h = '<body><div><a>x</a></div>plain tail</body>'
    assert _mc(h) == "xplain tail"


def test_no_candidates_falls_back_to_body():
    assert _mc("<body><p>just a paragraph</p></body>") == "just a paragraph"


def test_article_and_main_are_candidates():
    h = ('<body><article><p>the article body content</p></article>'
         '<div><a>nav nav nav</a></div></body>')
    assert _mc(h) == "the article body content"


def test_nested_candidate_prefers_denser_inner():
    # inner div has the same text but the outer also contains the nav
    # links -> outer score = text - 2*link < inner score = text
    h = ('<body><div id="outer"><div id="inner"><p>prose prose prose</p>'
         '</div><a>long navigation link text</a></div></body>')
    a = _arena(h)
    n = main_content_node(a)
    assert a.node_text(n) == "prose prose prose"


# ---- the C scorer against the Python one ---------------------------------

def _oracle(html):
    """The Python scorer over the Python tree builder's arena, never the
    C arena under test."""
    return main_content_text(HtmlTreeBuilder().parse(html))


CURATED = {
    # by UTF-8 bytes the first div wins (10 > 7); by code points the second
    "code_points": "<body><div>ééééé</div><div>abcdefg</div></body>",
    # link length in code points: 14 - 2*4 = 6 beats 5 (by bytes 18 - 16 = 2
    # loses)
    "code_point_links": ("<body><div>xxxxxxxxxx<a>éééé</a></div>"
                         "<div>abcde</div></body>"),
    # nbsp collapses in normal text, stays in <pre> (6 code points, 10
    # bytes), and loses to 8 plain chars
    "nbsp": ("<body><div>a&nbsp;&nbsp;&nbsp;&nbsp;b</div>"
             "<div><pre>p\xa0\xa0\xa0\xa0q</pre></div>"
             "<div>abcdefgh</div></body>"),
    "td": ("<table><tr><td><a>nav nav nav</a></td>"
           "<td>the cell content</td><td>side</td></tr></table>"),
    "nested": ("<body><div id=outer><section><p>prose prose prose</p>"
               "</section><a>long navigation link text</a></div></body>"),
    # equal scores (9): the first candidate in document order wins
    "tie": "<body><section>same text</section><div>next text</div></body>",
    "chrome_only": "<body><div><a>x</a></div>plain tail</body>",
    "frameset_no_body": ("<html><head><title>Frames</title></head>"
                         "<frameset><frame src=a><noframes>none</noframes>"
                         "</frameset></html>"),
}
CURATED_WANT = {
    "code_points": "abcdefg",
    "code_point_links": "xxxxxxxxxxéééé",
    "nbsp": "abcdefgh",
    "td": "the cell content",
    "nested": "prose prose prose",
    "tie": "same text",
    "chrome_only": "xplain tail",
    "frameset_no_body": "Frames",
}
# the arena builder bails on these: the C scorer returns None
NUL_PAGE = "<body><div>a\x00b</div><div>c</div></body>"
UNKNOWN_TAGS = ("<body>" + "".join(f"<x{i}>w{i} " for i in range(70))
                + "<div>main text</div></body>")


@needs_c
@pytest.mark.parametrize("name", sorted(CURATED))
def test_c_scorer_curated(name):
    h = CURATED[name]
    assert fastpath.main_content_text(h) == _oracle(h) == CURATED_WANT[name]


@needs_c
def test_c_scorer_bails_to_none():
    for h in (NUL_PAGE, UNKNOWN_TAGS):
        assert fastpath.main_content_text(h) is None
        assert _oracle(h)
    # a lone surrogate cannot be UTF-8 encoded for the C call
    assert fastpath.main_content_text("<div>\ud800</div>") is None


@needs_c
def test_c_scorer_random_differential():
    rng = random.Random(20261019)
    n, bailed = 20_000, 0
    for _ in range(n):
        h = rand_doc(rng)
        got = fastpath.main_content_text(h)
        if got is None:
            bailed += 1
            continue
        assert got == _oracle(h), h
    assert bailed <= n // 1000, bailed


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="maincontent-test")


def test_spark_operator_and_plan(spark):
    from swiftsoup_spark.ops.maincontent import main_content_over
    df = spark.createDataFrame(
        [("u1", '<body><div><p>body text one</p></div>'
                '<div><a>nav</a></div></body>'),
         ("u2", '<body><article><p>body text two</p></article></body>')],
        "url string, html string")
    out = main_content_over(df)
    rows = {r.url: r.text for r in out.collect()}
    assert rows == {"u1": "body text one", "u2": "body text two"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # fused scan -> kernel, no shuffle


def test_public_api_main_content():
    import swiftsoup_spark as soup
    doc = soup.parse('<body><div id=m><p>real prose text</p></div>'
                     '<div class=nav><a href=/x>nav link</a></div></body>')
    el = soup.main_content(doc)
    assert el.attr("id") == "m"
    assert el.text() == "real prose text"


def _captured_kernel(spark, monkeypatch, pages):
    """``main_content_over``'s own ``mapInArrow`` function, captured
    without running a job."""
    from swiftsoup_spark.ops.maincontent import main_content_over
    got = []
    cls = type(pages)
    orig = cls.mapInArrow

    def spy(self, func, schema, *args, **kwargs):
        got.append(func)
        return orig(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    main_content_over(pages)
    monkeypatch.setattr(cls, "mapInArrow", orig)
    return got[-1]


def _dom_page(layout, i):
    """A page shaped like one of the benchmark's ``no_id`` layouts."""
    nav = "".join(f'<a href="/go">h{i}.test link</a> ' for _ in range(5))
    side = "".join(f'<li><a href="/rel">related h{i}.test</a></li>'
                   for _ in range(4))
    body = f"<h1>Doc {i}</h1>" + "".join(
        f"<p>paragraph {k} of document {i} with some prose.</p>"
        for k in range(3))
    head = f"<html><head><title>Doc {i}</title></head><body>"
    return head + {
        "dom_section": (
            f'<div class="page"><div class="top"><nav class="menu">{nav}'
            f'</nav></div><section class="post"><article class="entry">'
            f'{body}</article></section><div class="side"><ul>{side}</ul>'
            '</div></div><div class="foot"><a href="/privacy">privacy</a> '
            '<a href="/terms">terms</a></div>'),
        "dom_divs": (
            f'<div class="wrap"><div class="links">{nav}</div>'
            f'<div class="body"><div class="inner">{body}</div></div>'
            f'<div class="related"><ul>{side}</ul></div></div>'),
        "dom_table": (
            f'<table class="layout"><tr><td class="nav">{nav}</td>'
            f'<td class="content">{body}</td><td class="side"><ul>{side}'
            '</ul></td></tr></table>'),
        "dom_chrome": f'<div class="nav">{nav}</div>',
    }[layout] + "</body></html>"


@needs_c
def test_hot_path_scores_in_c(spark, monkeypatch):
    """The operator's kernel, replayed in-process over benchmark-shaped
    pages, never reaches the Python scorer or ``Arena.node_text``."""
    import pyarrow as pa
    from swiftsoup_spark.kernel.arena import Arena

    layouts = ("dom_section", "dom_divs", "dom_table", "dom_chrome")
    html = [_dom_page(lay, i) for i in range(8) for lay in layouts]
    want = [_oracle(h) for h in html]
    want_nul = _oracle(NUL_PAGE)
    pages = spark.createDataFrame(
        [(f"u{i}", h.encode()) for i, h in enumerate(html)],
        "url string, html binary")
    kernel = _captured_kernel(spark, monkeypatch, pages)
    calls = {"main_content_node": 0, "node_text": 0}

    def counted(key, fn):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(maincontent, "main_content_node", counted(
        "main_content_node", maincontent.main_content_node))
    monkeypatch.setattr(Arena, "node_text", counted(
        "node_text", Arena.node_text))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"u{i}" for i in range(len(html))]),
         pa.array([h.encode() for h in html], pa.binary())], ["url", "html"])
    out = list(kernel(iter([batch])))
    assert calls == {"main_content_node": 0, "node_text": 0}
    assert out[0].column("text").to_pylist() == want
    # the counters do see the Python path: a NUL page takes it
    bad = pa.RecordBatch.from_arrays(
        [pa.array(["n"]), pa.array([NUL_PAGE.encode()], pa.binary())],
        ["url", "html"])
    out = list(kernel(iter([bad])))
    assert out[0].column("text").to_pylist() == [want_nul]
    assert calls["main_content_node"] == 1 and calls["node_text"] >= 1


LATIN1 = ('<html><head><meta charset="iso-8859-1"><title>Café</title>'
          '</head><body><div>crème brûlée recipe</div><div><a>nav</a></div>'
          '</body></html>').encode("latin-1")


def test_spark_operator_binary_rows_match_kernel(spark):
    """Binary html across several tasks: a null, a latin-1 ``<meta
    charset>`` page, pages the C scorer bails on (NUL, > 64 unknown
    tags) and a frameset page; every row equals the Python kernel's."""
    from pyspark.sql import types as T
    from swiftsoup_spark.ops.maincontent import main_content_over

    html = [None, LATIN1, NUL_PAGE.encode(), UNKNOWN_TAGS.encode(),
            CURATED["frameset_no_body"].encode()]
    html += [h.encode() for h in CURATED.values()]
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    n_tasks = 3
    pages = spark.createDataFrame(spark.sparkContext.parallelize(
        [(f"u{i}", h) for i, h in enumerate(html)], n_tasks), schema)
    assert pages.rdd.getNumPartitions() == n_tasks
    out = main_content_over(pages)
    got = {r.url: r.text for r in out.collect()}
    want = {f"u{i}": _oracle(decode_html(h) if h is not None else "")
            for i, h in enumerate(html)}
    assert got == want
    assert got["u1"] == "crème brûlée recipe"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
