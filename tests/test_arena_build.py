"""Differential tests: the C arena builder (fastpath.build_arena) must
produce EXACTLY the Python kernel's arena — every column, every node —
or bail (return None). Accept-rate floors keep the C path honest about
coverage; any accepted-but-mismatched document is a hard failure."""

import random

import pytest

from swiftsoup_spark.kernel import fastpath as fp
from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder

pytestmark = pytest.mark.skipif(
    fp.get_module() is None or not hasattr(fp.get_module(), "build_arena"),
    reason="native module unavailable")


def compare(html: str, track_spans: bool = False) -> bool:
    """True = accepted and byte-identical; False = bailed."""
    a_c = fp.build_arena(html, track_spans=track_spans)
    if a_c is None:
        return False
    a_py = HtmlTreeBuilder(track_spans=track_spans).parse(html)
    assert len(a_c.parent) == len(a_py.parent), (
        f"node count {len(a_c.parent)} != {len(a_py.parent)} for {html!r}")
    for fld in ("parent", "ntype", "tag", "text", "attrs", "children",
                "src_start", "src_end", "src_close"):
        c, p = getattr(a_c, fld), getattr(a_py, fld)
        if c != p:
            for i, (x, y) in enumerate(zip(c, p)):
                assert x == y, (f"{fld}[{i}]: C={x!r} PY={y!r} for {html!r}")
            raise AssertionError(f"{fld} length mismatch for {html!r}")
    assert a_c.selfclosing == a_py.selfclosing, html
    assert a_c.quirks == a_py.quirks, html
    assert a_c.errors == a_py.errors, html
    assert a_c.form_controls == a_py.form_controls, html
    assert a_c.base_uri == a_py.base_uri, html
    return True


CURATED = [
    "",
    "plain text",
    "<p>One</p><p>Two</p>",
    "<html><head><title>T</title></head><body><p>x</p></body></html>",
    "<!doctype html><html><body>q</body></html>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01//EN\" "
    "\"http://www.w3.org/TR/html4/strict.dtd\"><p>pub</p>",
    "<!doctype>quirky",
    "<div id=a class='b c'>attrs</div>",
    "<div a=1 a=2>dup attr</div>",
    "</div a=1 a=2>dup attr on end tag",
    "<input type=hidden><input type=text><input>",
    "<ul><li>one<li>two<li>three</ul>",
    "<dl><dt>t<dd>d<dt>t2<dd>d2</dl>",
    "<table><tr><td>A</td><td>B</td></tr></table>",
    "<table>FOSTER<tr><td>x</td></tr></table>",
    "<table><caption>c</caption><thead><tr><th>h</th></tr></thead>"
    "<tbody><tr><td>d</td></tr></tbody></table>",
    "<table><colgroup><col><col span=2></colgroup><tr><td>x</table>",
    "<table><tbody><tr><td>1<td>2<tr><td>3</table>after",
    "<select><option>a<option>b<optgroup label=g><option>c</select>",
    "<table><tr><td><select><option>o</table>x",
    "<b><i>both</b> italic</i>",
    "<p><b>Bold <i>both</b> italic</i></p><p>plain</p>",
    "<a href=1>one<a href=2>two",
    "<b><b><b><b>ark</b></b>",
    "<b class=x><b class=x><b class=x><b class=x>noah</b>",
    "<nobr>a<nobr>b</nobr>",
    "<applet><b>fmt<marquee>m</marquee></applet>after",
    "<pre>  pre\n  text  </pre>",
    "<textarea>raw &amp; <b>not bold</b></textarea>",
    "<script>if (a < b) { x(); } // <div></script>",
    "<script><!-- <script>nested</script> --></script>ok",
    "<style>p { color: red; }</style>",
    "<title>Title &amp; more</title>",
    "<noscript><img src=foo></noscript>",
    "<noscript><link rel=x></noscript>",
    "<iframe>inner <b>raw</b></iframe>",
    "<xmp><p>raw</p></xmp>",
    "<svg viewBox=\"0 0 10 10\"><title>icon</title><circle cx=\"5\">"
    "</circle><text x=\"1\">lbl</text></svg><p>post</p>",
    "<math><mi>x</mi></math>",
    "<!-- comment --><p>x</p><!-- tail -->",
    "<!--->empty-ish</p>",
    "<!--- dash-->d",
    "<?php echo 1 ?><p>pi</p>",
    "<![CDATA[raw <b>cdata</b>]]>text",
    "<p>unclosed",
    "unexpected</p>close",
    "</html>after html close",
    "<html lang=en><body class=b>merge<html lang=de dir=rtl>",
    "<body class=x>one<body class=y id=z>",
    "<br/><img src=x /><foo/><foo2/>bar",
    "<form><input name=a><button>b</button></form>",
    "<form action=/x><select name=s><option value=1>o</select></form>",
    "<frameset cols=\"50%,50%\"><frame src=a><frame src=b>"
    "<noframes>nf</noframes></frameset>",
    "<html><frameset><frame></frameset><noframes>x</noframes></html>",
    "<head><meta charset=utf-8><base href=\"http://x.test/sub/\">"
    "</head><body><a href=rel>r</a>",
    "<base href=http://one.test/><base href=http://two.test/>",
    "a < b yet a <3 c",
    "x &amp; y &lt;z&gt; &unknown; &nbsp;end",
    "&#65;&#x42;&#0;&#x110000;",
    "<a href=\"/x?a=1&amp;b=2&param=3\">legacy</a>",
    "<p title=\"q&quot;q\">attr entity</p>",
    "<h1>one</h1><h2>two</h2><h1>three",
    "<p>a<h1>heading closes p</h1>",
    "<button>b1<button>b2</button>",
    "<li>bare li</li>",
    "<td>bare cell</td>",
    "<tr><td>bare row</td></tr>",
    "<ruby>r<rt>t</rt><rp>p</rp></ruby>",
    "<plaintext>everything <b>raw</b> after",
    "<title></title><p>after empty title</p>",
    "<textarea/>sc textarea",
    "<script/>sc script",
    "\t \n<p> ws soup </p> \r\n",
    "<div>prefix<wbr>suffix</div>",
    "<marquee>m</marquee>",
    "<center>c</center>",
    "<sarcasm>s</sarcasm>end",
    "</sarcasm>",
    "<option>o1<option>o2",
    "<optgroup><option>x</optgroup><optgroup><option>y",
    "<table><form><input type=hidden name=h><tr><td>x</table>",
    "<table><script>var x;</script><tr><td>y</table>",
    "<table><style>.c{}</style><tr><td>y</table>",
    "<caption>stray</caption>",
    "<table><td>implied row</table>",
    "<div style=\"a:b;c:d\" data-x=\"1\" data-y>attrs</div>",
    "<DIV CLASS=UP>case</DIV>",
    "<p =bare>odd attr</p>",
    "<p ==x>odder</p>",
    "<p a = \"v\" b = v2 c= 'v3'>spaced</p>",
    "<p a=\"unterminated>rest",
    "<foo:bar>ns-ish</foo:bar>",
    "<p><span unknown1><unknown2>deep</unknown2></span></p>",
    "<p><tÄg x=1>hi</tÄg></p>",
    "<p ä=1 B=2>hi</p>",
]


def test_curated_corpus_identical():
    accepted = sum(1 for h in CURATED if compare(h))
    # full acceptance: every curated shape stays on the C builder
    assert accepted == len(CURATED), (accepted, len(CURATED))


def test_bench_template_accepted():
    html = ('<html><head><meta charset="utf-8"><title>Doc 7 &amp; friends'
            '</title></head><body><div id="main" class="content article">'
            '<h1>Doc 7</h1><p>some words</p><p>some words</p>'
            '</div><div class="nav footer"><a href="/l/7" class="next">'
            'next &gt;</a></div></body></html>')
    assert compare(html)
    assert compare(html, track_spans=True)


def test_nul_and_settings_bail():
    assert fp.build_arena("a\x00b") is None


TAGS = ["div", "p", "span", "b", "i", "em", "a", "ul", "li", "h1", "h2",
        "pre", "br", "img", "title", "style", "script", "textarea", "foo",
        "section", "blockquote", "dl", "dt", "dd", "button", "form",
        "input", "hr", "noscript", "small", "u", "s", "code", "option",
        "table", "tr", "td", "th", "tbody", "caption", "select", "nobr",
        "applet", "object", "ruby", "rt", "svg", "frameset", "frame"]
WORDS = ["one", "two", "three", "x", "&amp;", "&lt;", "a&b", " ", "\n",
         "\t", "\xa0", "word", "&nbsp;", "&#65;", "&fake;", "<", "& ",
         "café", "中文"]


def rand_doc(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice(WORDS))
        elif r < 0.6:
            t = rng.choice(TAGS)
            attrs = ""
            if rng.random() < 0.3:
                attrs = ' class="c d" id=e'
            if rng.random() < 0.1:
                attrs += " data-k='v&amp;w'"
            sc = "/" if rng.random() < 0.05 else ""
            parts.append(f"<{t}{attrs}{sc}>")
        elif r < 0.8:
            parts.append(f"</{rng.choice(TAGS)}>")
        elif r < 0.85:
            parts.append("<!-- c -->")
        elif r < 0.9:
            parts.append(rng.choice(["</>", "<!>", "<?x>", "<![CDATA[z]]>",
                                     "<!doctype html>"]))
        else:
            parts.append(rng.choice(WORDS).upper())
    return "".join(parts)


def test_random_differential():
    rng = random.Random(20260817)
    accepted = bailed = 0
    for _ in range(3000):
        if compare(rand_doc(rng)):
            accepted += 1
        else:
            bailed += 1
    # tag soup must (essentially) never leave the C builder
    assert accepted >= (accepted + bailed) * 0.999, (accepted, bailed)


def test_random_differential_with_spans():
    rng = random.Random(777)
    accepted = 0
    for _ in range(600):
        if compare(rand_doc(rng), track_spans=True):
            accepted += 1
    assert accepted >= 598, accepted


def test_random_wellformed_all_accepted():
    rng = random.Random(99)

    def nest(depth: int) -> str:
        if depth == 0:
            return rng.choice(["text", "a b", "&amp;", "x\xa0y", ""])
        t = rng.choice(["div", "p", "span", "b", "ul", "section", "em"])
        inner = "".join(nest(depth - 1) for _ in range(rng.randint(1, 3)))
        return f"<{t}>{inner}</{t}>"

    for _ in range(300):
        html = ("<html><head><title>T</title></head><body>"
                + nest(4) + "</body></html>")
        assert compare(html), "well-formed doc fell off the C builder"


def test_foster_fuzz():
    rng = random.Random(424242)
    accepted = 0
    n = 800
    for _ in range(n):
        parts = ["<table>"]
        for _ in range(rng.randint(1, 12)):
            r = rng.random()
            if r < 0.3:
                parts.append(rng.choice(["txt", " ", "x&amp;y", "\n"]))
            else:
                t = rng.choice(["tr", "td", "th", "tbody", "thead", "div",
                                "span", "table", "caption", "colgroup",
                                "col", "select", "option", "form", "input",
                                "b", "/tr", "/td", "/table", "/b"])
                parts.append(
                    f"<{t}{' id=m' if rng.random() < 0.05 else ''}>")
        if compare("".join(parts)):
            accepted += 1
    assert accepted >= n * 0.999, (accepted, n)


def test_adoption_agency_fuzz():
    rng = random.Random(31337)
    accepted = 0
    n = 1500
    fm = ["b", "i", "em", "a", "strong", "u", "s", "nobr", "tt"]
    sp = ["div", "p", "li", "button", "section", "object"]
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(2, 14)):
            r = rng.random()
            if r < 0.35:
                parts.append(f"<{rng.choice(fm)}>")
            elif r < 0.55:
                parts.append(f"</{rng.choice(fm)}>")
            elif r < 0.7:
                parts.append(f"<{rng.choice(sp)}>")
            elif r < 0.8:
                parts.append(f"</{rng.choice(sp)}>")
            else:
                parts.append(rng.choice(["t", "x y", "&amp;"]))
        if compare("".join(parts)):
            accepted += 1
    assert accepted >= n * 0.999, (accepted, n)


def test_reference_fixture_docs():
    """Shapes from the ported reference test-suites parse identically."""
    docs = [
        "<html><head><base href='http://x.test/a/'></head>"
        "<body><a href='b'>x</a></body></html>",
        "<body><p><textarea>one<p>two",
        "<val>One<val>Two</val></val>",
        "<div>One</div>\n<div>Two</div>",
        "<html><body><p>One</p><p>Two</body></html>",
        "1<p>2</p>3",
        "<table><td>Hello<td><p>There<p>now</table>",
        "<object type=x><param name=y></object>",
        "<video><source src=a><track src=b></video>",
        "A<style>text</style><p>B",
        "<span>Hello <div>there</div> <span>now</span></span>",
        "<p>test<p id=1>TEST</p>",
    ]
    for d in docs:
        compare(d)


# --- arena-based doc_text (the streaming-bail second tier) -----------------

def _py_text_title(html):
    from swiftsoup_spark.kernel.arena import Document
    a = HtmlTreeBuilder(track_spans=False).parse(html)
    return (a.node_text(0), Document(a, 0).title(), len(a.parent) - 1,
            a.errors)


def test_arena_doc_text_matches_kernel():
    cases = CURATED + [
        "<b><div>real adoption</b></div>",
        "<b>" * 4 + "ark",
        "<b><i><u>deep</b> mis</i> nest</u>",
        "<table><b>fost<tr><td>cell</b></td></tr></table>",
        "<title>  T&amp;T\n\txx  </title><pre>  keep\nme </pre>",
        "<div id=m>scoped <b>text</b></div><p>outside</p>",
    ]
    checked = 0
    for html in cases:
        r = fp.arena_doc_text(html)
        if r is None:
            continue
        assert r == _py_text_title(html), html
        checked += 1
    assert checked == len(cases)


def test_arena_doc_text_scoped():
    from swiftsoup_spark.select.engine import select as sel
    cases = [
        ('<html><body><div id="m"><h1>H</h1><p>one</p></div>noise</body></html>', "m"),
        ('<p id="m">  lead <b>b</b> tail  </p>after', "m"),
        ('<div id="m"><div id="m">inner</div>outer</div>', "m"),
        ('<p>no match here</p>', "zzz"),
    ]
    for html, scope in cases:
        r = fp.arena_doc_text(html, scope)
        assert r is not None
        a = HtmlTreeBuilder(track_spans=False).parse(html)
        mm = sel(a, 0, f"#{scope}")
        expected = a.node_text(mm[0]) if mm else ""
        assert r == (expected, *_py_text_title(html)[1:]), (html, scope)


def test_arena_doc_text_fuzz():
    rng = random.Random(616)
    accepted = 0
    n = 2500
    for _ in range(n):
        html = rand_doc(rng)
        r = fp.arena_doc_text(html)
        if r is None:
            continue
        assert r == _py_text_title(html), html
        accepted += 1
    assert accepted >= n * 0.999, (accepted, n)


def test_streaming_bail_classes_covered_by_arena_tier():
    """The streaming extractor's historical bail classes (true
    adoption-agency runs, Noah's-ark evictions, misnest repairs) must
    ride the arena tier when streaming bails — never Python."""
    for html in ["<b><div>real adoption</b></div>",
                 "<b>" * 4 + "ark",
                 "<b class=x><b class=x><b class=x><b class=x>noah</b>",
                 "<b><i><u>deep</b> mis</i> nest</u>",
                 "<div><b>x<p>y</b>z</p></div>"]:
        r = fp.arena_doc_text(html)
        assert r is not None, f"arena tier bailed on {html!r}"
        assert r == _py_text_title(html)


def test_deep_nesting_identical():
    """Depth beyond the old 256 cap stays on the C builder (heap stacks,
    2048 depth cap)."""
    html = "<div>" * 1000 + "deep" + "</div>" * 1000
    assert compare(html)
    html = "<span>" * 600 + "<b>x</b>" + "</span>" * 600
    assert compare(html)
    # past the cap -> clean bail, Python fallback
    assert fp.build_arena("<div>" * 3000 + "x") is None
