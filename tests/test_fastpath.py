"""Differential tests: C fast path vs the pure-Python kernel.

Contract: for EVERY input, ``fastpath.doc_text(html)`` is either None
(bail-out -> caller uses the Python kernel) or byte-identical to
``(Document.text(), Document.title())`` from the full parse. A bail is
always safe; a mismatch is a bug.

Also pins ACCEPTANCE of the benchmark/oracle page shapes, so a
regression that silently sends the hot corpus down the slow path fails
loudly here instead of only in BENCH numbers.
"""

from __future__ import annotations

import random

import pytest

from swiftsoup_spark.api import parse
from swiftsoup_spark.kernel.fastpath import doc_text, get_module

pytestmark = pytest.mark.skipif(
    get_module() is None, reason="no C toolchain available")


def slow(html: str) -> tuple[str, str]:
    d = parse(html)
    return d.text(), d.title()


def check(html: str) -> bool:
    """True if fast path accepted the doc (and matched)."""
    fast = doc_text(html)
    if fast is None:
        return False
    expected = slow(html)
    assert fast == expected, (
        f"fastpath mismatch on {html!r}\n fast={fast!r}\n slow={expected!r}")
    return True


CURATED = [
    # skeleton synthesis
    "",
    "   \n\t  ",
    "hello",
    "hello <b>world</b>",
    "<p>one</p><p>two</p>",
    "<html><body><p>x</p></body></html>",
    "<!DOCTYPE html><html><head></head><body>x</body></html>",
    "<!doctype html><p>y</p>",
    "<head><title>t</title></head><body>b</body>",
    "<body>just body</body>",
    "x<html><body>y",
    # head / after-head
    "<title>T</title>after title",
    "<html><head><title>A</title> </head> <body>B</body></html>",
    "<head></head> \n <body>x</body>",
    "<head><meta charset=utf-8><link rel=x href=y></head><body>z</body>",
    "<head></head><title>late title</title><body>b</body>",
    "<head></head><style>h1{color:red}</style><body>b</body>",
    "<head></head><script>var x=1;</script><body>b</body>",
    "<head><noscript><meta name=a></noscript></head><body>x</body>",
    "<head><noscript>text in ns</noscript></head><body>x</body>",
    "<head><noscript><p>breaks out</p></noscript></head><body>x</body>",
    "<noscript><img src=x></noscript>mid body",
    # rcdata / rawtext / script
    "<title>T &amp; &lt;b&gt;</title><p>x</p>",
    "<title>unclosed title <p>breakout</p>",
    "<title>unclosed to eof",
    "<textarea>one  two\nthree</textarea>after",
    "<textarea>a &lt; b</textarea>",
    "<textarea>unclosed <b>breakout",
    "<style>p { content: '</div>' }</style>x",
    "<style>unclosed to eof",
    "<script>if (a<b) { x() }</script>tail",
    "<script><!-- document.write('</script>') --></script>tail",
    "<script><!-- <script> nested </script> --></script>tail",
    "<script>unclosed",
    "<iframe>ignored <p>content</p></iframe>after",
    "<noembed><b>raw</b></noembed>after",
    "<xmp><p>raw pre-like</p></xmp>after",
    "<p>a<xmp>raw</xmp>b",
    # pre / whitespace preservation
    "<pre>  keep   this\n  layout</pre>",
    "<pre>a<span>  inner  </span>b</pre>",
    "<pre>a<span><b>  deep  </b></span>b</pre>",
    "<p>  collapse   these  </p>",
    "a\xa0b",
    "a &nbsp; b",
    "&#160;lead nbsp",
    "word&nbsp;&nbsp;joined",
    "<pre>nbsp\xa0kept</pre>",
    "<pre>\nleading newline</pre>",
    # entities
    "&amp; &lt; &gt; &quot; &apos;",
    "&notit; &notin; &not x",
    "&ampx &amp;x &ampere",
    "&#65;&#x42;&#X43;",
    "&#0; &#xD800; &#x110000; &#2013266066;",
    "&#151; &#x96;",
    "&fake; &fakefake; &;& &",
    "&CounterClockwiseContourIntegral;done",
    "&ngE; &nGt; &acE;",
    "&gt",
    "text &",
    "tail&",
    # blocks, br, inline
    "a<br>b",
    "a<br/>b",
    "a <br> b",
    "a<div>b</div>c",
    "a<span>b</span>c",
    "a<meta>b",
    "<div>x</div> <div>y</div>",
    "one<hr>two",
    "a<img src=x>b",
    "a<wbr>b",
    "<ins>in</ins><del>out</del>",
    # implied ends / nesting
    "<ul><li>one<li>two<li>three</ul>",
    "<ol><li>a<ul><li>b</ul><li>c</ol>",
    "<dl><dt>t<dd>d<dt>t2<dd>d2</dl>",
    "<p>one<p>two<div>three</div>",
    "<h1>a<h2>b</h2>",
    "<h1>one<p>two",
    "<li>stray li",
    "<p>a<blockquote>b</blockquote>c",
    "<button>x<button>y</button>",
    "<option>a<option>b<optgroup><option>c",
    "<ruby>r<rt>t</rt></ruby>",
    "<rt>outside ruby</rt>x",
    # formatting elements (no real AAA)
    "<b>bold</b> plain",
    "<b>a<i>b</i>c</b>",
    "<b>unclosed",
    "<p><b>one</p><p>still bold</p>",
    "<p><b>one</p>two<p>three",
    "<a href=x>link</a> after",
    "<a>one<a>two</a>",
    "<em>a<p>b</p>c</em>",
    "<nobr>a</nobr>b",
    "<b><b>double</b></b>",
    "<small><big>sizes</big></small>",
    "<applet>x</applet>y",
    "<marquee><b>m</b></marquee>n",
    "<object>o</object>p",
    "<b>a<marquee>b</marquee>c</b>",
    # stray / mismatched end tags
    "</p>lead stray p",
    "x</p>y",
    "x</div>y",
    "x</span>y",
    "</br>ignored",
    "</html>after html end",
    "</body>after body end",
    "a</body>b</html>c",
    "<div>a</body> <p>b</p>",
    "</sarcasm>text",
    "<div><span>x</div>y</span>",
    # form
    "<form><input name=a>text</form>after",
    "<form>a<form>nested ignored</form>b",
    "<form><div>x</form>y</div>",
    "</form>stray",
    # comments / doctype / cdata / bogus
    "<!-- c -->x",
    "x<!-- multi\nline --><p>y</p>",
    "<!-->x",
    "<!--->y",
    "<!-- unterminated",
    "<!-- a --!>b",
    "<?php echo 'x' ?>y",
    "</ bogus>z",
    "<![CDATA[raw <b> text]]>tail",
    "<![CDATA[unterminated",
    "<!doctype html public \"-//W3C//DTD HTML 4.01//EN\" \"http://x\">y",
    "<!doctype bogus junk>z",
    # literal '<'
    "a < b",
    "a <3 b",
    "5<6 and 7<8",
    "x<",
    "x</",
    "tag <-not ->a tag",
    # unknown tags
    "<foo>custom</foo>x",
    "<foo-bar a=b>y</foo-bar>",
    "<template><p>inside</p></template>after",
    "<menuitem>odd void-ish</menuitem>",
    "<isindex>idx</isindex>",
    # self-closing
    "<div/>after",
    "<p/>x",
    "<b/>y",
    "<span/>z",
    "<title/>t",
    "<script/>s",
    "<applet/>a",
    "<li/>l",
    "<foo/>u",
    # attribute scanning edge cases
    "<div class='a b' id=\"c\">x</div>",
    "<div a = b c>x</div>",
    "<div =leading>x</div>",
    "<div a='un>closed quote'>x</div>",
    "<div a=\">\">x</div>",
    "<div a='>'>x</div>",
    "<div a=b/>x",
    "<div / a>x</div>",
    "<div a>unterminated",
    "<div a='unterminated",
    "<a href=a&amp;b>x</a>",
    # after-head re-entry
    "<head></head><meta charset=x><body>y</body>",
    "<head></head><base href=x><p>z</p>",
    # deep-ish nesting
    "<div>" * 50 + "deep" + "</div>" * 50,
    "<b>" * 2 + "two bolds" + "</b>" * 2,
]

BAIL_EXPECTED = [
    "<table><tr><td>cell</td></tr></table>",
    "x<table><td>y</td></table>z",
    "<select><option>a</option></select>",
    "<frameset><frame></frameset>",
    "<svg><circle/></svg>",
    "<math><mi>x</mi></math>",
    "<plaintext>everything raw",
    "a\x00b",
    "<b><div>real adoption</b></div>",
    "<b>" * 4 + "ark",          # Noah's-ark risk -> bail
]


def test_curated_corpus():
    accepted = 0
    for html in CURATED:
        if check(html):
            accepted += 1
    # the fast path must actually cover the curated common cases
    assert accepted >= len(CURATED) * 0.9, (
        f"only {accepted}/{len(CURATED)} accepted")


def test_bail_cases_safe():
    for html in BAIL_EXPECTED:
        # bails are fine; what's not fine is accepting AND mismatching
        check(html)


def test_bench_template_accepted():
    """The oracle/bench page shapes MUST stay on the fast path."""
    html = ('<html><head><meta charset="utf-8"><title>Doc 7 &amp; friends'
            '</title></head><body><div id="main" class="content article">'
            '<h1>Doc 7</h1><p>some words here</p><p>some words here</p>'
            '</div><div class="nav footer"><a href="/l/7" class="next">'
            'next &gt;</a></div></body></html>')
    assert check(html), "bench/oracle template fell off the fast path"
    bench = ('<html><head><meta charset="utf-8"><title>Doc 9</title></head>'
             '<body><div id="main" class="content"><h1>Doc 9</h1>'
             '<p class="filler">words</p><p class="core">words &amp; more</p>'
             '</div><div class="footer"><a href="/l/9">next</a></div>'
             '</body></html>')
    assert check(bench), "bench corpus template fell off the fast path"


# ---- randomized differential fuzzing -------------------------------------

TAGS = ["div", "p", "span", "b", "i", "em", "a", "ul", "li", "h1", "h2",
        "pre", "br", "img", "title", "style", "script", "textarea", "foo",
        "section", "blockquote", "dl", "dt", "dd", "button", "form",
        "input", "hr", "noscript", "small", "u", "s", "code", "option"]
WORDS = ["one", "two", "three", "x", "&amp;", "&lt;", "a&b", " ", "\n",
         "\t", "\xa0", "word", "&nbsp;", "&#65;", "&fake;", "<", "& "]


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
            sc = "/" if rng.random() < 0.05 else ""
            parts.append(f"<{t}{attrs}{sc}>")
        elif r < 0.8:
            parts.append(f"</{rng.choice(TAGS)}>")
        elif r < 0.85:
            parts.append("<!-- c -->")
        elif r < 0.9:
            parts.append(rng.choice(["</>", "<!>", "<?x>", "<![CDATA[z]]>"]))
        else:
            parts.append(rng.choice(WORDS).upper())
    return "".join(parts)


def test_random_differential():
    rng = random.Random(20260816)
    accepted = bailed = 0
    for _ in range(2500):
        html = rand_doc(rng)
        if check(html):
            accepted += 1
        else:
            bailed += 1
    # tag-soup docs should still mostly stay on the fast path
    assert accepted > bailed, (accepted, bailed)


def test_random_wellformed_differential():
    """Nested well-formed docs (the realistic shape) must all accept."""
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
        assert doc_text(html) is not None
        check(html)


def test_scoped_extraction_differential():
    """#id-scoped fast path == Element.text() of select('#id')[0]."""
    from swiftsoup_spark.select.engine import select as sel

    cases = [
        ('<html><body><div id="m"><h1>H</h1><p>one</p></div>noise</body></html>'),
        ('<p id="m">  lead <b>b</b> tail  </p>after'),
        ('<div id="m"><div id="m">inner</div>outer</div>'),
        ('<img id="m">text'),
        ('no match here'),
        ('<title>T</title><div id=m>x <pre> p </pre></div>tail'),
        ('<div ID="m">upper name</div>'),
        ('<div id=m>unquoted</div>'),
        ('<ul id=m><li>a<li>b</ul>'),
        ('<textarea id=m>raw  ws</textarea>'),
        ('<div class="c" id="m" id="n">first id wins</div>'),
        ('<div id="n" id="m">other first</div>'),
        ('<b id=m>fmt scope<p>cont</b>after'),
    ]
    for html in cases:
        fast = doc_text(html, "m")
        if fast is None:
            continue
        arena = parse(html).arena
        m = sel(arena, 0, "#m")
        expected = arena.node_text(m[0]) if m else ""
        assert fast[0] == expected, html


def test_scoped_bench_template_accepted():
    html = ('<html><head><meta charset="utf-8"><title>Doc 7 &amp; x</title>'
            '</head><body><div id="main" class="content article"><h1>Doc 7'
            '</h1><p>words</p></div><div class="nav footer">'
            '<a href="/l/7" class="next">next &gt;</a></div></body></html>')
    fast = doc_text(html, "main")
    assert fast is not None
    assert fast[0] == "Doc 7 words"


def test_scope_to_id():
    from swiftsoup_spark.kernel.fastpath import scope_to_id
    assert scope_to_id("#main") == "main"
    assert scope_to_id(" #x-1 ") == "x-1"
    assert scope_to_id("div#main") is None
    assert scope_to_id("#main > p") is None
    assert scope_to_id(None) is None
    assert scope_to_id("#") is None


def test_table_modes_accepted():
    """Well-formed tables (the common case) stay on the C fast path;
    only fostering content bails."""
    accepted = [
        '<table><tr><td>cell</td><td>c2</td></tr></table>after',
        '<table><caption>Cap</caption><tr><th>H</th></tr>'
        '<tr><td>D</td></tr></table>',
        '<p>before<table><tbody><tr><td>x</td></tr></tbody></table>tail',
        '<table><tr><td>a<b>bold</b></td><td><p>para</p></td></tr></table>',
        '<table>  <tr> <td>ws pending</td> </tr> </table>',
        '<table><td>implied tbody/tr</td></table>',
        '<table><col><colgroup><col></table>x',
        '<table><tr><td><table><tr><td>nested</td></tr></table>'
        '</td></tr></table>',
        '<table><thead><tr><th>h</th></tr><tfoot><tr><td>f</td></tr></table>',
        '<table><tr><td>u',                    # EOF inside cell
        '<!doctype html><p>q<table><td>x',     # no-quirks: closes p
        '<!doctype junk z><p>q<table><td>x',   # quirks: keeps p open
        '<table><form><tr><td>f</td></tr></form></table>',
        '<pre><table> <tr><td>x</td></tr></table></pre>',
    ]
    for html in accepted:
        assert doc_text(html) is not None, f"unexpected bail: {html}"
        check(html)

    fostering = [
        '<table>FOSTER<tr><td>x</td></tr></table>',
        '<table><div>el foster</div></table>',
        '<table><tr><td>a</td>MID</tr></table>',
    ]
    for html in fostering:
        check(html)   # bail is fine; accept must match


def test_select_modes_accepted():
    """<select> stays on the C fast path (option text IS in text())."""
    cases = [
        '<select><option>one</option><option>two</option></select>after',
        '<form><select><optgroup><option>a<option>b</optgroup>'
        '<option>c</select></form>',
        '<select><option>a<input></select>tail',   # input exits select
        '<select><option>unclosed',
        '<table><tr><td><select><option>in cell</option></select>'
        '</td></tr></table>',
        '<select><select>double</select>',
        '<div id=m><select><option>scoped</option></select></div>',
    ]
    for html in cases:
        assert doc_text(html) is not None, f"unexpected bail: {html}"
        check(html)


def test_oracle_corpus_bail_contract():
    """Which oracle-corpus shapes ride the C fast path is a perf contract:
    since the foster-parenting support (fz_begin/fz_end in _fastpath.c)
    NO variant bails — including 'tables', whose text re-homes before
    the table.  A regression here silently sends a whole driver query to
    the ~30× slower Python kernel."""
    import duckdb
    import pyarrow as pa

    from swiftsoup_spark.kernel.fastpath import batch_doc_text, get_module
    from swiftsoup_spark.spark.pages import HTML_SQL, VARIANT_TEMPLATES

    if get_module() is None:
        import pytest
        pytest.skip("native fastpath unavailable")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    corpora = {"primary": HTML_SQL}
    # 'charset' is excluded: its html column is BINARY (Spark-dialect
    # encode/unhex), which decode_html turns into a string column before
    # it reaches the batch utf8 fast path this contract pins
    corpora.update({k: h for k, (h, _) in VARIANT_TEMPLATES.items()
                    if k != "charset"})
    expected_bail = {}
    for name, hsql in corpora.items():
        htmls = [r[0] for r in
                 con.execute(f"SELECT {hsql} FROM documents").fetchall()]
        r = batch_doc_text(pa.array(htmls, type=pa.string()))
        assert r is not None
        rate = len(r[2]) / len(htmls)
        assert rate == expected_bail.get(name, 0.0), (name, rate)


def test_foster_parenting_cases():
    """Foster parenting (table text/element re-homing) on the C path:
    curated cases covering text fostering, fostered elements, nested
    tables, the nested-end disarm quirk, comment-split pend groups, and
    a-in-a remnant removal under an open table."""
    cases = [
        'x<table>F</table>y',
        'x<table> F <tr><td>c</td></tr></table>',
        '<table><caption>cap</caption>F<tr><td>c</td></tr></table>',
        'x<table><div>d<p>q</p></div>e<tr><td>c</td></tr></table>z',
        'a<table>f1<table>f2<tr><td>in</td></tr></table>f3</table>b',
        '<pre><table>fost</table></pre>',
        'x<table><select><option>o1<option>o2</select><tr><td>c</td></tr></table>',
        'x<table></p><tr><td>c</td></tr></table>',
        '<b>fmt<table>text<tr><td>c</td></tr></table>tail',
        '<table><p><p>two<thead>FOST',          # nested-end disarm: p2 in table
        '<table><h2><p><h2>a b<colgroup>FOSTx', # heading direct-pop keeps arm
        '<table>a b<table>a b\n',               # empty-table entry join
        '<table>one</textarea>  <!-- c -->two', # comment splits pend groups
        '<table><option>\n&amp;<form>&amp;',    # form block join in zone
        '<table><optgroup id=m><p>\nonex<div id=m>twoone\n',
        '<table><th><a><table>two<div><a>Z',    # a-in-a remnant + tb resync
        '<table><tr><td>a</td>MID</tr></table>',
        '<table><div>FOST<form><textarea></colgroup>',
    ]
    for html in cases:
        assert doc_text(html) is not None, f"unexpected bail: {html}"
        check(html)


def test_foster_fuzz():
    """Randomized table-soup differential fuzz (foster-heavy grammar)."""
    rng = random.Random(424242)
    ttags = ["table", "tr", "td", "th", "tbody", "thead", "tfoot",
             "caption", "colgroup", "col", "div", "p", "span", "b", "i",
             "pre", "select", "option", "form", "li", "ul", "br",
             "textarea", "a", "h2", "button", "dd", "dt", "optgroup"]
    words = ["one", "two", " ", "\n", "&amp;", "x", "FOST", "&nbsp;",
             "a b", "\xa0"]
    for _ in range(4000):
        parts = []
        for _ in range(rng.randint(2, 50)):
            r = rng.random()
            if r < 0.4:
                parts.append(rng.choice(words))
            elif r < 0.7:
                t = rng.choice(ttags)
                parts.append(
                    f"<{t}{' id=m' if rng.random() < 0.05 else ''}>")
            elif r < 0.95:
                parts.append(f"</{rng.choice(ttags)}>")
            else:
                parts.append("<!-- c -->")
        check("".join(parts))


def test_adoption_agency_cases():
    """Real adoption-agency runs on the C path (round-2: full AAA with
    clone-chain/adopter bookkeeping; bails only on foster/preserve/
    retro-join hazards)."""
    cases = [
        '<b>x<div>y</b>z',
        '<b>x<span>s<div>y</b>z',
        '<p>1<b>2<i>3<div>4</b>5</i>6</p>7',
        '<b>a<p>b</b>c</p>d',
        '<a>1<div>2<div>3</a>4',
        '<b><b><div>x</b>y</b>z',
        '<em>a<table><tr><td><b>x<div>y</b>z</td></tr></table>b</em>',
        '<b>one<table>FOST<div>in</b>out',    # AAA inside a foster zone
        '<i><button>x</i>y</button>',
        '<s>two<button></s>&amp;',            # adopter 's' is a block join
        '<s>x<div>y</s>z',
        '<strong><s>x<button></strong>a b',   # block chain clone join
        '<code><s>a b<button></code>xa b',
    ]
    bails = [
        '<code><em><span><h1></code>a b</h1>W',  # 3-cap residue reorder
        '<b><pre>x</b>y',                        # preserve ancestry change
        '<s>x<button>y</s>z',                    # retro-insert join
    ]
    for html in cases:
        assert doc_text(html) is not None, f"unexpected bail: {html}"
        check(html)
    for html in bails:
        check(html)     # bail is fine; accept must match


def test_noahs_ark_identical_attrs():
    """Byte-identical attr-bearing formatters (the legacy <font> chain
    shape) are ark-evicted exactly on the C path via the raw-span hash;
    undecidable mixes still bail."""
    accepted = [
        '<font color="#000">a<font color="#000">b<font color="#000">c'
        '<font color="#000">d',
        '<b a=1>x<b a=1>y<b a=1>z<b a=1>w',
        '<font color="#000">a</font>' * 5 + 'tail',
    ]
    for html in accepted:
        assert doc_text(html) is not None, f"unexpected bail: {html}"
        check(html)
    check('<b a=1>x<b a=2>y<b a=1>z<b a=1>w')   # ambiguous: bail is fine
