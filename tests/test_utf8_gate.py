"""The UTF-8 gate over binary html (``fastpath.utf8_gate``) and tier 1
reading the accepted docs in place. The oracle is Python: a doc the
gate accepts must decode (``api.decode_html``) to exactly its bytes read
as UTF-8, and ``extract._extract_column`` over a binary column must give
the rows it gives over the same pages decoded into a string column."""

import codecs
import os
import random
import sys
from encodings.aliases import aliases

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftsoup_spark.api import decode_html  # noqa: E402
from swiftsoup_spark.kernel import fastpath  # noqa: E402

pa = pytest.importorskip("pyarrow")

needs_c = pytest.mark.skipif(
    fastpath.get_module() is None, reason="native kernel unavailable")

BOM8 = b"\xef\xbb\xbf"
# every spelling of every codec the stdlib knows, and some it does not
LABELS = sorted({v for k, t in aliases.items() for v in (k, t)}
                | {v.replace("_", "-") for k, t in aliases.items()
                   for v in (k, t)}
                | {"utf-8", "x-user-defined", "not-a-charset", "utf-8x"})
TEXTS = ["café", "plain words", "日本語", "a &amp; b", "€ 5", "😀", "naïve"]
# invalid or odd UTF-8: lone/truncated continuation, overlong, surrogate,
# above U+10FFFF, a latin-1 byte, NUL
BAD = [b"\xff", b"\xc3", b"\xc0\xaf", b"\xed\xa0\x80", b"\xf4\x90\x80\x80",
       b"\xe2\x82", b"\xe9", b"\x80", b"\xf0\x9f\x98", b"\x00"]


def _case(label, rng):
    return "".join(c.upper() if rng.random() < 0.3 else c for c in label)


def _meta(label, rng):
    q = rng.choice(['"', "'", "", '" ', ' "'])
    sp = rng.choice(["", " ", "\t", "\n "])
    return rng.choice([
        f"<meta charset={q}{label}{q.strip()}>",
        f"<{_case('meta', rng)} {_case('charset', rng)}{sp}={sp}{q}{label}"
        f"{q.strip()}>",
        f'<meta http-equiv="Content-Type" content="text/html; '
        f'charset={label}">',
        f'<meta name="v" content="x"><meta charset="{label}">',
        f"<meta name=x> charset={label}",
        f"<p charset={label}>",
    ])


def _doc(rng):
    """Random page bytes: a BOM or none, a <meta> label or none (random
    case, every alias), UTF-8 text with invalid bytes mixed in, and
    sometimes padding that puts the label across byte 1,024."""
    label = _case(rng.choice(LABELS), rng)
    meta = _meta(label, rng) if rng.random() < 0.7 else ""
    text = [rng.choice(TEXTS).encode() for _ in range(rng.randint(1, 6))]
    if rng.random() < 0.35:
        text.insert(rng.randrange(len(text) + 1), rng.choice(BAD))
    body = (b"<div id=main><p>" + b" ".join(text) + b"</p><b>"
            + rng.choice(TEXTS).encode() + b"</b></div>tail")
    head = (b"<html><head>" + meta.encode() + b"<title>"
            + rng.choice(TEXTS).encode() + b"</title></head><body>")
    if meta and rng.random() < 0.2:     # the label ends near byte 1,024
        k = head.find(label.encode())
        if k >= 0:
            pad = 1024 - k - len(label) + rng.randint(-3, 3)
            head = b"<!--" + b" " * max(pad - 7, 0) + b"-->" + head
    prefix = rng.choice([b""] * 6 + [BOM8, b"\xff\xfe", b"\xfe\xff"])
    return prefix + head + body + b"</body></html>"


def _docs(seed, n):
    rng = random.Random(seed)
    return [None if rng.random() < 0.05 else _doc(rng) for _ in range(n)]


def _col(docs, typ, lo=0):
    """``docs`` as an Arrow array of ``typ``, sliced from ``lo`` when
    ``lo`` > 0 (non-zero offsets into the offsets and validity buffers)."""
    if lo:
        return pa.array([b"x"] * lo + docs, typ).slice(lo)
    return pa.array(docs, typ)


def _strings(docs):
    """The pages as the string path reads them: decoded, null as ""."""
    return pa.array([decode_html(d) if d is not None else "" for d in docs],
                    pa.string())


def test_labels_are_exactly_the_utf8_ones():
    """The gate's label table is every alias key or codec name, in either
    spelling, that ``codecs.lookup`` maps to utf-8, and nothing else."""
    want = set()
    for label in LABELS:
        try:
            if codecs.lookup(label).name == "utf-8" and label == label.lower():
                want.add(label.encode())
        except LookupError:
            pass
    got = set(fastpath.UTF8_LABELS)
    assert got == want
    assert {b"utf-8", b"utf8", b"utf_8", b"u8", b"cp65001"} <= got


@needs_c
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()],
                         ids=["binary", "large_binary"])
def test_gate_verdicts(typ):
    """Pages the gate must accept, with where their text starts, and
    pages it must refuse: every refusal class of the sniff."""
    body = "<p>café</p>".encode()
    cut = b"<meta charset=utf-8>"
    accept = {
        body: 0,
        BOM8 + body: 3,
        BOM8 + b'<meta charset="iso-8859-1">' + body: 3,
        b'<meta charset="utf-8">' + body: 0,
        b"<META CHARSET=UTF8>" + body: 0,
        b'<meta http-equiv="Content-Type" content="text/html; '
        b'charset=UTF-8">' + body: 0,
        b"<meta name=x> charset=latin-1 " + body: 0,
        b"<p charset=latin-1>" + body: 0,
        b"": 0,
        b" " * 2000 + b"<meta charset=latin-1>" + body: 0,   # past the head
        # within one tag the last "charset" wins (the greedy [^>]+)
        b"<meta charset=latin-1 x charset=utf-8>" + body: 0,
        b"<meta charset=><meta charset='utf-8'>" + body: 0,
    }
    for label in fastpath.UTF8_LABELS:
        accept[b'<meta charset="' + label + b'">' + body] = 0
    refuse = [
        b'<meta charset="iso-8859-1">' + "<p>café</p>".encode("latin-1"),
        b'<meta charset="iso-8859-1"><p>ascii only</p>',
        "<p>hi</p>".encode("utf-16"),
        "<p>hi</p>".encode("utf-16-be").join([b"\xfe\xff", b""]),
        b'<meta charset="utf-16"><p>x</p>',
        b'<meta charset="not-a-charset"><p>x</p>',
        b'<meta charset="idna"><p>x</p>',
        b" " * (1024 - cut.index(b"-8")) + cut + b"<p>x</p>",  # "utf" cut
        b"<p>a\x00b</p>",
        b"<meta charset=utf-8 x charset=latin-1><p>x</p>",
        b"<meta charset=><meta charset=latin-1><p>x</p>",
    ] + [b"<p>" + bad + b"</p>" for bad in BAD]
    docs = list(accept) + refuse + [None]
    gate = fastpath.utf8_gate(_col(docs, typ))
    assert list(gate.skip) == list(accept.values()) + [fastpath.REFUSED] * \
        len(refuse) + [0]
    assert sorted(gate.decoded) == list(range(len(accept), len(docs) - 1))
    for d, k in accept.items():
        assert decode_html(d) == d[k:].decode("utf-8"), d
    for i, d in gate.decoded.items():
        assert d == decode_html(docs[i])


@needs_c
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()],
                         ids=["binary", "large_binary"])
def test_gate_accepts_only_what_decodes_as_utf8(typ):
    """Fuzz: each accepted doc decodes to its bytes (from the gate's
    skip on) read as strict UTF-8; each refused one carries its
    ``decode_html`` text. Sliced arrays and nulls included."""
    docs = _docs(1, 3000)
    for lo in (0, 3):
        col = _col(docs, typ, lo)
        gate = fastpath.utf8_gate(col)
        n_ok = 0
        for i, d in enumerate(docs):
            if d is None:
                assert gate.skip[i] == 0 and gate.doc(col, i) == ""
            elif gate.skip[i] == fastpath.REFUSED:
                assert gate.decoded[i] == decode_html(d)
                assert gate.doc(col, i) == decode_html(d)
            else:
                n_ok += 1
                k = gate.skip[i]
                assert decode_html(d) == d[k:].decode("utf-8"), d
                assert gate.doc(col, i) == d[k:]
        # both verdicts are well represented, so neither side is vacuous
        assert 0.25 < n_ok / len(docs) < 0.85, n_ok


@needs_c
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()],
                         ids=["binary", "large_binary"])
def test_tier1_over_binary_matches_string_path(typ):
    """``batch_doc_text`` over the binary buffers gives the rows and the
    bail set it gives over the decoded string column, so tier 1 accepts
    the same docs either way."""
    docs = _docs(2, 2000)
    want = fastpath.batch_doc_text(_strings(docs), "main")
    for lo in (0, 5):
        got = fastpath.batch_doc_text(_col(docs, typ, lo), "main")
        assert got[2] == want[2]
        assert got[0].to_pylist() == want[0].to_pylist()
        assert got[1].to_pylist() == want[1].to_pylist()


@needs_c
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()],
                         ids=["binary", "large_binary"])
def test_extract_column_matches_decoded_string_path(typ):
    """Every row of ``_extract_column`` over binary html equals the row
    over the decoded string column: no scope, ``#main`` and a selector
    scope, with and without metrics, over whole and sliced arrays."""
    from swiftsoup_spark.spark.extract import _extract_column

    docs = _docs(3, 1200)
    strs = _strings(docs)
    for lo in (0, 7):
        col = _col(docs, typ, lo)
        for scope in (None, "#main", "div b"):
            for metrics in (False, True):
                want = _extract_column(strs, scope, metrics)
                got = _extract_column(col, scope, metrics)
                assert len(got) == len(want)
                for g, w in zip(got, want):
                    assert g.to_pylist() == w.to_pylist(), (scope, metrics)


@needs_c
def test_string_column_with_nulls_reads_null_as_empty():
    """Tier 1 reads the validity buffer of a string column too: a null
    row is the empty page, as the per-doc path reads it."""
    from swiftsoup_spark.spark.extract import _extract_column

    html = ["<title>t</title><div id=main>x</div>", None, "<p>y</p>"]
    col = pa.array(html, pa.string())
    assert fastpath.batch_doc_text(col, "main") is not None
    want = _extract_column(pa.array([h or "" for h in html]), "#main")
    got = _extract_column(col, "#main")
    assert [a.to_pylist() for a in got] == [a.to_pylist() for a in want]
    assert got[0].to_pylist() == ["x", "", ""]


def test_lone_surrogate_page_fails_no_batch():
    """A page whose <meta charset> label decodes to a lone surrogate
    reads as UTF-8, and the rest of its binary batch extracts as usual."""
    from swiftsoup_spark.spark.extract import _extract_column

    html = [b'<meta charset="unicode_escape"><p>\\ud800</p>', b"<p>ok</p>"]
    got = _extract_column(pa.array(html, pa.binary()))
    assert got[0].to_pylist() == ["\\ud800", "ok"]
