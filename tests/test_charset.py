"""Charset detection (reference DataUtil/Document charset handling):
BOM, <meta charset>, http-equiv content-type, UTF-8 default."""

import pytest

from swiftsoup_spark.api import decode_html, parse


def test_utf8_default():
    assert decode_html("héllo".encode("utf-8")) == "héllo"


def test_bom_utf8():
    assert decode_html(b"\xef\xbb\xbf<p>hi</p>") == "<p>hi</p>"


def test_bom_utf16():
    data = "<p>hi</p>".encode("utf-16")
    assert decode_html(data) == "<p>hi</p>"


def test_meta_charset():
    html = '<html><head><meta charset="shift_jis"></head><body>こんにちは</body></html>'
    data = html.encode("shift_jis")
    assert "こんにちは" in decode_html(data)


def test_meta_http_equiv():
    html = ('<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=gb2312"></head><body>你好</body></html>')
    data = html.encode("gb2312")
    doc = parse(data)
    assert doc.text() == "你好"


def test_malformed_meta_charset():
    # charset in malformed meta (HtmlParserTest testfindsCharsetInMalformedMeta)
    doc = parse("<meta http-equiv=Content-Type content=text/html; charset=gb2312>")
    assert doc.select("meta")[0].attr("charset") == "gb2312"


def test_invalid_bytes_replaced():
    data = b"<html><body>ok \xff</body></html>"
    doc = parse(data)
    assert "ok" in doc.text()


def test_unknown_charset_falls_back():
    data = b'<meta charset="not-a-charset"><p>x</p>'
    assert "<p>x</p>" in decode_html(data)


def test_idna_label_falls_back_to_utf8():
    # the idna codec rejects the "replace" handler (UnicodeError)
    data = '<meta charset="idna"><p>café</p>'.encode("utf-8")
    assert decode_html(data) == data.decode("utf-8")


def test_punycode_label_falls_back_to_utf8():
    # punycode raises on non-ASCII bytes and yields "" for ASCII ones
    for body in ("<p>café</p>", "<p>ascii</p>"):
        data = ('<meta charset="punycode">' + body).encode("utf-8")
        assert decode_html(data) == data.decode("utf-8")


# --- the sniff's edges, as decode_html reads them today (the UTF-8 gate
# in kernel/_fastpath.c must reproduce each one) ---

def test_meta_label_cut_by_the_head():
    # only the first 1,024 bytes are sniffed: "iso-8859-15" cut after
    # its "1" reads as iso-8859-1 (0xa4 is "¤" there, "€" in -15)
    tag = b'<meta charset="iso-8859-15">'
    pad = b" " * (1024 - tag.index(b"15") - 1)
    data = pad + tag + b"<p>\xa4</p>"
    assert data[:1024].endswith(b"iso-8859-1")
    assert decode_html(data) == data.decode("iso-8859-1")
    assert "¤" in decode_html(data)
    assert decode_html(data[len(pad):]) == data[len(pad):].decode("iso-8859-15")


def test_gt_between_meta_and_charset():
    # the tag ends before "charset": no label, UTF-8
    data = '<meta name="x"> charset=iso-8859-1 <p>café</p>'.encode("utf-8")
    assert decode_html(data) == data.decode("utf-8")


def test_charset_in_a_non_meta_tag():
    data = '<p charset="iso-8859-1">café</p>'.encode("utf-8")
    assert decode_html(data) == data.decode("utf-8")


def test_second_meta_carries_the_label():
    data = ('<meta name="viewport" content="w"><meta charset="iso-8859-1">'
            '<p>café</p>').encode("latin-1")
    assert decode_html(data) == data.decode("latin-1")


def test_upper_case_charset():
    data = '<META CHARSET="ISO-8859-1"><p>café</p>'.encode("latin-1")
    assert decode_html(data) == data.decode("latin-1")


def test_utf8_bom_wins_over_meta_label():
    body = '<meta charset="iso-8859-1"><p>café</p>'.encode("utf-8")
    assert decode_html(b"\xef\xbb\xbf" + body) == body.decode("utf-8")


def test_utf16_label_without_bom():
    # pinned as it is: a closed WHATWG label table would read this page
    # as UTF-8 instead
    data = b'<meta charset="utf-16"><p>x</p>'
    assert decode_html(data) == data.decode("utf-16", "replace")
    assert decode_html(data) != data.decode("utf-8")


@pytest.mark.parametrize("label, body", [
    ("utf-7", b"+2AA-"),
    ("unicode_escape", rb"\ud800"),
    ("raw_unicode_escape", rb"\ud800"),
], ids=["utf-7", "unicode_escape", "raw_unicode_escape"])
def test_label_decoding_to_a_lone_surrogate_falls_back_to_utf8(label, body):
    # each codec reads body as a lone U+D800, which no UTF-8 consumer
    # can encode: the label counts as failed
    data = b'<meta charset="' + label.encode() + b'"><p>' + body + b"</p>"
    assert decode_html(data) == data.decode("utf-8", "replace")
