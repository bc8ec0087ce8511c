"""Public per-document API, mirroring the reference's SwiftSoup.swift
entry points (parse / parseBodyFragment / clean / isValid) over the arena
kernel. This is the surface the pytest parity fixtures exercise; the Spark
layer calls the same kernel per Arrow batch."""

from __future__ import annotations

import codecs
import re

from swiftsoup_spark.kernel.arena import Arena, Document, Element, ELEMENT
from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
from swiftsoup_spark.kernel.xmlbuilder import XmlTreeBuilder


def parse(html: str | bytes, base_uri: str = "",
          max_errors: int = 0) -> Document:
    """SwiftSoup.parse: sniffs a leading ``<?xml`` to pick the XML parser
    (reference SwiftSoup.swift:20-43,235-254). ``max_errors`` > 0 turns
    on bounded positioned error tracking (reference
    Parser.setTrackErrors, Parser.swift:69-90); read results from
    ``doc.errors()``."""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(bytes(html))
    if html.lstrip()[:5] == "<?xml":
        return parse_xml(html, base_uri)
    return parse_html(html, base_uri, max_errors=max_errors)


def parse_html(html: str, base_uri: str = "", max_errors: int = 0,
               settings=None) -> Document:
    """``settings``: a ``kernel.tokenizer.ParseSettings`` (e.g.
    ``PRESERVE_CASE``) — reference Parser.settings().

    Default parses (no error tracking, HTML default settings) ride the
    C arena builder (kernel/fastpath.build_arena, byte-identical to the
    Python kernel by differential fuzzing) with per-document fallback."""
    if max_errors == 0 and settings is None:
        from swiftsoup_spark.kernel.fastpath import build_arena
        arena = build_arena(html, base_uri=base_uri, track_spans=True)
        if arena is not None:
            return Document(arena, 0)
    arena = HtmlTreeBuilder(max_errors=max_errors,
                            settings=settings).parse(html, base_uri)
    return Document(arena, 0)


def parse_xml(xml: str, base_uri: str = "") -> Document:
    arena = XmlTreeBuilder().parse(xml, base_uri)
    return Document(arena, 0)


def parse_fragment(html: str, context: str | None = "body", base_uri: str = "") -> list:
    """Fragment parse; returns root-level nodes (reference Parser.parseFragment)."""
    arena, ids = HtmlTreeBuilder().parse_fragment(html, context, base_uri)
    from swiftsoup_spark.kernel.arena import _wrap
    return [_wrap(arena, i) for i in ids]


def parse_body_fragment(html: str, base_uri: str = "") -> Document:
    """Parse body HTML into a shell document (reference Parser.parseBodyFragment)."""
    from swiftsoup_spark.kernel.fastpath import build_body_fragment
    arena = build_body_fragment(html, base_uri)
    if arena is None:
        arena, _ = HtmlTreeBuilder().parse_fragment(html, "body", base_uri)
    root = arena.children[0][0]  # the fragment <html> root
    frag = list(arena.children[root])
    arena.children[root] = []
    head = arena.new_element("head")
    body = arena.new_element("body")
    arena.append_child(root, head)
    arena.append_child(root, body)
    for nid in frag:
        arena.parent[nid] = -1
        arena.append_child(body, nid)
    # the shell restructure reparents the fragment under a synthesized
    # body: the document-level source-splice path must not emit the bare
    # fragment source (the reference's shell document carries no
    # sourceBuffer, Document.createShell); per-node raw slices on the
    # moved-but-unchanged fragment elements remain valid
    arena.mark_dirty(root)
    return Document(arena, 0)


_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I)
_SURROGATE = re.compile("[\ud800-\udfff]")


def decode_html(data: bytes) -> str:
    """Charset detection: BOM, then <meta charset>/http-equiv sniff in the
    first 1024 bytes, defaulting to UTF-8 (reference Document charset
    handling / DataUtil)."""
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", "replace")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16", "replace")
    head = data[:1024]
    m = _META_CHARSET.search(head)
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        # idna/punycode are hostname codecs, not charsets: idna rejects
        # the "replace" handler and punycode yields "" for ASCII input.
        # Any label that fails to decode falls back to the default too,
        # so one bad page cannot fail a job. utf-7 and the
        # (raw_)unicode_escape codecs can yield a lone surrogate, which
        # no UTF-8 consumer can encode: that decode fails as well. A
        # UTF-8 decode with "replace" never yields one, so it is not
        # searched.
        if enc not in ("idna", "punycode"):
            try:
                text = data.decode(enc, "replace")
            except (LookupError, ValueError):
                pass
            else:
                if (codecs.lookup(enc).name == "utf-8"
                        or not _SURROGATE.search(text)):
                    return text
    return data.decode("utf-8", "replace")


def clean(body_html: str, whitelist=None, base_uri: str = "", output_settings=None) -> str:
    """SwiftSoup.clean equivalent (reference SwiftSoup.swift:392-447)."""
    from swiftsoup_spark.clean.cleaner import clean_html
    return clean_html(body_html, whitelist, base_uri, output_settings)


def is_valid(body_html: str, whitelist=None) -> bool:
    from swiftsoup_spark.clean.cleaner import is_valid_html
    return is_valid_html(body_html, whitelist)


def main_content(doc: Document) -> Element:
    """Main-content container by DOM heuristics (readability-style
    link-density scoring; see ops/maincontent.py) — the no-CSS-scope
    way to get the article body: ``main_content(doc).text()``."""
    from swiftsoup_spark.kernel.arena import Element as _El
    from swiftsoup_spark.ops.maincontent import main_content_node
    return _El(doc.arena, main_content_node(doc.arena))
