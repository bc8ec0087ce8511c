"""Compiled fast paths: two native engines over one tag/entity registry.

1. **Streaming extractor** — ``doc_text(html) -> (text, title) | None``:
   fused single-pass parse+text (fastest path; ~250-280 MB/s/core).
   Bails on constructs that reorder emitted text (see ``BAIL_TAGS``
   plus ``_fastpath.c``'s header: NUL bytes, a residue of
   adoption-agency repairs, Noah's-ark evictions) — since round 3 the
   bail target is the ARENA TIER below, not Python.
2. **Arena builder** — ``build_arena(html) -> Arena | None``: the full
   23-insertion-mode tree builder in C, materializing the Python
   kernel's flat arena column-for-column (real adoption agency /
   foster parenting / frameset; non-ASCII names via the exact CPython
   ``str.lower``). Serves the selector/clean/metrics operators, the
   public parse API, body fragments (the Cleaner), and
   ``arena_doc_text`` (text via a C ``node_text`` walk) — the
   streaming extractor's bail absorber. Bails only on NUL bytes,
   >64 distinct unknown tags and >2048-deep stacks; the Python kernel
   is then the final fallback, byte-identical either way
   (tests/test_fastpath.py, tests/test_arena_build.py; ~1M-doc
   cumulative differential campaigns, 0 mismatches).
3. **Main-content heuristic** — ``main_content_text(html) -> str |
   None``: ``ops/maincontent.main_content_text`` scored on the C arena
   (candidates, anchor link lengths, first max wins, ``<body>``/root
   fallback); only the winner's text is encoded as a ``str``. Bails
   where the arena builder does (tests/test_maincontent.py).
4. **UTF-8 gate** — ``utf8_gate(binary_array) -> Utf8Gate``: per doc of
   a binary batch, whether ``api.decode_html`` would read it as plain
   UTF-8 (BOM and ``<meta charset>`` sniffed as it sniffs them, bytes
   validated). Tier 1 and the arena tier read the accepted docs straight
   from their bytes; only refused docs are decoded in Python
   (tests/test_utf8_gate.py).

The C source is compiled once per machine with the system gcc into the
package directory (or ``~/.cache`` if read-only); compilation results
are process-cached. Everything degrades gracefully to the pure-Python
kernel when no compiler is available, so the package stays dependency-
free. On a multi-node cluster, ship the prebuilt wheel (the .so rides
along) or let each executor compile on first import — both work
because the build is hermetic (stdlib headers only).

Tag dispatch sets are exported from the *treebuilder's own constants*
so the C kernel can never drift from the Python kernel's tag tables.
"""

from __future__ import annotations

import importlib.util
import os
import re
import subprocess
import sysconfig
import tempfile

_WS_RUN = re.compile(r"[ \t\n\f\r\xa0]+")
_ASCII_WS = " \t\n\f\r"

# ---- flag bits: MUST match _fastpath.c -----------------------------------
F_BLOCK = 1 << 0
F_PRESERVE = 1 << 1
F_VOID = 1 << 2
F_SPECIAL = 1 << 3
F_BAIL = 1 << 4
F_PCLOSER = 1 << 5
F_HEADING = 1 << 6
F_DDDT = 1 << 7
F_FORMATTER = 1 << 8
F_APPLET = 1 << 9
F_EMPTYFMT = 1 << 10
F_MEDIA = 1 << 11
F_TOHEAD = 1 << 12
F_ENDCLOSER = 1 << 13
F_SCOPEBASE = 1 << 14
F_IMPLIED = 1 << 15
F_LIBREAK = 1 << 16
F_DROP = 1 << 17
F_LISTEXTRA = 1 << 18
F_AHTOHEAD = 1 << 19
F_FORMLISTED = 1 << 20

# constructs the streaming pass cannot mirror -> per-document fallback.
# svg/math are NOT here: the reference (and therefore the Python kernel)
# has no ForeignContent mode — both parse svg/math subtrees as regular
# HTML through the generic insert (reference
# HtmlTreeBuilderState.swift:2436-2439 stub), which the generic C branch
# mirrors exactly (differential-fuzzed).
# table is NOT here since round 2: the C pass implements the table
# insertion modes (InTable..InCell) and bails only when content would
# FOSTER-PARENT (non-ws text / non-table elements in table context,
# which re-home before the table and reorder emission).
BAIL_TAGS = frozenset("frameset plaintext".split())

# after-head head-re-entry set (treebuilder._after_head error branch)
AFTERHEAD_TOHEAD = frozenset(
    "base basefont bgsound link meta noframes script style title".split())


def _tag_table() -> list[tuple[bytes, int]]:
    from swiftsoup_spark.kernel import tags as TG
    from swiftsoup_spark.kernel import treebuilder as TB

    names: set[str] = set(TG.TAG_NAMES)
    names |= TB.SPECIAL | TB.IN_BODY_START_P_CLOSERS | TB.HEADINGS
    names |= TB.DD_DT | TB.FORMATTERS | TB.APPLETS | TB.EMPTY_FORMATTERS
    names |= TB.MEDIA | TB.IN_BODY_START_TO_HEAD | TB.IN_BODY_END_CLOSERS
    names |= TB.IMPLIED_END_TAGS | TB.IN_BODY_START_DROP
    names |= set(TB.SCOPE_BASE) | BAIL_TAGS | AFTERHEAD_TOHEAD
    names |= {"image", "ruby", "ol", "ul", "nobr", "noscript"}
    # arena-builder dispatch extras (well-known ids resolved at C init)
    names |= {"sarcasm", "frame", "frameset", "plaintext", "listing",
              "keygen", "col", "colgroup", "caption", "optgroup", "option"}
    names |= {"#root"}   # the document node's tag (Document IS an Element)

    block = set(TG.BLOCK_TAGS)
    out = []
    for name in sorted(names):
        f = 0
        if name in block:
            f |= F_BLOCK
        if name in TG.PRESERVE_WS_TAGS:
            f |= F_PRESERVE
        if name in TG.EMPTY_TAGS:
            f |= F_VOID
        if name in TB.SPECIAL:
            f |= F_SPECIAL
        if name in BAIL_TAGS:
            f |= F_BAIL
        if name in TB.IN_BODY_START_P_CLOSERS:
            f |= F_PCLOSER
        if name in TB.HEADINGS:
            f |= F_HEADING
        if name in TB.DD_DT:
            f |= F_DDDT
        if name in TB.FORMATTERS:
            f |= F_FORMATTER
        if name in TB.APPLETS:
            f |= F_APPLET
        if name in TB.EMPTY_FORMATTERS:
            f |= F_EMPTYFMT
        if name in TB.MEDIA:
            f |= F_MEDIA
        if name in TB.IN_BODY_START_TO_HEAD:
            f |= F_TOHEAD
        if name in TB.IN_BODY_END_CLOSERS:
            f |= F_ENDCLOSER
        if name in TB.SCOPE_BASE:
            f |= F_SCOPEBASE
        if name in TB.IMPLIED_END_TAGS:
            f |= F_IMPLIED
        if name in TB.IN_BODY_START_LI_BREAKERS:
            f |= F_LIBREAK
        if name in TB.IN_BODY_START_DROP:
            f |= F_DROP
        if name in ("ol", "ul"):
            f |= F_LISTEXTRA
        if name in AFTERHEAD_TOHEAD:
            f |= F_AHTOHEAD
        if name in TB.HtmlTreeBuilder.FORM_LISTED:
            f |= F_FORMLISTED
        out.append((name.encode(), f))
    return out


def _compile(src: str, so_path: str) -> bool:
    """gcc-compile the extension; atomic rename so concurrent Spark
    workers race benignly."""
    include = sysconfig.get_paths()["include"]
    fd, tmp = tempfile.mkstemp(suffix=".so", dir=os.path.dirname(so_path))
    os.close(fd)
    try:
        r = subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", f"-I{include}", src, "-o", tmp],
            capture_output=True, timeout=120)
        if r.returncode != 0:
            return False
        os.replace(tmp, so_path)
        return True
    except Exception:
        return False
    finally:
        if os.path.exists(tmp):
            try:
                os.unlink(tmp)
            except OSError:
                pass


def _load_native():
    here = os.path.dirname(os.path.abspath(__file__))
    src = os.path.join(here, "_fastpath.c")
    if not os.path.exists(src):
        return None
    suffix = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
    candidates = [os.path.join(here, "_fastpath" + suffix)]
    cache = os.path.join(os.path.expanduser("~"), ".cache",
                         "swiftsoup_spark_native")
    candidates.append(os.path.join(cache, "_fastpath" + suffix))
    src_mtime = os.path.getmtime(src)
    for so in candidates:
        if os.path.exists(so) and os.path.getmtime(so) >= src_mtime:
            break
    else:
        so = None
        for cand in candidates:
            d = os.path.dirname(cand)
            try:
                os.makedirs(d, exist_ok=True)
                if _compile(src, cand):
                    so = cand
                    break
            except OSError:
                continue
        if so is None:
            return None
    # module name must match the PyInit__fastpath export
    spec = importlib.util.spec_from_file_location("_fastpath", so)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_mod = None
_tried = False


def get_module():
    """The loaded+initialized C module, or None (pure-Python fallback)."""
    global _mod, _tried
    if _tried:
        return _mod
    _tried = True
    try:
        m = _load_native()
        if m is None:
            return None
        from swiftsoup_spark.kernel.entities import (
            ENT_NOSEMI, ENT_SEMI, _MAX_NAME)
        semi = [(k.encode(), v.encode("utf-8")) for k, v in ENT_SEMI.items()]
        nosemi = [(k.encode(), v.encode("utf-8"))
                  for k, v in ENT_NOSEMI.items()]
        table = _tag_table()
        m.init_tables(table, semi, nosemi, _MAX_NAME)
        if hasattr(m, "init_pyids"):
            from swiftsoup_spark.kernel.tags import GLOBAL_TAGS
            m.init_pyids([GLOBAL_TAGS.intern(nm.decode())
                          for nm, _ in table])
        _mod = m
    except Exception:
        _mod = None
    return _mod


_SIMPLE_ID_RE = re.compile(r"#[A-Za-z][\w-]*$")


def scope_to_id(css_scope: str | None) -> str | None:
    """The C fast path supports exactly '#<simple-id>' scopes (the
    production boilerplate-strip shape); anything else -> None (use the
    full selector engine)."""
    if css_scope and _SIMPLE_ID_RE.fullmatch(css_scope.strip()):
        return css_scope.strip()[1:]
    return None


def doc_text(html: str, scope_id: str | None = None) -> tuple[str, str] | None:
    """(text, title) via the C fast path, or None -> use the Python
    kernel. ``scope_id``: restrict text to the first element with that
    id (Element.text() of select('#id')[0]; "" when no match).
    Byte-identical to the kernel path on accepted documents."""
    m = get_module()
    if m is None:
        return None
    r = m.doc_text(html, scope_id)
    if r is None and hasattr(m, "arena_doc_text"):
        # 2nd tier: streaming bail -> materialize the arena in C and
        # walk node_text there (real adoption agency / foster / ark)
        r = m.arena_doc_text(html, scope_id)
    if r is None:
        return None
    text, title = r[0], r[1]
    return text, title if title is not None else ""


def arena_doc_text(html: str, scope_id: str | None = None):
    """(text, title, n_nodes, parse_errors) via the C arena builder
    only (the streaming-bail fallback tier), or None -> full Python
    kernel. ``n_nodes`` and ``parse_errors`` equal the Python kernel's
    ``len(arena.parent) - 1`` and ``arena.errors``."""
    m = get_module()
    if m is None or not hasattr(m, "arena_doc_text"):
        return None
    return m.arena_doc_text(html, scope_id)


_cand_tags = None


def main_content_text(html: str) -> str | None:
    """``ops/maincontent.main_content_text`` of the parsed ``html``,
    scored in C over the arena builder's tree, or None -> build the
    arena and score it in Python. The candidate tags are the names
    listed in ``maincontent.CANDIDATE_CSS``."""
    global _cand_tags
    m = get_module()
    if m is None or not hasattr(m, "main_content_text"):
        return None
    if _cand_tags is None:
        from swiftsoup_spark.ops.maincontent import CANDIDATE_CSS
        _cand_tags = tuple(t.strip().encode()
                           for t in CANDIDATE_CSS.split(","))
    try:
        return m.main_content_text(html, _cand_tags)
    except Exception:
        return None


def build_arena(html: str, base_uri: str = "", track_spans: bool = False):
    """Full DOM build via the C arena builder, or ``None`` -> use the
    Python kernel (``HtmlTreeBuilder().parse``).

    The C builder materializes the same flat arena the Python tree
    builder produces — parent/ntype/tag/text/attrs/children/
    selfclosing/quirks/errors/form_controls (+ src spans when
    requested) are list-for-list, dict-for-dict identical (enforced by
    tests/test_arena_build.py differential fuzzing). It bails (returns
    None) on NUL bytes, on more than 64 distinct unknown tags and on an
    open-element depth above 2,048 (``AB_MAXDEPTH``); otherwise only
    when an internal limit is hit (a name over 256 bytes, a full token
    or formatting queue) or an allocation fails. Non-ASCII tag and
    attribute names and the InHeadNoscript branch build in C. HTML
    default ParseSettings only."""
    return _build(html, base_uri, track_spans, False)


def build_body_fragment(html: str, base_uri: str = ""):
    """C-built equivalent of ``HtmlTreeBuilder().parse_fragment(html,
    'body')``: the arena's ``<html>`` root (children[0][0]) holds the
    fragment. None -> Python kernel."""
    return _build(html, base_uri, True, True)


def _build(html: str, base_uri: str, track_spans: bool, fragment: bool):
    m = get_module()
    if m is None or not hasattr(m, "build_arena"):
        return None
    try:
        r = m.build_arena(html, 1 if track_spans else 0, 1 if fragment else 0)
    except Exception:
        return None
    if r is None:
        return None
    (parent, ntype, tag, text, attrs, children, selfc, quirks, errors,
     base_href, formpairs, src_s, src_e, src_c, unk_nodes, npy) = r
    from swiftsoup_spark.kernel.arena import Arena
    a = Arena(None, base_uri)
    if unk_nodes:
        reg = a.tags
        for i in unk_nodes:
            tag[i] = reg.intern(tag[i])
    a.parent = parent
    a.ntype = ntype
    a.tag = tag
    a.text = text
    a.attrs = attrs
    a.children = children
    if track_spans:
        a.src_start = src_s
        a.src_end = src_e
        # raw-source serialization: close spans stamped by the C builder
        # (b_pop1/b_stamp_close, mirroring treebuilder.pop) plus the
        # decoded source enable the serializer's raw re-emit path
        a.src_close = src_c
        a.source = html
    else:
        a.src_start = [-1] * len(parent)
        a.src_end = [-1] * len(parent)
        a.src_close = [-1] * len(parent)
    a.selfclosing = set(selfc)
    for k in range(0, len(formpairs), 2):
        a.form_controls.setdefault(formpairs[k], []).append(formpairs[k + 1])
    if base_href is not None:
        from swiftsoup_spark.clean.whitelist import resolve_url
        a.base_uri = resolve_url(base_uri, base_href) or base_href
    a.quirks = quirks
    a.errors = errors
    if npy is not None and not fragment:
        # zero-copy selector columns (Ctx fast init); fragment parses
        # get restructured by the caller, so their order is stale
        import numpy as np
        w, ob, pb, tb_, gb = npy
        order_arr = np.frombuffer(ob, dtype=np.int32)[:w]
        parent_arr = np.frombuffer(pb, dtype=np.int64)
        ntype_arr = np.frombuffer(tb_, dtype=np.int8)
        tag_arr = np.frombuffer(gb, dtype=np.int32)
        if unk_nodes:
            tag_arr = tag_arr.copy()
            for i in unk_nodes:
                tag_arr[i] = tag[i]
        a.np_cols = (order_arr, parent_arr, ntype_arr, tag_arr)
    return a


def batch_md5_prefix64(col):
    """Per-string ``int.from_bytes(md5(s).digest()[:8], "big")`` over a
    ``pyarrow`` string array, computed in C over the raw Arrow buffers
    (the dedup operators' portable hash family). Returns a numpy uint64
    array, or ``None`` when the native module is unavailable / the
    array shape is unsupported — callers then hash in Python."""
    import numpy as np
    import pyarrow as pa

    m = get_module()
    if m is None or not hasattr(m, "batch_md5_prefix64"):
        return None
    typ = col.type
    if typ == pa.string():
        large = False
    elif typ == pa.large_string():
        large = True
    else:
        return None
    if col.null_count:
        return None
    bufs = col.buffers()          # [validity, offsets, data]
    if len(bufs) != 3 or bufs[1] is None:
        return None
    data = bufs[2] if bufs[2] is not None else b""
    raw = m.batch_md5_prefix64(data, bufs[1], len(col), col.offset, large)
    return np.frombuffer(raw, dtype=np.uint64)


def _arrow_buffers(col):
    """(data, offsets, validity, offset, large) of a ``pyarrow`` string,
    large_string, binary or large_binary array, validity ``b""`` when it
    has no nulls; None for any other type."""
    import pyarrow as pa

    if col.type not in (pa.string(), pa.large_string(), pa.binary(),
                        pa.large_binary()):
        return None
    valid, offs, data = col.buffers()
    return (data if data is not None else b"",
            offs if offs is not None else b"",
            valid if valid is not None and col.null_count else b"",
            col.offset, col.type in (pa.large_string(), pa.large_binary()))


def _str_buffers(col):
    """:func:`_arrow_buffers` of a string or large_string array; None for
    any other type."""
    import pyarrow as pa

    if not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
        return None
    return _arrow_buffers(col)


def batch_xxhash64_concat_ws(a, b):
    """Per row, Spark's ``xxhash64(concat_ws("\\0", a, b))`` over two
    equal-length ``pyarrow`` string arrays (nulls left out, as
    ``concat_ws`` does), computed in C over the raw Arrow buffers.
    Returns a numpy int64 array, or ``None`` when the native module is
    unavailable / a column is not a string array — callers then hash in
    Python."""
    import numpy as np

    m = get_module()
    if m is None or not hasattr(m, "batch_xxhash64_concat_ws"):
        return None
    ba, bb = _str_buffers(a), _str_buffers(b)
    if ba is None or bb is None or len(a) != len(b):
        return None
    raw = m.batch_xxhash64_concat_ws(*ba, *bb, len(a), 42)  # Spark's seed
    return np.frombuffer(raw, dtype=np.int64)


REFUSED = 255       # a utf8_gate outcome: the doc needs api.decode_html

def _utf8_labels() -> tuple[bytes, ...]:
    """Every lower-case charset label ``codecs.lookup`` maps to the
    ``utf-8`` codec: the codec name ``utf_8`` and its keys in
    ``encodings.aliases``, each spelled with ``_`` and with ``-``. Only
    the ``utf_8`` module is looked up, so no other codec module is
    imported (tests/test_utf8_gate.py checks the table against a lookup
    of every alias)."""
    import codecs
    from encodings.aliases import aliases

    names = {"utf_8"} | {k for k, v in aliases.items() if v == "utf_8"}
    return tuple(sorted(
        label.encode() for name in names
        for label in {name, name.replace("_", "-")}
        if codecs.lookup(label).name == "utf-8"))


# the only <meta charset> labels the UTF-8 gate accepts: api.decode_html
# reads a doc that carries one of them as UTF-8
UTF8_LABELS = _utf8_labels()


def _positions(buf: bytes, value: int) -> list[int]:
    """The indexes of the bytes of ``buf`` that equal ``value``."""
    out, i = [], buf.find(value)
    while i >= 0:
        out.append(i)
        i = buf.find(value, i + 1)
    return out


class Utf8Gate:
    """The C gate's verdict on one binary batch (:func:`utf8_gate`).

    ``skip[i]`` is where row ``i``'s UTF-8 text starts in its bytes (0, or
    3 after a UTF-8 BOM), or :data:`REFUSED`; ``decoded`` maps each
    refused row to its ``api.decode_html`` text, in row order."""

    __slots__ = ("skip", "decoded")

    def __init__(self, skip: bytes, decoded: dict):
        self.skip = skip
        self.decoded = decoded

    def doc(self, col, i: int):
        """Row ``i``'s document for the C tiers: its UTF-8 bytes, the
        decoded ``str`` of a refused row, or "" for a null."""
        s = self.decoded.get(i)
        if s is None:
            s = col[i].as_py()
            if s is None:
                return ""
            k = self.skip[i]
            if k:
                s = s[k:]
        return s


def utf8_gate(col) -> Utf8Gate | None:
    """Which docs of a ``pyarrow`` binary or large_binary array the C
    tiers can read straight from their bytes: those where
    ``api.decode_html(doc)`` is the doc's bytes read as UTF-8 (after a
    UTF-8 BOM, if any). One C call sniffs each doc as ``decode_html``
    does (BOM, then the ``<meta charset>`` label of the first 1,024
    bytes, which must be one of :data:`UTF8_LABELS`) and checks that the
    bytes are valid UTF-8 with no NUL. Only the refused docs are decoded,
    with ``api.decode_html`` looked up on its module per call. None for
    any other type, or without the native module."""
    m = get_module()
    if m is None or not hasattr(m, "utf8_gate"):
        return None
    import pyarrow as pa

    if not (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)):
        return None
    from swiftsoup_spark import api

    skip = m.utf8_gate(*_arrow_buffers(col), len(col), UTF8_LABELS)
    return Utf8Gate(skip, {i: api.decode_html(col[i].as_py())
                           for i in _positions(skip, REFUSED)})


def batch_doc_text(col, scope_id: str | None = None,
                   gate: Utf8Gate | None = None):
    """Tier 1, the C streaming extractor, over a whole ``pyarrow`` string,
    large_string, binary or large_binary array in one call; a null reads
    as "".

    A binary doc that ``gate`` (:func:`utf8_gate` of ``col``, computed
    here when not given) accepts is parsed straight from the Arrow
    buffers; a refused one from its ``api.decode_html`` text, which the
    gate holds. So tier 1 sees every doc as the string path would.

    Returns ``(text_array, title_array, bail_indices)`` where the arrays
    are Arrow string arrays built directly from C-produced buffers (no
    per-row Python objects), or ``None`` if the native module is
    unavailable or the column has another type or is too large — callers
    then take the per-document tiers. Rows listed in ``bail_indices``
    hold empty strings and must be recomputed by a later tier.
    """
    import pyarrow as pa

    m = get_module()
    bufs = _arrow_buffers(col)
    if m is None or bufs is None:
        return None
    skip = decoded = None
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        if gate is None:
            gate = utf8_gate(col)
            if gate is None:
                return None
        skip, decoded = gate.skip, list(gate.decoded.values())
    n = len(col)
    try:
        tdat, toff, ddat, doff, mask, n_bails = m.batch_extract(
            *bufs, n, scope_id, skip, decoded)
    except OverflowError:
        return None
    text_arr = pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(toff), pa.py_buffer(tdat)])
    title_arr = pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(doff), pa.py_buffer(ddat)])
    return text_arr, title_arr, _positions(mask, 1) if n_bails else []
