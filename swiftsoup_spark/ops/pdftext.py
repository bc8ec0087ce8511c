"""PDF text extraction — the north rule's "PDF/layout parse" leg.

A from-scratch, pure-stdlib (zlib) PDF text extractor run as an Arrow-
batched ``mapInArrow`` kernel over a binary payload column — the same
zero-shuffle, column-pruned scan shape as the HTML extraction path. No
PDF library exists in this sandbox, so BOTH sides of the contract are
ours and honestly scoped:

  * ``build_mini_pdf`` — a deterministic writer that synthesizes small
    but structurally varied PDFs (Flate and raw streams, Tj / TJ-with-
    kerning / hex-string / octal-escape / quote-operator shows, one- and
    two-page layouts) from the ``documents`` table. It exists so the
    driver gate has a corpus: the DuckDB oracle states the expected text
    in closed form over ``documents`` and never needs to parse PDF.
  * ``extract_pdf_text`` — the parser: walks the object graph (Pages ->
    Kids -> Page -> Contents + Font resources; falls back to a raw
    stream scan when the structure isn't walkable), FlateDecodes, and
    interprets the text operators of every content stream (BT/ET, Tf
    font tracking, Tj, TJ with kerning-as-space, ', ", Td/TD/T*/Tm line
    tracking) with full literal-string escape decoding (\\n, \\( ,
    \\ddd octal, line continuations) and hex strings. Simple fonts use
    latin-1 byte semantics; Type0/CID composite fonts decode 2-byte
    codes through their ToUnicode CMap (bfchar + both bfrange forms,
    1-/2-byte codespaces, PDF 1.7 §9.10.3). Documented bails (text =
    None, never wrong bytes): encrypted PDFs, Type0 fonts without a
    usable ToUnicode, undecodable *needed* content streams — an
    unsupported filter on a stream no page references (JPEG images,
    font files) no longer poisons the document.

Layout model: shows accumulate into lines; a negative vertical move
(Td/TD/T*/Tm with decreasing y) or the ' / " operators start a new
line; pages join with a newline. That is the reading-order heuristic of
classic extractors, not full layout analysis — enough to invert any
writer that emits text top-to-bottom.

Scale: one fused Scan -> MapInArrow stage per batch of opaque binaries,
no shuffle, payload column pruned to (id, pdf); the kernel is pure
per-document so executor count scales linearly exactly like the HTML
path.
"""

from __future__ import annotations

import re
import zlib

from swiftsoup_spark.spark.worker import prelude

_WS = b" \t\r\n\f\0"
_DELIM = b"()<>[]{}/%"


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def _lit_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a literal string starting at ``data[i] == '('``; returns
    (decoded bytes, index after the closing paren)."""
    assert data[i:i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                            0x62: 8, 0x66: 12}[e])
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # \ddd octal, 1-3 digits
                j = i
                while j < n and j - i < 3 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: PDF spec says drop the backslash
                out.append(e)
                i += 1
            continue
        if c == 0x28:  # (
            depth += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(c)
        i += 1
    return bytes(out), i


def _hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    assert data[i:i + 1] == b"<"
    j = data.find(b">", i)
    if j < 0:
        j = len(data)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1:j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


def _content_tokens(data: bytes):
    """Tokenize a content stream: ('str', bytes) | ('num', float) |
    ('name', bytes) | ('op', bytes) | ('arr', open/close markers)."""
    i, n = 0, len(data)
    while i < n:
        c = data[i:i + 1]
        if c in _WS:
            i += 1
        elif c == b"%":
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == b"(":
            s, i = _lit_string(data, i)
            yield ("str", s)
        elif c == b"<":
            if data[i:i + 2] == b"<<":
                yield ("op", b"<<")
                i += 2
            else:
                s, i = _hex_string(data, i)
                yield ("str", s)
        elif c == b">" and data[i:i + 2] == b">>":
            yield ("op", b">>")
            i += 2
        elif c == b"[":
            yield ("arr", b"[")
            i += 1
        elif c == b"]":
            yield ("arr", b"]")
            i += 1
        elif c == b"/":
            j = i + 1
            while j < n and data[j:j + 1] not in _WS + _DELIM:
                j += 1
            yield ("name", data[i + 1:j])
            i = j
        else:
            j = i
            while j < n and data[j:j + 1] not in _WS + _DELIM:
                j += 1
            tok = data[i:j] or data[i:i + 1]
            if j == i:  # lone delimiter not handled above ({ })
                i += 1
            else:
                i = j
            try:
                yield ("num", float(tok))
            except ValueError:
                yield ("op", tok)


# TJ kerning more negative than this (thousandths of em) reads as a word
# space — the classic extractor heuristic.
_KERN_SPACE = -180.0


class _Bail(Exception):
    """Raised when a show uses a font whose text semantics we cannot
    recover (Type0 without ToUnicode) — the document extracts as NULL
    rather than wrong bytes."""


def _extract_stream_text(content: bytes, res_fonts=None) -> str:
    """Interpret one content stream's text operators -> extracted text.

    ``res_fonts`` maps resource names (b"F1") to None (simple font,
    latin-1 byte semantics), (cmap, nbytes) for Type0/CID fonts shown
    through their ToUnicode CMap, or 'bail'."""
    lines: list[list[str]] = [[]]
    stack: list = []
    cur_font: object = None

    def show(b: bytes):
        if cur_font == "bail":
            raise _Bail
        if cur_font is None:
            lines[-1].append(b.decode("latin-1"))
            return
        cmap, nbytes = cur_font
        out = []
        for k in range(0, len(b) - (len(b) % nbytes), nbytes):
            code = int.from_bytes(b[k:k + nbytes], "big")
            out.append(cmap.get(code, "�"))
        lines[-1].append("".join(out))

    def newline():
        lines.append([])

    in_array: list = []
    array_mode = False
    for kind, val in _content_tokens(content):
        if kind == "arr":
            if val == b"[":
                array_mode = True
                in_array = []
            else:
                array_mode = False
                stack.append(in_array)
            continue
        if array_mode:
            if kind in ("str", "num"):
                in_array.append((kind, val))
            continue
        if kind in ("str", "num", "name"):
            stack.append(val)
            continue
        op = val
        if op == b"Tj" and stack:
            v = stack.pop()
            if isinstance(v, bytes):
                show(v)
        elif op == b"TJ" and stack:
            arr = stack.pop()
            if isinstance(arr, list):
                for k, v in arr:
                    if k == "str":
                        show(v)
                    elif k == "num" and v <= _KERN_SPACE:
                        # synthesized word space — not font-encoded bytes,
                        # so it must not pass through the CID decode
                        lines[-1].append(" ")
        elif op == b"'" and stack:
            v = stack.pop()
            newline()
            if isinstance(v, bytes):
                show(v)
        elif op == b'"' and len(stack) >= 3:
            v = stack.pop()
            stack.pop()
            stack.pop()
            newline()
            if isinstance(v, bytes):
                show(v)
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            ty = stack.pop()
            stack.pop()
            if isinstance(ty, float) and ty < 0:
                newline()
        elif op == b"T*":
            newline()
        elif op == b"Tm" and len(stack) >= 6:
            ty = stack.pop()
            for _ in range(5):
                stack.pop()
            # a fresh text matrix starts a new line only if we already
            # emitted on the current one (first Tm of a block is setup)
            if lines[-1]:
                newline()
        elif op == b"Tf" and len(stack) >= 2:
            stack.pop()                      # size
            name = stack.pop()
            if res_fonts is not None and isinstance(name, bytes):
                cur_font = res_fonts.get(name)
        elif op in (b"BT", b"ET"):
            stack.clear()
        else:
            # unknown operator consumes nothing we track; clear operands
            stack.clear()
    text_lines = ["".join(parts) for parts in lines]
    # strip leading/trailing empty lines (quote-operator leading newline)
    while text_lines and not text_lines[0]:
        text_lines.pop(0)
    while text_lines and not text_lines[-1]:
        text_lines.pop()
    return "\n".join(text_lines)


_STREAM_DICT_RE = re.compile(rb"<<(?:[^<>]|<<[^<>]*>>)*>>\s*stream\r?\n",
                             re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode")
_OTHER_FILTER_RE = re.compile(
    rb"/Filter\s*(?:\[\s*)?/(?!FlateDecode)\w+")


# ---------------------------------------------------------------------------
# object graph + composite (Type0/CID) fonts
# ---------------------------------------------------------------------------

_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_KW_RE = re.compile(rb"stream\r?\n")


def _scan_objects(data: bytes):
    """Sequential object scan -> {num: (body, payload-or-None, ok)}.

    ``body`` is the object bytes up to ``stream``/``endobj`` (the dict
    for stream objects); ``payload`` is the decoded stream content, or
    None for non-stream objects; ``ok`` is False when the stream exists
    but could not be decoded (unsupported filter / corrupt Flate) — the
    caller bails only if it actually NEEDS that object, so a JPEG image
    stream no longer poisons a perfectly extractable document.

    Re-definitions overwrite (LAST occurrence wins): in incrementally
    updated PDFs the appended object body is the current one — PDF 1.7
    §7.5.6 incremental updates."""
    objs: dict[int, tuple[bytes, bytes | None, bool]] = {}
    pos = 0
    while True:
        m = _OBJ_HEAD_RE.search(data, pos)
        if not m:
            break
        num, start = int(m.group(1)), m.end()
        endobj = data.find(b"endobj", start)
        sm = _STREAM_KW_RE.search(data, start,
                                  endobj if endobj >= 0 else len(data))
        if not sm:
            body = data[start:endobj if endobj >= 0 else len(data)]
            objs[num] = (body, None, True)
            pos = endobj + 6 if endobj >= 0 else len(data)
            continue
        head = data[start:sm.start()]
        pstart = sm.end()
        lm = _LENGTH_RE.search(head)
        exact = False
        if lm:
            pend = pstart + int(lm.group(1))
            exact = data[pend:pend + 20].lstrip(b"\r\n ")[:9] == b"endstream"
            if not exact:
                pend = data.find(b"endstream", pstart)
        else:
            pend = data.find(b"endstream", pstart)
        if pend < 0:
            break
        payload = data[pstart:pend]
        if not exact:
            payload = payload.rstrip(b"\r\n")
        ok = True
        if _OTHER_FILTER_RE.search(head):
            payload, ok = None, False
        elif _FLATE_RE.search(head):
            try:
                payload = zlib.decompress(payload)
            except zlib.error:
                payload, ok = None, False
        objs[num] = (head, payload, ok)
        endobj = data.find(b"endobj", pend)
        pos = endobj + 6 if endobj >= 0 else pend + 9
    return objs


def _hex_tokens(section: bytes):
    """Token stream of a CMap section: ('hex', bytes) | ('arr', b'['/b']')."""
    for m in re.finditer(rb"<([0-9A-Fa-f \r\n]*)>|(\[)|(\])", section):
        if m.group(1) is not None:
            hx = re.sub(rb"\s", b"", m.group(1))
            if len(hx) % 2:
                hx += b"0"
            yield ("hex", bytes.fromhex(hx.decode("ascii")))
        else:
            yield ("arr", m.group(2) or m.group(3))


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return "�"


def _parse_cmap(data: bytes):
    """ToUnicode CMap -> (code->str mapping, bytes per code).

    Handles begincodespacerange (1- or 2-byte codes), beginbfchar, and
    both beginbfrange forms (incrementing dst and explicit dst array).
    Reference parity: SwiftSoup has no PDF layer; this follows the
    public PDF 1.7 spec §9.10.3 ToUnicode semantics."""
    mapping: dict[int, str] = {}
    nbytes = 2
    cs = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if cs:
        toks = [t for k, t in _hex_tokens(cs.group(1)) if k == "hex"]
        if toks:
            nbytes = max(1, min(2, len(toks[0])))
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = [t for k, t in _hex_tokens(m.group(1)) if k == "hex"]
        for src, dst in zip(toks[0::2], toks[1::2]):
            mapping[int.from_bytes(src, "big")] = _utf16be(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = list(_hex_tokens(m.group(1)))
        i = 0
        while i + 2 < len(toks) or (i + 2 == len(toks) and
                                    toks[i][0] == toks[i + 1][0] == "hex"):
            if toks[i][0] != "hex" or toks[i + 1][0] != "hex":
                i += 1
                continue
            lo = int.from_bytes(toks[i][1], "big")
            hi = int.from_bytes(toks[i + 1][1], "big")
            if i + 2 < len(toks) and toks[i + 2] == ("arr", b"["):
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != ("arr", b"]"):
                    if toks[j][0] == "hex" and code <= hi:
                        mapping[code] = _utf16be(toks[j][1])
                        code += 1
                    j += 1
                i = j + 1
            elif i + 2 < len(toks):
                dst = toks[i + 2][1]
                base = int.from_bytes(dst, "big")
                for code in range(lo, min(hi, lo + 65535) + 1):
                    off = base + (code - lo)
                    mapping[code] = _utf16be(
                        off.to_bytes(max(2, len(dst)), "big"))
                i += 3
            else:
                break
    return mapping, nbytes


_TOUNICODE_REF_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_CONTENTS_REF_RE = re.compile(
    rb"/Contents\s+(?:(\d+)\s+\d+\s+R|\[([^\]]*)\])")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_FONT_RES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_PAIR_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")


def _font_table(objs):
    """obj num -> None (simple font: latin-1 bytes) | (cmap, nbytes) for
    Type0 | 'bail' for Type0 without a usable ToUnicode."""
    fonts = {}
    for num, (body, _payload, _ok) in objs.items():
        if b"/Type" not in body or b"/Font" not in body:
            continue
        if b"/Subtype" in body and b"/Type0" in body:
            tu = _TOUNICODE_REF_RE.search(body)
            if not tu:
                fonts[num] = "bail"   # CID codes with no text semantics
                continue
            ref = int(tu.group(1))
            entry = objs.get(ref)
            if not entry or entry[1] is None:
                fonts[num] = "bail"
                continue
            fonts[num] = _parse_cmap(entry[1])
        else:
            fonts[num] = None
    return fonts


def _structured_pages_text(data: bytes) -> str | None:
    """Walk the object graph (Pages/Kids -> Page -> Contents + Font
    resources) and extract per-page text with per-font semantics —
    simple fonts as latin-1 bytes, Type0/CID fonts through their
    ToUnicode CMap. Returns None when the structure isn't walkable
    (caller falls back to the raw stream scan); raises _Bail when the
    document is walkable but its text is not recoverable (needed content
    stream undecodable, Type0 font without ToUnicode)."""
    objs = _scan_objects(data)
    if not objs:
        return None
    fonts = _font_table(objs)
    page_nums: list[int] = []
    for num, (body, _p, _ok) in objs.items():
        if b"/Kids" in body and re.search(rb"/Type\s*/Pages\b", body):
            km = _KIDS_RE.search(body)
            if km:
                page_nums = [int(g.group(1))
                             for g in _REF_RE.finditer(km.group(1))]
            break
    if not page_nums:
        page_nums = [num for num, (body, _p, _ok) in objs.items()
                     if re.search(rb"/Type\s*/Page\b(?!s)", body)]
    page_nums = [n for n in page_nums if n in objs]
    if not page_nums:
        return None
    out: list[str] = []
    for pn in page_nums:
        body = objs[pn][0]
        cm = _CONTENTS_REF_RE.search(body)
        if not cm:
            continue                      # page with no content stream
        refs = ([int(cm.group(1))] if cm.group(1)
                else [int(g.group(1))
                      for g in _REF_RE.finditer(cm.group(2))])
        res: dict[bytes, object] = {}
        fm = _FONT_RES_RE.search(body)
        if fm:
            for g in _FONT_PAIR_RE.finditer(fm.group(1)):
                res[g.group(1)] = fonts.get(int(g.group(2)))
        payloads = []
        for r in refs:
            entry = objs.get(r)
            if entry is None or entry[1] is None:
                raise _Bail            # content stream we cannot decode
            payloads.append(entry[1])
        content = b"\n".join(payloads)
        if b"BT" not in content:
            continue
        out.append(_extract_stream_text(content, res))
    if not out:
        return None
    return "\n".join(out)


def extract_pdf_text_bytes(data: bytes) -> str | None:
    """Extract reading-order text from one PDF, or None on a documented
    bail (not a PDF, encrypted, undecodable needed stream, Type0 font
    without a ToUnicode CMap). Composite (Type0/CID) fonts extract
    through their ToUnicode CMap; non-Flate filters on streams a page
    doesn't need (images, font files) no longer poison the document."""
    if not data or not data.startswith(b"%PDF-"):
        return None
    if b"/Encrypt" in data:
        return None
    try:
        structured = _structured_pages_text(data)
    except _Bail:
        return None
    if structured is not None:
        return structured
    # legacy fallback: scan every stream, simple-font semantics only
    pages: list[str] = []
    for m in _STREAM_DICT_RE.finditer(data):
        head, start = m.group(0), m.end()
        lm = _LENGTH_RE.search(head)
        exact = False
        if lm:
            end = start + int(lm.group(1))
            exact = data[end:end + 20].lstrip(b"\r\n ")[:9] == b"endstream"
            if not exact:
                end = data.find(b"endstream", start)  # wrong /Length
        else:
            end = data.find(b"endstream", start)  # indirect /Length
        if end < 0:
            return None
        payload = data[start:end]
        if not exact:
            # without a trusted /Length the newline before 'endstream' is
            # part of the file syntax, not the payload; with one, a
            # trailing 0x0A can be REAL compressed data — never strip it
            payload = payload.rstrip(b"\r\n")
        if _OTHER_FILTER_RE.search(head):
            return None  # LZW/DCT/... not supported: bail, don't guess
        if _FLATE_RE.search(head):
            try:
                payload = zlib.decompress(payload)
            except zlib.error:
                return None
        if b"BT" not in payload:
            continue  # not a text content stream (font file, image...)
        pages.append(_extract_stream_text(payload))
    if not pages:
        return None
    return "\n".join(pages)


# ---------------------------------------------------------------------------
# writer (corpus synthesizer for the driver gate + tests)
# ---------------------------------------------------------------------------

def _esc_lit(s: str) -> bytes:
    return (s.replace("\\", "\\\\").replace("(", "\\(")
             .replace(")", "\\)").encode("latin-1"))


def _octal_lit(s: str) -> bytes:
    return "".join(f"\\{ord(c):03o}" for c in s).encode("latin-1")


def _page_stream(body: bytes, flate: bool) -> bytes:
    payload = zlib.compress(body) if flate else body
    filt = b"/Filter /FlateDecode " if flate else b""
    return (b"<< " + filt + b"/Length " + str(len(payload)).encode()
            + b" >>\nstream\n" + payload + b"\nendstream")


def _u16hex(s: str) -> str:
    return s.encode("utf-16-be").hex().upper()


def _chunks(seq, n):
    for i in range(0, len(seq), n):
        yield seq[i:i + n]


def _build_tounicode(chars: list[str], use_ranges: bool) -> bytes:
    """ToUnicode CMap stream body for a dense CID assignment (char i ->
    CID i+1). ``use_ranges`` emits beginbfrange entries (incrementing
    runs where codepoints are consecutive, array-form singletons);
    otherwise beginbfchar pairs. Sections chunked at 100 entries per the
    PDF spec."""
    out = [b"/CIDInit /ProcSet findresource begin\n12 dict begin\n"
           b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
           b"endcodespacerange\n"]
    if not use_ranges:
        for chunk in _chunks(list(enumerate(chars)), 100):
            out.append(f"{len(chunk)} beginbfchar\n".encode())
            for i, c in chunk:
                out.append(f"<{i + 1:04X}> <{_u16hex(c)}>\n".encode())
            out.append(b"endbfchar\n")
    else:
        entries: list[bytes] = []
        i = 0
        while i < len(chars):
            j = i
            # runs of consecutive BMP codepoints; keep the incrementing
            # dst inside one low byte (conservative reader behavior)
            while (j + 1 < len(chars)
                   and ord(chars[j + 1]) == ord(chars[j]) + 1
                   and ord(chars[j + 1]) <= 0xFFFF
                   and (ord(chars[i]) & 0xFF) + (j + 1 - i) <= 0xFF):
                j += 1
            if j > i:
                entries.append(
                    f"<{i + 1:04X}> <{j + 1:04X}> "
                    f"<{ord(chars[i]):04X}>\n".encode())
            else:
                entries.append(
                    f"<{i + 1:04X}> <{i + 1:04X}> "
                    f"[<{_u16hex(chars[i])}>]\n".encode())
            i = j + 1
        for chunk in _chunks(entries, 100):
            out.append(f"{len(chunk)} beginbfrange\n".encode())
            out.extend(chunk)
            out.append(b"endbfrange\n")
    out.append(b"endcmap\nend\nend\n")
    return b"".join(out)


def _assemble(objs: list[bytes]) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def build_mini_pdf(text: str, variant: int) -> bytes:
    """Deterministic single-/two-page PDF whose extracted text is
    ``text`` (variant 3: ``text`` with the space at the word midpoint
    replaced by a newline — the page boundary).

    variant 0: Flate stream, one literal-string Tj
    variant 1: raw stream, TJ array with kerning numbers as the ONLY
               word separators (exercises kerning-as-space)
    variant 2: Flate stream, hex-string Tj
    variant 3: two raw pages: first all-octal-escape literal Tj, second
               shown with the ' (next-line show) operator
    variant 4: Type0/Identity-H composite font, 2-byte CIDs shown as one
               hex-string Tj, Flate ToUnicode CMap of beginbfchar pairs
               (full-unicode text: CIDs carry no latin-1 meaning)
    variant 5: Type0 font, TJ kerning word separators, raw ToUnicode
               CMap of beginbfrange entries (incrementing runs + array
               singletons)
    """
    variant %= 6
    if variant >= 4:
        prolog = b"BT /F1 12 Tf 72 720 Td "
        use_ranges = variant == 5
        if use_ranges:
            words = text.split(" ")
            chars = sorted(set("".join(words)))
            cid = {c: i + 1 for i, c in enumerate(chars)}
            shows = b" -250 ".join(
                b"<" + "".join(f"{cid[c]:04X}" for c in w).encode() + b">"
                for w in words)
            content = prolog + b"[" + shows + b"] TJ ET"
        else:
            chars = sorted(set(text))
            cid = {c: i + 1 for i, c in enumerate(chars)}
            hx = "".join(f"{cid[c]:04X}" for c in text).encode()
            content = prolog + b"<" + hx + b"> Tj ET"
        cmap = _build_tounicode(chars, use_ranges)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
            _page_stream(content, not use_ranges),
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
            b"/Encoding /Identity-H /DescendantFonts [6 0 R] "
            b"/ToUnicode 7 0 R >>",
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth >>",
            _page_stream(cmap, use_ranges),
        ]
        return _assemble(objs)
    prolog = b"BT /F1 12 Tf 72 720 Td "
    if variant == 3:
        words = text.split(" ")
        half = (len(words) + 1) // 2
        p1 = " ".join(words[:half])
        p2 = " ".join(words[half:])
        contents = [prolog + b"(" + _octal_lit(p1) + b") Tj ET"]
        if p2:
            contents.append(
                b"BT /F1 12 Tf 72 720 Td (" + _esc_lit(p2) + b") ' ET")
        flates = [False] * len(contents)
    elif variant == 1:
        parts = b" -250 ".join(
            b"(" + _esc_lit(w) + b")" for w in text.split(" "))
        contents = [prolog + b"[" + parts + b"] TJ ET"]
        flates = [False]
    elif variant == 2:
        hx = text.encode("latin-1").hex().encode("ascii")
        contents = [prolog + b"<" + hx + b"> Tj ET"]
        flates = [True]
    else:
        contents = [prolog + b"(" + _esc_lit(text) + b") Tj ET"]
        flates = [True]

    n_pages = len(contents)
    objs: list[bytes] = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append((f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                 ).encode())
    first_content = 3 + n_pages
    for i in range(n_pages):
        objs.append((f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                     f"/Contents {first_content + i} 0 R "
                     f"/Resources << /Font << /F1 {first_content + n_pages} "
                     f"0 R >> >> >>").encode())
    for body, fl in zip(contents, flates):
        objs.append(_page_stream(body, fl))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _assemble(objs)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def synthesize_pdfs(df, text_col: str = "text", id_col: str = "doc_id",
                    out_col: str = "pdf", keep_cols: tuple = (),
                    variant_base: int = 0, n_variants: int = 4):
    """(id, keep_cols..., pdf binary) — deterministic writer over the
    documents table; variant keyed on ``variant_base + id % n_variants``
    so every parser path is exercised (base 4, n 2 = the Type0/CID
    corpus). ``keep_cols`` ride the Arrow batches through (no join
    needed to re-attach them)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    keep = [c for c in keep_cols if c != id_col]
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in keep]
        + [T.StructField(out_col, T.BinaryType())])
    src = df.select(id_col, *keep, text_col)

    def batches(it):
        prelude()
        for batch in it:
            ids = batch.column(id_col)
            texts = batch.column(text_col)
            pdfs = [build_mini_pdf(t.as_py() or "",
                                   variant_base + i.as_py() % n_variants)
                    for i, t in zip(ids, texts)]
            yield pa.RecordBatch.from_arrays(
                [ids] + [batch.column(c) for c in keep]
                + [pa.array(pdfs, pa.binary())],
                [id_col] + keep + [out_col])

    return src.mapInArrow(batches, out_schema)


def extract_pdf_text(df, pdf_col: str = "pdf", id_col: str = "doc_id",
                     out_col: str = "text", keep_cols: tuple = ()):
    """(id, keep_cols..., text) — Arrow-batched PDF text extraction;
    unparseable documents yield NULL (documented bails, never wrong
    text)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    keep = [c for c in keep_cols if c != id_col]
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in keep]
        + [T.StructField(out_col, T.StringType())])
    src = df.select(id_col, *keep, pdf_col)

    def batches(it):
        prelude()
        for batch in it:
            ids = batch.column(id_col)
            pdfs = batch.column(pdf_col)
            texts = [extract_pdf_text_bytes(p.as_py()) for p in pdfs]
            yield pa.RecordBatch.from_arrays(
                [ids] + [batch.column(c) for c in keep]
                + [pa.array(texts, pa.string())],
                [id_col] + keep + [out_col])

    return src.mapInArrow(batches, out_schema)
