"""Mojibake detection + repair (ftfy-style double-encoding fix).

A measurable slice of crawled web text is UTF-8 that was mis-decoded as
Latin-1 / Windows-1252 somewhere upstream ("cafÃ©" for "café",
"â€™" for "’"). The repair is the inverse transform:
re-encode the characters back to the single bytes they came from
(Latin-1 first — total over U+00FF — then CP1252 for the euro/quote
punctuation block) and strictly re-decode as UTF-8. STRICT decode is
the safety: genuine Latin text ("café naïve") re-encodes to bytes
that are NOT valid UTF-8, so the fix refuses and the row passes through
untouched — the transform only fires when the bytes prove the
hypothesis. Up to 3 rounds handles doubly-mangled text.

Detection gate: a lead char in U+00C2–U+00EF followed by a
continuation-range char (U+0080–U+00BF or the CP1252 punctuation set) —
the printable shadow of a UTF-8 lead/continuation byte pair. The gate
is a cheap pre-filter; correctness rests on the strict round-trip.

Scale shape: one ``mapInArrow`` stage over the text column — same fused
no-shuffle contract as every kernel op; the regex gate means clean
(overwhelmingly ASCII) corpora pay one scan and zero encodes.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from swiftsoup_spark.spark.worker import prelude

__all__ = ["fix_text", "repair_mojibake"]

# chars CP1252 places in 0x80-0x9F (the non-Latin-1 continuation shadows)
_CP1252_PUNCT = "".join(
    c for b in range(0x80, 0xA0)
    if (c := bytes([b]).decode("cp1252", errors="ignore")))
_MARK = re.compile("[\\u00c2-\\u00ef][\\u0080-\\u00bf"
                   + re.escape(_CP1252_PUNCT) + "]")


# "sloppy windows-1252": cp1252 with its five undefined bytes passing
# through as the Latin-1 C1 controls — the de-facto decoder real systems
# mis-applied, so its inverse is the right re-encoder. One total map for
# bytes 0x00-0xFF; chars outside its image cannot have come from a
# single-byte misdecode, so encode refuses.
_SLOPPY_REV = {}
for _b in range(256):
    try:
        _c = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        _c = chr(_b)
    _SLOPPY_REV[_c] = _b


def _reencode(s: str):
    try:
        return bytes(_SLOPPY_REV[c] for c in s)
    except KeyError:
        return None


def fix_text(s: str):
    """-> (fixed_text, was_mojibake). Pure function, row-level."""
    fixed = False
    for _ in range(3):
        if not s or not _MARK.search(s):
            break
        b = _reencode(s)
        if b is None:
            break
        try:
            t = b.decode("utf-8")
        except UnicodeDecodeError:
            break
        if t == s:
            break
        s, fixed = t, True
    return s, fixed


def repair_mojibake(df, text_col: str = "text", out_col: str = "text_fixed",
                    flag_col: str = "was_mojibake"):
    """Append (out_col, flag_col); all input columns pass through."""
    import pyarrow as pa

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.StringType()),
           T.StructField(flag_col, T.BooleanType())])
    names = df.columns

    def batches(it):
        prelude()
        for batch in it:
            fixed, flags = [], []
            for s in batch.column(text_col).to_pylist():
                t, f = fix_text(s or "")
                fixed.append(t)
                flags.append(f)
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in names]
                + [pa.array(fixed, type=pa.string()),
                   pa.array(flags, type=pa.bool_())],
                names + [out_col, flag_col])

    return df.mapInArrow(batches, out_schema)
