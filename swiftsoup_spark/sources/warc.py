"""From-scratch WARC 1.0 reader/writer (ISO 28500; stdlib gzip/zlib
only) — the Common Crawl container format, so a crawl-scale pipeline
can read the real thing instead of pre-flattened parquet.

Layout follows Common Crawl's convention: each WARC record is its own
gzip member, so a ``.warc.gz`` is a concatenation of members and a
reader can seek to any record boundary independently. That framing is
what makes the format splittable in practice (CC publishes per-record
offsets in its index); here each FILE is one Spark task — files are
~1 GB at crawl scale, a good task granularity — and records stream out
of the member sequence without materializing the whole archive.

Spark integration: ``spark.read.format("binaryFile")`` over
``*.warc.gz`` (one row per archive) -> ``warc_pages`` explodes records
to (url, warc_ts, html) INSIDE an Arrow batch via mapInPandas — the
decompress + header-parse loop never leaves the executor, and the
output feeds ``spark.extract.extract_pages`` unchanged.

Only ``response`` records with an HTTP 200 status carry pages;
``warcinfo``/``request``/``metadata`` records are skipped, matching
how CC extraction pipelines consume the files.
"""

from __future__ import annotations

import gzip
import io
import zlib

from swiftsoup_spark.spark.worker import prelude

_CRLF2 = b"\r\n\r\n"


def build_warc_gz(records) -> bytes:
    """(url, iso_date, html_bytes) triples -> ``.warc.gz`` bytes, one
    gzip member per record (Common Crawl framing). Deterministic:
    fixed mtime=0, fixed header order, no WARC-Record-ID (optional per
    spec; omitted so output is seed-free)."""
    out = io.BytesIO()
    for url, date, body in records:
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=UTF-8\r\n"
                b"Content-Length: " + str(len(body)).encode()
                + b"\r\n\r\n" + body)
        hdr = ("WARC/1.0\r\n"
               "WARC-Type: response\r\n"
               f"WARC-Target-URI: {url}\r\n"
               f"WARC-Date: {date}\r\n"
               "Content-Type: application/http; msgtype=response\r\n"
               f"Content-Length: {len(http)}\r\n\r\n").encode()
        rec = hdr + http + _CRLF2
        gz = io.BytesIO()
        with gzip.GzipFile(fileobj=gz, mode="wb", mtime=0) as f:
            f.write(rec)
        out.write(gz.getvalue())
    return out.getvalue()


def _iter_members(data: bytes):
    """Yield decompressed gzip members from a multi-member stream; a
    non-gzip input yields itself once (plain .warc)."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        yield d.decompress(data[pos:])
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)


def iter_warc_records(data: bytes):
    """Yield (headers: dict, block: bytes) for every WARC record in a
    ``.warc(.gz)`` byte string. Handles one-record-per-member framing
    AND multiple records inside a single member (the spec allows both;
    non-CC writers produce the latter)."""
    for member in _iter_members(data):
        pos = 0
        n = len(member)
        while pos < n:
            # skip inter-record CRLFs
            while member[pos:pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            if not member.startswith(b"WARC/", pos):
                break  # trailing garbage: stop this member, never wrong
            hend = member.find(_CRLF2, pos)
            if hend < 0:
                break
            headers = {}
            for line in member[pos:hend].decode(
                    "utf-8", "replace").split("\r\n")[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            try:
                clen = int(headers.get("content-length", ""))
            except ValueError:
                break
            block = member[hend + 4:hend + 4 + clen]
            if len(block) != clen:
                break  # truncated record
            yield headers, block
            pos = hend + 4 + clen


def response_pages(data: bytes):
    """Yield (url, warc_date, html_bytes) for every HTTP-200 text
    response record."""
    for headers, block in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        be = block.find(_CRLF2)
        if be < 0:
            continue
        status = block[:block.find(b"\r\n")]
        if b" 200" not in status:
            continue
        yield (headers.get("warc-target-uri", ""),
               headers.get("warc-date", ""), block[be + 4:])


WARC_PAGE_SCHEMA = "url string, warc_date string, html string"


def warc_pages(archives_df, content_col: str = "content"):
    """DataFrame of raw archives (e.g. ``spark.read.format("binaryFile")
    .load("*.warc.gz")``) -> (url, warc_date, html) pages. The
    decompress/parse loop runs inside each Arrow batch; one archive row
    explodes to its record rows with no Spark-side explode."""
    def batches(it):
        prelude()
        import pandas as pd

        for pdf in it:
            out = {"url": [], "warc_date": [], "html": []}
            for data in pdf[content_col]:
                if data is None:
                    continue
                for url, date, body in response_pages(bytes(data)):
                    out["url"].append(url)
                    out["warc_date"].append(date)
                    out["html"].append(body.decode("utf-8", "replace"))
            yield pd.DataFrame(out)

    return archives_df.select(content_col).mapInPandas(
        batches, WARC_PAGE_SCHEMA)


def wet_records(extracted, ts_col: str = "ts_epoch"):
    """WET ("WARC Encapsulated Text") conversion-record formatting: the
    sink side of a Common-Crawl-style extraction job, which publishes
    extracted text as ``conversion`` records rather than parquet.

    Input: (url, text, ts_epoch) rows from ``extract_pages``; output
    (url, wet) where ``wet`` is the full record — header block
    (WARC/1.0, WARC-Type: conversion, target URI, date, Content-Type,
    octet-exact Content-Length) + blank line + the text payload.

    Pure JVM codegen over already-extracted columns (one projection,
    no shuffle, no Python); Content-Length counts UTF-8 octets, not
    chars, per the spec.
    """
    from pyspark.sql import functions as F

    crlf = "\r\n"
    return extracted.select(
        "url",
        F.concat(
            F.lit("WARC/1.0" + crlf),
            F.lit("WARC-Type: conversion" + crlf),
            F.lit("WARC-Target-URI: "), F.col("url"), F.lit(crlf),
            F.lit("WARC-Date: "),
            F.from_unixtime(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit(crlf),
            F.lit("Content-Type: text/plain" + crlf),
            F.lit("Content-Length: "),
            F.octet_length("text").cast("string"),
            F.lit(crlf + crlf),
            F.col("text")).alias("wet"))


def wet_records_sql(text_expr: str, url_expr: str, ts_expr: str,
                    docs_table: str = "documents") -> str:
    """DuckDB oracle for :func:`wet_records` over the synth corpus."""
    crlf = "chr(13) || chr(10)"
    return f"""
WITH x AS (SELECT {url_expr} AS url, {ts_expr} AS ts_epoch,
                  {text_expr} AS text FROM {docs_table})
SELECT url,
       'WARC/1.0' || {crlf} ||
       'WARC-Type: conversion' || {crlf} ||
       'WARC-Target-URI: ' || url || {crlf} ||
       'WARC-Date: ' ||
         strftime(make_timestamp(ts_epoch * 1000000),
                  '%Y-%m-%dT%H:%M:%SZ') || {crlf} ||
       'Content-Type: text/plain' || {crlf} ||
       'Content-Length: ' || octet_length(encode(text)) ||
       {crlf} || {crlf} || text AS wet
FROM x
"""
