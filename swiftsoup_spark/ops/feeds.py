"""RSS 2.0 / Atom feed-item extraction over a corpus of XML feeds.

Web crawls carry millions of syndication feeds; a training pipeline
flattens them to item rows (title / link / timestamp) for freshness
signals and URL discovery. This is the corpus-scale face of the XML
parse path (reference parity: XmlTreeBuilder.swift:19-193 semantics —
case-preserving tags, closest-match end tags — via our
kernel/xmlbuilder, plus selector + text reads):

* dialect sniff per document: ``<rss>``/``<channel><item>`` vs Atom
  ``<feed><entry>`` — both resolved with the same selector engine over
  the XML arena (namespace-free local names, preserve-case);
* RSS links are element TEXT (``<link>https://…</link>``), Atom links
  are the ``href`` ATTRIBUTE of ``<link …/>`` (a self-closing element)
  — the two value paths the formats actually differ on;
* timestamps: RSS ``pubDate`` text, Atom ``updated`` text, lifted
  verbatim (normalization is a downstream column op).

Scale shape: one fused scan→mapInArrow stage emitting per-feed arrays,
one JVM posexplode — no shuffle, no Python outside the Arrow batch.

Also ships the deterministic feed synthesizer (``synth_feed_table``)
used by the driver query: RSS on even doc_ids, Atom on odd, 1 + id%3
items each, entity-escaped titles — closed-form in SQL so the DuckDB
oracle replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from swiftsoup_spark.spark.worker import prelude

__all__ = ["feed_items", "synth_feed_table", "FEED_XML_SQL"]

# one shared SQL expression (Spark SQL == DuckDB dialect) rendering a
# deterministic feed per documents row: RSS 2.0 on even ids, Atom on odd
_N_ITEMS = "(1 + doc_id % 3)"
_RSS_ITEM = (
    "'<item><title>T ' || doc_id || '-' || i.n || ' &amp; more</title>"
    "<link>https://h' || ((doc_id + i.n) % 9) || '.test/a' || doc_id ||"
    " '-' || i.n || '</link>"
    "<pubDate>2026-01-0' || (1 + i.n) || '</pubDate></item>'"
)
_ATOM_ENTRY = (
    "'<entry><title>T ' || doc_id || '-' || i.n || ' &amp; more</title>"
    "<link href=\"https://h' || ((doc_id + i.n) % 9) || '.test/a' ||"
    " doc_id || '-' || i.n || '\"/>"
    "<updated>2026-01-0' || (1 + i.n) || '</updated></entry>'"
)


def _items_sql(body: str) -> str:
    # concatenate the per-item renders for i.n < n_items (max 3)
    return (" || ".join(
        f"CASE WHEN {n} < {_N_ITEMS} THEN "
        + body.replace("i.n", str(n)) + " ELSE '' END"
        for n in range(3)))


FEED_XML_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN "
    "'<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>"
    "<title>Feed ' || doc_id || '</title>' || "
    + _items_sql(_RSS_ITEM)
    + " || '</channel></rss>' ELSE "
    "'<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/2005/Atom\">"
    "<title>Feed ' || doc_id || '</title>' || "
    + _items_sql(_ATOM_ENTRY)
    + " || '</feed>' END"
)


def synth_feed_table(docs_df):
    """(doc_id, xml): deterministic RSS/Atom feeds off the documents
    table — the same SQL expression the DuckDB oracle renders."""
    return docs_df.selectExpr("doc_id", f"{FEED_XML_SQL} AS xml")


def feed_items(df, xml_col: str = "xml", keep_cols: tuple = ("doc_id",)):
    """-> (keep_cols..., item_idx, kind, title, link, ts): one row per
    feed item/entry in document order; kind is 'rss' or 'atom'."""
    import pyarrow as pa

    src = df.select(*keep_cols, xml_col)
    keep_fields = [f for f in src.schema.fields if f.name != xml_col]
    out_schema = T.StructType(keep_fields + [
        T.StructField("kinds", T.ArrayType(T.StringType())),
        T.StructField("titles", T.ArrayType(T.StringType())),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("tss", T.ArrayType(T.StringType()))])
    keep_names = [f.name for f in keep_fields]

    def batches(it):
        prelude()
        from pyspark.sql.pandas.types import to_arrow_type
        from swiftsoup_spark.kernel.arena import Element
        from swiftsoup_spark.kernel.xmlbuilder import XmlTreeBuilder
        from swiftsoup_spark.select.engine import select as sel

        tb = XmlTreeBuilder()
        out_types = [to_arrow_type(f.dataType)
                     for f in out_schema.fields[len(keep_names):]]

        def first_text(arena, nid, tag):
            for c in sel(arena, nid, f"> {tag}"):
                return Element(arena, c).text()
            return ""

        for batch in it:
            kinds, titles, links, tss = [], [], [], []
            for s in batch.column(xml_col).to_pylist():
                arena = tb.parse(s or "")
                k, t, l, ts = [], [], [], []
                for nid in sel(arena, 0, "rss > channel > item"):
                    k.append("rss")
                    t.append(first_text(arena, nid, "title"))
                    l.append(first_text(arena, nid, "link"))
                    ts.append(first_text(arena, nid, "pubDate"))
                for nid in sel(arena, 0, "feed > entry"):
                    k.append("atom")
                    t.append(first_text(arena, nid, "title"))
                    href = ""
                    for c in sel(arena, nid, "> link"):
                        href = (arena.attrs[c] or {}).get("href") or ""
                        break
                    l.append(href)
                    ts.append(first_text(arena, nid, "updated"))
                kinds.append(k)
                titles.append(t)
                links.append(l)
                tss.append(ts)
            cols = [batch.column(n) for n in keep_names]
            cols += [pa.array(v, type=ty)
                     for v, ty in zip((kinds, titles, links, tss), out_types)]
            yield pa.RecordBatch.from_arrays(
                cols, [f.name for f in out_schema.fields])

    out = src.mapInArrow(batches, out_schema)
    z = F.arrays_zip(F.col("kinds"), F.col("titles"),
                     F.col("links"), F.col("tss"))
    return (out.select(*keep_cols, F.posexplode(z).alias("item_idx", "z"))
            .select(*keep_cols, F.col("item_idx").cast("long"),
                    F.col("z.kinds").alias("kind"),
                    F.col("z.titles").alias("title"),
                    F.col("z.links").alias("link"),
                    F.col("z.tss").alias("ts")))
