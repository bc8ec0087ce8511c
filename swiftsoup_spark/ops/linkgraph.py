"""Host-level link-graph extraction: outlink edges and inbound anchors.

Both operators parse each page with the HTML kernel, select
``a[href]`` and resolve every href against the document base
(Node.absUrl semantics, ``<base href>`` honored), then aggregate to the
HOST level: hosts are ~10^7 where pages are ~10^12, so the kernel pass
is the only corpus-scale step. :func:`outlink_host_edges` yields
(src_host, dst_host, n_links, anchors) edges and
:func:`inbound_anchor_terms` the top anchor-text terms per target
host. Per-key state is bounded by a salted two-phase min-K, so a viral
edge or a host with millions of inbound terms never funnels into one
task.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def anchor_pairs(pages):
    """Kernel pass shared by the edge/anchor aggregations:
    (src_host, dst_host, anchor) per ``a[href]``, hrefs resolved
    against the document base (Node.absUrl semantics — <base href>
    honored), anchor text truncated to 64 chars BEFORE any shuffle so
    downstream aggregate state is byte-bounded. One fused mapInArrow
    stage + a linear explode; no shuffle happens here."""
    from pyspark.sql import types as T

    from swiftsoup_spark.spark.extract import apply_kernel, fast_parse
    from swiftsoup_spark.ops.hoststats import HOST_RE

    def row(tb, s, url):
        from swiftsoup_spark.kernel.arena import Element
        from swiftsoup_spark.select.engine import select as sel

        arena = fast_parse(tb, s)
        if not arena.base_uri:        # no <base href> -> page url is base
            arena.base_uri = url
        ids = sel(arena, 0, "a[href]")
        return ([Element(arena, i).abs_url("href") for i in ids],
                [arena.node_text(i) for i in ids])

    links = apply_kernel(
        pages, row,
        [T.StructField("hrefs", T.ArrayType(T.StringType())),
         T.StructField("texts", T.ArrayType(T.StringType()))],
        ctx_col="url")
    return (links
            .select("url", F.explode(F.arrays_zip("hrefs", "texts"))
                    .alias("l"))
            .select(F.regexp_extract("url", HOST_RE, 1).alias("src_host"),
                    F.regexp_extract(F.col("l.hrefs"), HOST_RE, 1)
                     .alias("dst_host"),
                    F.substring(F.col("l.texts"), 1, 64).alias("anchor"))
            .filter(F.col("dst_host") != ""))


def inbound_anchor_terms(pages, k: int = 3, salt: int = 8):
    """(dst_host, rank, term, n): the top-k inbound anchor-text TERMS
    per target host — what the rest of the web calls a site, the
    classic off-page relevance/spam signal (an SEO-stuffed host shows a
    term histogram its own content doesn't have).

    Scale shape: the kernel pass and explode are linear
    (:func:`anchor_pairs`); term counting is one (dst_host, term)
    groupBy with map-side partials; top-k per host is the salted
    two-phase min-K, so a host with 10^6 distinct inbound terms never
    funnels them into one task — phase-2 state is ≤ k·salt structs per
    host. Ties break (−n, term)."""
    terms = (anchor_pairs(pages)
             .select("dst_host",
                     F.explode(F.split("anchor", " ")).alias("term"))
             .filter(F.col("term") != "")
             .groupBy("dst_host", "term").agg(F.count("*").alias("n")))
    key = F.struct((-F.col("n")).alias("nn"), F.col("term").alias("t"))
    p1 = (terms.withColumn("__s", F.pmod(F.xxhash64("term"), F.lit(salt)))
          .groupBy("dst_host", "__s")
          .agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("t")))
    top = (p1.select("dst_host", F.explode("t").alias("t"))
           .groupBy("dst_host")
           .agg(F.slice(F.array_sort(F.collect_list("t")), 1, k)
                .alias("top")))
    return (top.select("dst_host", F.posexplode("top").alias("pos", "t"))
            .select("dst_host",
                    (F.col("pos") + 1).cast("long").alias("rank"),
                    F.col("t.t").alias("term"),
                    (-F.col("t.nn")).cast("long").alias("n")))


def outlink_host_edges(pages, k_anchors: int = 3, salt: int = 8):
    """Kernel-extracted host-graph edges with anchor-text summaries.

    The acquisition-side edge extraction: parse each page with the HTML
    kernel, select ``a[href]``, resolve each href against the document base
    (Node.absUrl semantics — <base href> honored), and aggregate to
    (src_host, dst_host, n_links, anchors) where ``anchors`` is the
    first ``k_anchors`` distinct anchor texts, lexicographic.

    Scale shape: the kernel pass is one fused mapInArrow stage emitting
    per-link (abs_href, anchor) array pairs; the explode is linear; the
    only shuffle is the (src,dst) groupBy. Anchor-text state is bounded
    by the salted two-phase min-K (a viral edge — every page of one CDN
    linking one tracker — never funnels its anchor list into one task);
    anchor text is truncated to 64 chars BEFORE the shuffle so the
    bounded state is also byte-bounded.
    """
    pairs = anchor_pairs(pages).withColumn(
        "s", F.pmod(F.xxhash64("src_host", "dst_host", "anchor"),
                    F.lit(salt)))
    part = pairs.groupBy("src_host", "dst_host", "s").agg(
        F.count("*").alias("n"),
        F.slice(F.array_sort(F.collect_set("anchor")), 1, k_anchors)
         .alias("a"))
    return (part.groupBy("src_host", "dst_host")
            .agg(F.sum("n").alias("n_links"),
                 F.concat_ws("|", F.slice(
                     F.array_sort(F.array_distinct(
                         F.flatten(F.collect_list("a")))), 1, k_anchors))
                 .alias("anchors")))
