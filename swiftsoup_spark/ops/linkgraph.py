"""Host-level link-graph analytics: edge extraction + PageRank.

Crawl prioritization and spam filtering over a Common-Crawl-style corpus
run on the HOST graph (hosts are ~10^7 where pages are ~10^12, so the
iteration state fits comfortably while edge extraction is the only
corpus-scale pass).

PageRank here is *fixed-point deterministic*: ranks are BIGINT e12
(1.0 == 10^12) and each edge contribution is
``floor(((rank*damping) * (w / outw)) / 1000)`` — the only floating
step is a correctly-rounded per-edge IEEE multiply/divide written in
the identical operation order on both sides, and the summation that a
distributed engine reorders is over exact BIGINTs, so results are
bit-identical across partitionings, parallelism levels, AND the DuckDB
oracle (which replays the same iterations as unrolled CTEs). The
truncation loses < 1e-9 of mass per edge per iteration — irrelevant for
ranking, decisive for verifiability.

Scale notes: each iteration joins the edge list with the rank table on
src_host and aggregates by dst_host — two hash shuffles of the EDGE
table per iteration at worst; when the rank table fits executors (hosts
do), broadcasting it makes the join map-side and the per-iteration cost
one dst-keyed aggregate. Lineage is truncated per iteration
(localCheckpoint) exactly like ops/dedup.connected_components.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SCALE = 10 ** 12


def pagerank_fixedpoint(edges, iters: int = 5, damping_permille: int = 850,
                        checkpoint: bool = True, dangling: bool = True):
    """Weighted PageRank over (src_host, dst_host, w) edges.

    Returns (host, rank_e12). Every host present as src or dst is a
    node starting at rank 1.0 (= 10^12); per iteration
    ``rank' = (1000 - damping) * 10^9 + Σ_in floor(((rank * damping) *
    (w / outw)) / 1000) + share`` where ``share`` redistributes the
    damped mass of DANGLING hosts (no outlinks) uniformly — the
    standard correction, kept fixed-point exact: the dangling mass
    ``dm`` is summed as DECIMAL(38,0) (hosts * 10^12 can exceed int64)
    and the per-node share uses the exact split
    ``floor(dm*d/M) = (dm DIV M)*d + ((dm MOD M)*d) DIV M`` with
    ``M = 1000*n_nodes`` — every term int64-safe and identical in
    DuckDB HUGEINT arithmetic. The share is a one-row aggregate
    broadcast-crossed into the update (no driver collect, no extra
    shuffle of the edge table). ``dangling=False`` restores the
    leak-the-mass variant.
    """
    teleport = (1000 - damping_permille) * (SCALE // 1000)
    nodes = (edges.select(F.col("src_host").alias("host"))
             .unionByName(edges.select(F.col("dst_host").alias("host")))
             .distinct())
    outw = edges.groupBy("src_host").agg(F.sum("w").alias("outw"))
    ew = edges.join(outw, "src_host")
    rank = nodes.select("host", F.lit(SCALE).cast("long").alias("rank_e12"))
    if dangling:
        # hosts with no outgoing edges; their count is tiny next to the
        # corpus (host-graph scale), the anti-join is one broadcast.
        # Materialize ONCE (eager localCheckpoint) — the per-iteration
        # dangling-mass aggregate must not re-derive the edge pipeline
        # five times (measured 2.5x query wall without this).
        dang = nodes.join(
            F.broadcast(outw.select(F.col("src_host").alias("host"))),
            "host", "left_anti").localCheckpoint()
        if dang.count() == 0:
            # no dangling hosts -> the share is identically zero; skip
            # the per-iteration scalar reduce entirely (the common case
            # for pre-filtered host graphs). With dangling hosts the
            # correction costs one tiny reduce over the host-level rank
            # + a one-row broadcast per iteration — fixed job overhead
            # at toy scale, noise next to the edge join at 10^12 rows.
            dangling = False
        else:
            n_nodes = nodes.count()  # scalar, once (like CC convergence)
            m = 1000 * n_nodes
    for _ in range(iters):
        contrib = (ew.join(F.broadcast(rank),
                           F.col("src_host") == F.col("host"))
                   .select(F.col("dst_host"),
                           F.floor(((F.col("rank_e12") * damping_permille)
                                    * (F.col("w").cast("double")
                                       / F.col("outw"))) / 1000)
                           .cast("long").alias("c"))
                   .groupBy("dst_host").agg(F.sum("c").alias("c")))
        upd = nodes.join(contrib, nodes["host"] == contrib["dst_host"],
                         "left")
        if dangling:
            dm = (rank.join(F.broadcast(dang), "host")
                  .agg(F.coalesce(
                      F.sum(F.col("rank_e12").cast("decimal(38,0)")),
                      F.lit(0).cast("decimal(38,0)")).alias("dm")))
            share = (F.expr(f"CAST(dm DIV {m} AS BIGINT)")
                     * damping_permille
                     + F.expr(f"CAST(((dm % {m}) * {damping_permille})"
                              f" DIV {m} AS BIGINT)"))
            rank = (upd.crossJoin(F.broadcast(dm))
                    .select("host",
                            (F.lit(teleport) + F.coalesce("c", F.lit(0))
                             + share).cast("long").alias("rank_e12")))
        else:
            rank = upd.select(
                "host",
                (F.lit(teleport)
                 + F.coalesce("c", F.lit(0))).cast("long")
                .alias("rank_e12"))
        if checkpoint:
            # eager when the dangling aggregate will read this rank
            # next iteration (two consumers; lazy checkpointing would
            # let each trigger its own materialization), lazy otherwise
            rank = rank.localCheckpoint(eager=dangling)
    return rank


def pagerank_oracle_sql(edges_cte: str, iters: int = 5,
                        damping_permille: int = 850,
                        dangling: bool = True) -> str:
    """DuckDB replay of :func:`pagerank_fixedpoint` as unrolled CTEs.
    ``edges_cte`` must be a CTE body selecting (src_host, dst_host, w).
    Returns a full query ``WITH ... SELECT host, rank_e12``. The
    dangling share replays the identical integer split (DuckDB sums
    BIGINT into HUGEINT, so the DECIMAL(38) path maps to ``//``/``%``
    hugeint arithmetic).

    The ``r{i}`` CTEs are ``MATERIALIZED``: ``r{i+1}`` reads ``r{i}``
    twice (the rank join and the dangling mass), so an inlined chain
    grows exponentially with ``iters``."""
    teleport = (1000 - damping_permille) * (SCALE // 1000)
    d = damping_permille
    parts = [f"edges AS ({edges_cte})",
             "nodes AS (SELECT DISTINCT src_host AS host FROM edges "
             "UNION SELECT DISTINCT dst_host FROM edges)",
             "outw AS (SELECT src_host, SUM(w) AS outw FROM edges "
             "GROUP BY 1)",
             "nn AS (SELECT count(*) AS n FROM nodes)",
             "dang AS (SELECT host FROM nodes WHERE host NOT IN "
             "(SELECT src_host FROM outw))",
             f"r0 AS MATERIALIZED (SELECT host, CAST({SCALE} AS BIGINT) "
             f"AS rank_e12 FROM nodes)"]
    share = ""
    for i in range(iters):
        if dangling:
            share = f""" + (SELECT (dm // m) * {d} + ((dm % m) * {d}) // m
       FROM (SELECT coalesce((SELECT SUM(r.rank_e12) FROM r{i} r
                              JOIN dang USING (host)), 0) AS dm,
                    1000 * (SELECT n FROM nn) AS m))"""
        parts.append(f"""r{i + 1} AS MATERIALIZED (
  SELECT n.host,
         CAST({teleport} + coalesce(s.c, 0){share} AS BIGINT) AS rank_e12
  FROM nodes n LEFT JOIN (
    SELECT e.dst_host AS host,
           SUM(CAST(floor(((r.rank_e12 * {damping_permille})
                           * (CAST(e.w AS DOUBLE) / o.outw)) / 1000)
               AS BIGINT)) AS c
    FROM edges e
    JOIN r{i} r ON e.src_host = r.host
    JOIN outw o ON o.src_host = e.src_host
    GROUP BY 1) s ON n.host = s.host)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT host, rank_e12 FROM r{iters}")


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
    two-phase min-K (ops/search.bm25_topk pattern) so a host with 10^6
    distinct inbound terms never funnels them into one task — phase-2
    state is ≤ k·salt structs per host. Ties break (−n, term)."""
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

    The real acquisition-side edge extraction (vs. the formula edges the
    PageRank tests use): parse each page with the HTML kernel, select
    ``a[href]``, resolve each href against the document base
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
