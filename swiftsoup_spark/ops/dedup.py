"""Deduplication operators: exact, MinHash(+LSH banding), n-gram Jaccard,
SimHash.

Scale notes (the 100 TB design):
  * exact: one hash-partitioned groupBy on the fingerprint — map-side
    partial aggregation, no skew (md5 keys are uniform).
  * minhash: explode(word-set) is the only row-expansion; the k min()
    aggregations combine map-side, so shuffle volume is ~k hashes per doc.
  * LSH: band-bucket join replaces the quadratic all-pairs compare; buckets
    are md5 values → uniformly distributed join keys (no salting needed).
  * jaccard verify runs only on LSH candidates.
MinHash here uses portable md5-based hash family (min over md5(word||i)),
so a DuckDB oracle can replay signatures exactly.
"""

from pyspark.sql import functions as F

from swiftsoup_spark.spark.worker import prelude

K_MINHASH = 8
N_BANDS = 4  # bands of 2 rows over the 8-hash signature


def exact_dedup(df, text_col: str = "text"):
    """Representative doc per exact-duplicate group + group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_dupes"))
    )


def _word_set(df, text_col: str):
    return df.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"))


def minhash_signatures(df, text_col: str = "text", k: int = K_MINHASH):
    """k-permutation MinHash over the word set, portable hash family
    (min lexicographic md5(word || i))."""
    words = _word_set(df, text_col)
    aggs = [F.min(F.md5(F.concat(F.col("w"), F.lit(str(i))))).alias(f"h{i}")
            for i in range(k)]
    return words.groupBy("doc_id").agg(*aggs)


def _exact_collapse(df, text_col: str):
    """Collapse to one representative doc per exact text fingerprint.

    Returns ``(reps, members)`` where ``members`` has columns
    ``(fp, doc_id, rep, gsz)`` and ``reps`` is ``df`` restricted to the
    min-doc_id representative of each fingerprint group. This is the
    shared skew guard for every banded near-dup join: exact duplicates
    share *every* band, so banding must run on representatives or a
    duplicate-heavy corpus funnels whole groups into one bucket."""
    fps = df.select("doc_id", F.md5(F.col(text_col)).alias("fp"))
    groups = fps.groupBy("fp").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("gsz"))
    members = fps.join(groups, "fp")                  # doc_id, fp, rep, gsz
    reps = df.join(members.filter(F.col("doc_id") == F.col("rep"))
                   .select("doc_id"), "doc_id")
    return reps, members


def _expand_rep_pairs(rep_pairs, members, payload: str, within_value,
                      max_group: int):
    """Re-expand representative-level near-dup pairs through the exact
    fingerprint groups.

    Cross-group pairs inherit the representatives' ``payload`` value
    (identical texts have identical signatures); within-group pairs are
    exact duplicates and get ``within_value`` (Jaccard 1.0 / Hamming 0).
    Groups larger than ``max_group`` contribute only their
    representative to the expansion — cross-group near-dups of a viral
    page still surface (via the rep), only the O(g^2) intra-group
    expansion is suppressed (that is ``exact_dedup``'s job)."""
    small = members.filter(F.col("gsz") <= max_group)
    expand = members.filter((F.col("gsz") <= max_group) |
                            (F.col("doc_id") == F.col("rep")))
    mi = expand.select(F.col("rep").alias("i"), F.col("doc_id").alias("di"))
    mj = expand.select(F.col("rep").alias("j"), F.col("doc_id").alias("dj"))
    cross = (rep_pairs.join(mi, "i").join(mj, "j")
             .select(F.least("di", "dj").alias("i"),
                     F.greatest("di", "dj").alias("j"), payload))
    within = (small.select("fp", F.col("doc_id").alias("i"))
              .join(small.select("fp", F.col("doc_id").alias("j")), "fp")
              .filter(F.col("i") < F.col("j"))
              .select("i", "j", F.lit(within_value).alias(payload)))
    return cross, within


def minhash_lsh_pairs(df, text_col: str = "text", threshold: float = 0.5,
                      limit_ids: int | None = None, max_group: int = 1000):
    """Near-dup candidate pairs via LSH banding, verified with exact
    word-set Jaccard. Returns (i, j, jaccard).

    Skew guard (the 100 TB hole): exact-duplicate texts share every
    band, so a duplicate-heavy corpus would put whole groups into one
    band bucket and the bucket join would emit O(g^2) rows inside one
    task. Instead, documents are first collapsed to one REPRESENTATIVE
    per exact text fingerprint; banding, the bucket join and the
    Jaccard verify all run on representatives only (bucket sizes are
    bounded by *distinct* near-dup density, not duplication). Pairs
    are then re-expanded through the fingerprint groups: cross-group
    pairs inherit the representatives' Jaccard (identical texts have
    identical word sets), within-group pairs are exact duplicates
    (Jaccard 1.0). Groups larger than ``max_group`` are reported via
    their representative only — a viral page duplicated 10^6 times
    yields its cross-group pairs but not the 5*10^11 intra-group pairs
    (those are the ``exact_dedup`` operator's job). The representative
    of an over-``max_group`` group therefore stays in the expansion so
    the group's cross-group near-dups still surface (via the rep)."""
    if limit_ids is not None:
        df = df.filter(F.col("doc_id") < limit_ids)
    reps, members = _exact_collapse(df, text_col)

    sigs = minhash_signatures(reps, text_col)
    # one long (doc, band_key) table — the band index is folded into the
    # bucket key so a SINGLE self-join covers all bands (vs one shuffle
    # join per band): shuffle count drops from N_BANDS joins + union to
    # one explode + one join + one distinct
    bands_long = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.md5(F.concat(F.lit(str(b)), F.col(f"h{2*b}"),
                           F.col(f"h{2*b+1}"))).alias(f"b{b}")
            for b in range(N_BANDS)])).alias("bk"))
    a = bands_long.select(F.col("doc_id").alias("i"), "bk")
    c = bands_long.select(F.col("doc_id").alias("j"), "bk")
    cand = (a.join(c, "bk").filter(F.col("i") < F.col("j"))
            .select("i", "j").distinct())
    rep_jac = (jaccard_pairs_for(reps, cand, text_col)
               .filter(F.col("jaccard") >= threshold))

    cross, within = _expand_rep_pairs(rep_jac, members, "jaccard", 1.0,
                                      max_group)
    if threshold > 1.0:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def jaccard_pairs_for(df, pairs, text_col: str = "text"):
    """Exact word-set Jaccard for given (i, j) pairs."""
    words = _word_set(df, text_col)
    sizes = df.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col(text_col), " "))).alias("sz"))
    wi = words.select(F.col("doc_id").alias("i"), "w")
    wj = words.select(F.col("doc_id").alias("j"), "w")
    inter = (
        pairs.join(wi, "i").join(wj, ["j", "w"])
        .groupBy("i", "j").agg(F.count("*").alias("inter")))
    si = sizes.select(F.col("doc_id").alias("i"), F.col("sz").alias("si"))
    sj = sizes.select(F.col("doc_id").alias("j"), F.col("sz").alias("sj"))
    return (
        inter.join(si, "i").join(sj, "j")
        .select("i", "j",
                F.round(F.col("inter") / (F.col("si") + F.col("sj") - F.col("inter")), 6)
                 .alias("jaccard")))


def ngram_jaccard_pairs(df, text_col: str = "text", threshold: float = 0.5,
                        limit_ids: int = 200):
    """All-pairs word-set Jaccard over a bounded id range (the exact
    baseline the LSH path approximates)."""
    df = df.filter(F.col("doc_id") < limit_ids)
    words = _word_set(df, text_col)
    sizes = df.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col(text_col), " "))).alias("sz"))
    wi = words.select(F.col("doc_id").alias("i"), "w")
    wj = words.select(F.col("doc_id").alias("j"), "w")
    inter = (
        wi.join(wj, "w").filter(F.col("i") < F.col("j"))
        .groupBy("i", "j").agg(F.count("*").alias("inter")))
    si = sizes.select(F.col("doc_id").alias("i"), F.col("sz").alias("si"))
    sj = sizes.select(F.col("doc_id").alias("j"), F.col("sz").alias("sj"))
    return (
        inter.join(si, "i").join(sj, "j")
        .withColumn("jaccard",
                    F.round(F.col("inter") / (F.col("si") + F.col("sj") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard"))


def simhash(df, text_col: str = "text"):
    """64-bit SimHash over the word multiset, fully vectorized inside
    ``mapInArrow`` with zero per-word Python: tokenization
    (``pc.split_pattern`` — byte-identical to ``str.split(" ")``),
    word deduplication (``pc.dictionary_encode`` = unique + inverse
    indices), and per-unique-word hashing (C ``batch_md5_prefix64``
    over the raw Arrow buffers) all run in native code; the digests are
    unpacked into a (unique_words x 64) ±1 matrix (``np.unpackbits``)
    and per-document bit sums computed with one ``np.add.reduceat``.

    hash = md5-derived so the DuckDB oracle can replay it bit-exactly
    (simhash bit b is set iff sum over words of ±1 on bit b of
    ``int(md5(word)[:8] hex, 16)`` is positive).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("doc_id", df.schema["doc_id"].dataType),
        T.StructField("simhash", T.LongType())])
    src = df.select("doc_id", text_col)

    def batches(it):
        prelude()
        import numpy as np
        import pyarrow.compute as pc

        from swiftsoup_spark.kernel.fastpath import batch_md5_prefix64

        for batch in it:
            n_docs = batch.num_rows
            col = pc.fill_null(batch.column(text_col), "")
            words = pc.split_pattern(col, " ")     # == str.split(" ")
            counts = np.asarray(pc.list_value_length(words)).astype(np.int64)
            flat = pc.list_flatten(words)
            if n_docs and len(flat):
                enc = pc.dictionary_encode(flat)   # unique + inverse, in C
                inv = np.asarray(enc.indices)
                uniq = enc.dictionary
                # hash each unique word ONCE — in C over the Arrow
                # buffers (batch_md5_prefix64); Python hashlib loop only
                # as the no-compiler fallback
                hv = batch_md5_prefix64(uniq)
                if hv is None:
                    import hashlib
                    md5 = hashlib.md5
                    hv = np.fromiter(
                        (int.from_bytes(md5(w.encode("utf-8")).digest()[:8],
                                        "big") for w in uniq.to_pylist()),
                        dtype=np.uint64, count=len(uniq))
                # column j of the unpacked matrix is value bit (63 - j);
                # astype('>u8') is endianness-explicit (byteswap() would
                # only be correct on little-endian hosts)
                bytes_be = hv.astype(">u8").view(np.uint8).reshape(-1, 8)
                pm = np.unpackbits(bytes_be, axis=1).astype(np.int32) * 2 - 1
                word_pm = pm[inv]
                starts = np.zeros(n_docs, dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                acc = np.add.reduceat(word_pm, starts, axis=0)
                vbits = (acc > 0).astype(np.uint8)
                packed = np.packbits(vbits, axis=1)          # big-endian bytes
                sv = np.frombuffer(packed.tobytes(), dtype=">u8").astype(
                    np.uint64).view(np.int64)
            else:
                sv = np.zeros(0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(sv, pa.int64())],
                ["doc_id", "simhash"])

    return src.mapInArrow(batches, out_schema)


_LAST_SIMHASH_SIG = None  # previous call's persisted signatures (released on next call)


def simhash_near_dup(df, text_col: str = "text", max_hamming: int = 3,
                     n_bands: int = 4, max_group: int = 1000):
    """Near-duplicate pairs by banded SimHash: the 64-bit signature is
    split into ``n_bands`` 16-bit bands; candidate pairs share at least
    one band (single exploded self-join, same shape as the MinHash-LSH
    join), then verify exact ``popcount(xor) <= max_hamming``.

    With ``max_hamming < n_bands`` the banding is pigeonhole-COMPLETE
    (k differing bits can touch at most k bands, so some band matches
    exactly), which is what makes a closed-form quadratic oracle valid.

    Skew guard: exact-duplicate texts share every band, so documents are
    first collapsed to one representative per exact fingerprint
    (``_exact_collapse``), the banded join runs on representatives only,
    and pairs re-expand through the groups (``_expand_rep_pairs``) —
    cross-group pairs inherit the reps' Hamming distance (identical
    texts have identical signatures), within-group pairs are Hamming 0.
    Groups over ``max_group`` surface via their representative only.

    The persisted signature DataFrame from the PREVIOUS call is
    unpersisted on each new call (bounded executor-memory footprint);
    callers wanting immediate release can unpersist
    ``result._persisted_sig`` after their action.
    """
    global _LAST_SIMHASH_SIG
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    if _LAST_SIMHASH_SIG is not None:
        try:
            _LAST_SIMHASH_SIG.unpersist(blocking=False)
        except Exception:
            pass
        _LAST_SIMHASH_SIG = None

    reps, members = _exact_collapse(df, text_col)
    # persist the rep signatures before the self-join: both join sides
    # read them (tiny — 16 bytes/doc — vs recomputing the Python
    # signature pass twice; at small scale AQE broadcasts, so no
    # ReusedExchange would save us)
    sig = simhash(reps, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    _LAST_SIMHASH_SIG = sig
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("bi"),
            F.shiftrightunsigned("simhash", 16 * i)
             .bitwiseAND(F.lit(0xFFFF)).alias("bv"))
        for i in range(n_bands)])
    m = (sig.select("doc_id", "simhash", F.explode(bands).alias("b"))
            .select("doc_id", "simhash", "b.bi", "b.bv"))
    a, b = m.alias("a"), m.alias("b")
    cand = (a.join(b, (F.col("a.bi") == F.col("b.bi")) &
                      (F.col("a.bv") == F.col("b.bv")) &
                      (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("i"),
                     F.col("b.doc_id").alias("j"),
                     F.col("a.simhash").alias("si"),
                     F.col("b.simhash").alias("sj"))
             .distinct())
    ham = F.bit_count(F.col("si").bitwiseXOR(F.col("sj")))
    rep_pairs = (cand.select("i", "j", ham.cast("int").alias("hamming"))
                     .filter(F.col("hamming") <= max_hamming))
    cross, within = _expand_rep_pairs(rep_pairs, members, "hamming", 0,
                                      max_group)
    out = cross.unionByName(within)
    out._persisted_sig = sig
    return out


def connected_components(edges, vertices, max_iter: int = 25):
    """Connected components by min-label propagation with pointer
    jumping: ``(doc_id, cluster_id)`` where ``cluster_id`` is the
    smallest ``doc_id`` reachable through the edge set (singletons label
    themselves).

    Scale shape (the 100 TB design): each round is TWO hash joins — an
    edge-relax (neighbor min) and a pointer jump (``lbl := lbl[lbl]``,
    i.e. path halving) — so rounds needed are O(log diameter), not
    O(diameter); near-dup graphs have tiny diameters, so 2-4 rounds in
    practice. Per-round lineage is truncated with an eager
    ``localCheckpoint`` (iterative joins otherwise stack an
    exponentially-growing plan) and the previous round's blocks are
    released. Convergence is detected from a monotone invariant —
    labels only ever decrease, so an unchanged ``sum(lbl)`` IS the
    fixpoint — which costs one cheap agg per round instead of a
    change-count join.

    ``edges``: DataFrame with integer columns (i, j); ``vertices``: a
    DataFrame with a ``doc_id`` column (defines the output domain).
    """
    # materialize the symmetric edge list ONCE: it is re-read by every
    # round's relax join, and the upstream edge computation (the LSH
    # band join) must not be re-evaluated per round
    sym = (edges.select(F.col("i").alias("v"), F.col("j").alias("n"))
           .unionByName(
               edges.select(F.col("j").alias("v"), F.col("i").alias("n")))
           .localCheckpoint(eager=True))
    labels = (vertices.select(F.col("doc_id").alias("v"),
                              F.col("doc_id").alias("lbl"))
              .localCheckpoint(eager=True))
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("v").alias("n"),
                                      F.col("lbl").alias("nlbl")), "n")
                  .groupBy("v").agg(F.min("nlbl").alias("nmin")))
        relaxed = (labels.join(nbr, "v", "left")
                   .select("v", F.least(
                       "lbl", F.coalesce("nmin", "lbl")).alias("lbl")))
        jumped = (relaxed.alias("x")
                  .join(relaxed.select(F.col("v").alias("lbl"),
                                       F.col("lbl").alias("lbl2")).alias("y"),
                        "lbl")
                  .select(F.col("x.v").alias("v"),
                          F.col("lbl2").alias("lbl")))
        nxt = jumped.localCheckpoint(eager=True)
        cur_sum = nxt.agg(F.sum("lbl")).collect()[0][0]
        labels.unpersist(blocking=False)
        labels = nxt
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def near_dup_clusters(df, text_col: str = "text", threshold: float = 0.5,
                      limit_ids: int | None = None, max_group: int = 1000,
                      max_iter: int = 25):
    """Near-duplicate CLUSTERS: the step after ``minhash_lsh_pairs`` in a
    real dedup pipeline — pairs only say "these two are similar"; keeping
    one copy per group needs the transitive closure. Returns
    ``(doc_id, cluster_id)`` for every document (cluster_id = min doc_id
    of the component; singleton docs are their own cluster), so
    ``filter(doc_id == cluster_id)`` IS the deduplicated corpus.

    Edge set = ``minhash_lsh_pairs`` (banded LSH + Jaccard verify, with
    its exact-dup pre-collapse skew guard); closure = pointer-jumping
    min-label propagation (``connected_components``). The DuckDB oracle
    replays the same edges and closes them with a recursive CTE.
    """
    if limit_ids is not None:
        df = df.filter(F.col("doc_id") < limit_ids)
    pairs = minhash_lsh_pairs(df, text_col, threshold=threshold,
                              max_group=max_group)
    return connected_components(pairs.select("i", "j"), df, max_iter=max_iter)


# --- cross-document paragraph/line dedup (CCNet-style boilerplate) -----------


def line_frequency(df, text_col: str = "text", min_chars: int = 1):
    """Corpus-wide line frequency: (line_key, n_docs) where line_key is
    md5 of the whitespace-normalized line and n_docs counts DISTINCT
    documents containing it. Lines shorter than ``min_chars`` after
    normalization are ignored (never dedup candidates).

    Scale: explode is linear in corpus chars; the count-distinct groupBy
    runs Spark's two-phase partial-distinct aggregation on uniform md5
    keys — no skew, map-side combines."""
    lines = df.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), "\n")).alias("line"))
    keyed = lines.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace("line", "[ \\t\\r]+", " ")))
         .alias("line_key"),
        F.length(F.trim(F.regexp_replace("line", "[ \\t\\r]+", " ")))
         .alias("n_norm"))
    return (keyed.filter(F.col("n_norm") >= min_chars)
            .groupBy("line_key")
            .agg(F.count_distinct("doc_id").alias("n_docs")))


def remove_boilerplate_lines(df, text_col: str = "text", max_docs: int = 5,
                             min_chars: int = 1):
    """CCNet-style corpus-level boilerplate removal: drop every line that
    appears (whitespace-normalized) in more than ``max_docs`` distinct
    documents — navigation chrome, cookie banners, legal footers — and
    rebuild each document from its surviving lines in original order.

    Returns (doc_id, text_clean, n_lines, n_removed).

    Plan shape: pass 1 is :func:`line_frequency`; pass 2 re-explodes with
    positions, joins the frequency table on the uniform md5 line key
    (plain shuffled hash join — the frequent-line table is unbounded in
    principle; when a threshold cap makes it provably small, broadcasting
    it turns pass 2 into a map-only stage), and one doc_id-keyed
    aggregate rebuilds the text via sort_array(collect_list(struct(pos,
    line))) — only surviving lines ride that shuffle. Nothing is ever
    quadratic; every stage is linear in corpus bytes."""
    boiler = (line_frequency(df, text_col, min_chars)
              .filter(F.col("n_docs") > max_docs)
              .withColumn("boiler", F.lit(1)))
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    keyed = lines.withColumn(
        "line_key",
        F.md5(F.trim(F.regexp_replace("line", "[ \\t\\r]+", " "))))
    flagged = keyed.join(boiler.select("line_key", "boiler"),
                         "line_key", "left")
    return (flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("boiler").isNotNull(), 1).otherwise(0))
         .cast("int").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(
                    F.col("boiler").isNull(),
                    F.struct("pos", "line")))),
                lambda s: s["line"]),
            "\n").alias("text_clean"))
        .select("doc_id", "text_clean", "n_lines", "n_removed"))


def remove_host_boilerplate(df, host_col: str = "host",
                            text_col: str = "text", min_docs: int = 2,
                            min_frac: float = 0.5):
    """Host-scoped template-line removal: drop every line appearing
    (whitespace-normalized) in at least ``max(min_docs, ceil(min_frac *
    host_doc_count))`` distinct documents OF THE SAME HOST — the
    per-site footer/nav chrome that corpus-level thresholds miss on
    small sites and over-fire on across sites. The standard site-level
    variant of CCNet line dedup (cf. :func:`remove_boilerplate_lines`).

    Returns (doc_id, host, text_clean, n_lines, n_removed).

    Plan shape mirrors the corpus variant with the key widened to
    (host, line_key): pass 0 is a tiny host→doc-count aggregate
    (broadcast); pass 1 counts distinct docs per (host, line); pass 2
    re-explodes with positions, LEFT-joins the flagged lines on the
    uniform (host, md5) key, and rebuilds each doc with one bounded
    sort_array(collect_list). A viral host's template line partial-
    aggregates map-side in pass 1, so skew never funnels raw lines."""
    norm = lambda c: F.trim(F.regexp_replace(c, "[ \\t\\r]+", " "))
    host_docs = (df.groupBy(host_col)
                 .agg(F.count("*").alias("__hd")))
    lines = df.select(
        "doc_id", host_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    keyed = lines.withColumn("line_key", F.md5(norm(F.col("line"))))
    freq = (keyed.groupBy(host_col, "line_key")
            .agg(F.count_distinct("doc_id").alias("__nd")))
    boiler = (freq.join(F.broadcast(host_docs), host_col)
              .filter(F.col("__nd") >= F.greatest(
                  F.lit(min_docs),
                  F.ceil(F.lit(min_frac) * F.col("__hd"))))
              .select(host_col, "line_key", F.lit(1).alias("__boiler")))
    flagged = keyed.join(boiler, [host_col, "line_key"], "left")
    return (flagged.groupBy("doc_id", host_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__boiler").isNotNull(), 1).otherwise(0))
         .cast("int").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(
                    F.col("__boiler").isNull(),
                    F.struct("pos", "line")))),
                lambda s: s["line"]),
            "\n").alias("text_clean"))
        .select("doc_id", F.col(host_col).alias("host"), "text_clean",
                "n_lines", "n_removed"))


def norm_key_col(col):
    """Aggressive dedup-key normalization (the CCNet/BigScience recipe):
    lowercase, non-letters → space, squeeze runs, trim — so case,
    punctuation, and digit noise never split a duplicate group."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), "[^a-z ]", " "), " +", " "))


def norm_key_sql(expr: str) -> str:
    """The identical normalization as DuckDB SQL (RE2 needs the 'g'
    flag where Java regexp_replace is global by default)."""
    return ("trim(regexp_replace(regexp_replace(lower(" + expr + "), "
            "'[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))")


def norm_exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Exact dedup on the NORMALIZED key: (nkey, n_docs, rep_id) —
    one md5 groupBy with map-side partials (count + min both partial-
    aggregable), representative = lowest id, deterministic."""
    return (df.groupBy(F.md5(norm_key_col(F.col(text_col))).alias("nkey"))
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("rep_id")))


# --- duplicated-span detection (block rolling-hash) --------------------------


def duplicate_span_blocks(df, text_col: str = "text", block: int = 16,
                          offsets: tuple[int, ...] | None = None):
    """Cross-document duplicated-SPAN detection: the distributed stand-in
    for suffix-array substring dedup (Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" at the granularity that
    actually shuffles at 100 TB — suffix arrays don't distribute; block
    hashes do).

    Each document's word stream is cut into non-overlapping ``block``-
    token blocks; a block whose md5 occurs ≥2 times corpus-wide (other
    docs OR a repeat within the same doc) is a duplicated span. Returns
    (doc_id, n_blocks, n_dup_blocks, dup_block_frac_e6).

    Blocks are hashed on an OFFSET GRID — one grid per entry in
    ``offsets`` (default 0 and block/2) — so two copies of a span
    whose document positions differ by any multiple of block/2 share
    at least one grid alignment and collide. Granularity caveat
    (documented): copies misaligned by a non-multiple of block/2 can
    still be missed for spans shorter than ~1.5 blocks; each extra
    offset is one more linear pass over the token stream and halves
    the residue again.

    Scale: explode is ~len(offsets) * n_tokens/block rows per doc; the
    occurrence count is one groupBy on uniform md5 keys with map-side
    combines; the flag-back join is hash-equi on the same keys; the
    final rollup is doc_id-keyed. Nothing quadratic, no Python.
    """
    if offsets is None:
        offsets = (0, block // 2)
    from swiftsoup_spark.ops.hof import with_array

    empty = F.array().cast("array<string>")

    def grid(o):
        # split bound as a lambda variable (ops/hof.py) — a closure
        # would re-split the text once per block
        def blocks_of(w):
            nbo = F.floor((F.size(w) - o) / block).cast("int")
            return F.when(nbo >= 1, F.transform(
                F.sequence(F.lit(0), nbo - 1),
                lambda i: F.md5(F.array_join(
                    F.slice(w, i * block + o + 1, block), " ")))
            ).otherwise(empty)
        return with_array(F.split(F.col(text_col), " "), blocks_of)

    blocks = grid(offsets[0])
    for o in offsets[1:]:
        blocks = F.concat(blocks, grid(o))
    exploded = (df.select("doc_id", F.explode(blocks).alias("h")))
    occ = exploded.groupBy("h").agg(F.count("*").alias("n_occ"))
    dup = (exploded.join(occ, "h")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_blocks"),
                F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
                 .cast("int").alias("n_dup_blocks")))
    base = df.select("doc_id")
    return (base.join(dup, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_blocks", F.lit(0)).cast("int")
                     .alias("n_blocks"),
                    F.coalesce("n_dup_blocks", F.lit(0)).cast("int")
                     .alias("n_dup_blocks"),
                    F.when(F.coalesce("n_blocks", F.lit(0)) > 0,
                           F.round(F.coalesce("n_dup_blocks", F.lit(0))
                                   * 1000000 / F.col("n_blocks"))
                           .cast("long")).otherwise(F.lit(0).cast("long"))
                     .alias("dup_block_frac_e6")))


def incremental_dedup(df, new_col: str = "is_new", text_col: str = "text"):
    """Daily-batch deduplication against an existing corpus: classify
    each NEW document as ``exact`` (its text fingerprint exists in the
    corpus), ``near`` (it shares a MinHash LSH band with any corpus
    document), or ``kept``. This is the production shape of dedup — a
    small new crawl lands against a 10^12-doc index; re-running the
    all-pairs self-join is out of the question.

    Scale shape: both corpus-side structures reduce to DISTINCT KEY
    SETS — fingerprints and band keys — before any join, so the joins
    are semi-joins of the (small) new batch against key sets: no doc
    ids ride the corpus side, a viral corpus duplicate group
    contributes ONE fingerprint and ONE set of band keys, and there is
    no O(g^2) expansion anywhere. In a persisted pipeline the two key
    sets are the write-once incremental index (stored in Iceberg,
    appended per batch); here they are computed inline.

    Within-batch duplicates are deliberately NOT flagged (that is the
    batch's own ``exact_dedup`` pass); verdicts compare new docs to the
    corpus only.
    """
    is_new = F.col(new_col)
    corpus, new = df.filter(~is_new), df.filter(is_new)

    corpus_fp = (corpus.select(F.md5(F.col(text_col)).alias("fp"))
                 .distinct())
    new_fp = new.select("doc_id", F.md5(F.col(text_col)).alias("fp"))
    exact_hit = (new_fp.join(corpus_fp, "fp", "left_semi")
                 .select("doc_id").distinct()
                 .withColumn("__e", F.lit(True)))

    # bands of 4 rows (2 bands over the 8-hash signature): incremental
    # gating wants precision — a band hit drops a document with no
    # verify step, so the per-band collision probability is j^4, not
    # j^2 (j = true Jaccard). The pair-finding operator above keeps the
    # recall-oriented 2-row bands because it verifies candidates.
    sigs = minhash_signatures(df, text_col)
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.md5(F.concat(F.lit(str(b)), *[
                F.col(f"h{4*b + r}") for r in range(4)]))
            for b in range(2)])).alias("bk"))
    corpus_bk = (bands.join(corpus.select("doc_id"), "doc_id", "left_semi")
                 .select("bk").distinct())
    near_hit = (bands.join(new.select("doc_id"), "doc_id", "left_semi")
                .join(corpus_bk, "bk", "left_semi")
                .select("doc_id").distinct()
                .withColumn("__n", F.lit(True)))

    return (new.select("doc_id")
            .join(exact_hit, "doc_id", "left")
            .join(near_hit, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("__e"), "exact")
                     .when(F.col("__n"), "near")
                     .otherwise("kept").alias("verdict")))


def dedup_paragraphs(df, text_col: str = "text", sep: str = "\n"):
    """In-DOCUMENT repetition removal: keep the FIRST occurrence of
    each exact-duplicate paragraph within a document, preserving
    original order (the within-doc half of the CCNet/Gopher repetition
    treatment — the cross-doc half is :func:`remove_boilerplate_lines`,
    the statistical half is textstats.quality_repetition).

    Returns (doc_id, text_clean, n_paras, n_kept).

    Scale shape: pure per-row whole-stage codegen — split + an indexed
    higher-order filter (element i survives iff its FIRST index in the
    array is i). No shuffle, no UDF, no state: map-only at any corpus
    size, and the filter is O(p^2) only in the per-document paragraph
    count (tiny), never across rows."""
    arr = F.split(F.col(text_col), sep)
    kept = F.filter(arr, lambda x, i: F.array_position(arr, x) == i + 1)
    return df.select(
        "doc_id",
        F.array_join(kept, sep).alias("text_clean"),
        F.size(arr).cast("int").alias("n_paras"),
        F.size(kept).cast("int").alias("n_kept"))


def consensus_near_dup_clusters(df, text_col: str = "text",
                                threshold: float = 0.5,
                                max_hamming: int = 3,
                                limit_ids: int | None = None,
                                max_group: int = 1000, max_iter: int = 25):
    """Ensemble near-duplicate clusters: the union of the MinHash-LSH
    pair set (set-Jaccard similarity — robust to reordering) and the
    banded SimHash pair set (Hamming over the token-multiset sketch —
    robust to small edits), closed into connected components. Real
    dedup pipelines run several detectors precisely because each has
    blind spots; the keep-one-per-cluster decision wants the closure
    of EVERYTHING any detector flagged.

    Returns (doc_id, cluster_id) for every document, cluster_id = min
    doc_id of the consensus component.

    Scale shape: both detectors are banded single self-joins with the
    exact-dup rep-collapse skew guard (their own contracts); the union
    is one distinct over (i, j) pair keys — tiny relative to the
    corpus — and the closure is the O(log diameter) pointer-jumping CC
    (:func:`connected_components`). Document text rides neither the
    union nor the closure."""
    if limit_ids is not None:
        df = df.filter(F.col("doc_id") < limit_ids)
    mh = minhash_lsh_pairs(df, text_col, threshold=threshold,
                           max_group=max_group).select("i", "j")
    sh = simhash_near_dup(df, text_col, max_hamming=max_hamming,
                          max_group=max_group).select("i", "j")
    edges = mh.unionByName(sh).distinct()
    return connected_components(edges, df, max_iter=max_iter)
