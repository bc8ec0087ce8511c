"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
NeurIPS, public paper): pick pretraining documents from a raw crawl so
that the SELECTED set's feature distribution matches a small TARGET
corpus (Wikipedia/books in the paper). The standard recipe behind
"domain-matched" webtext subsets, next to the quality-classifier
(ops/nbclassify.py) and perplexity (ops/ngramlm.py) filter families.

Faithful pipeline shape, integer-exact arithmetic throughout:

1. **Hashed n-gram features** — word unigrams + bigrams hashed into
   ``buckets`` buckets (the paper's 10^4-bucket bag-of-hashed-ngrams),
   via md5, the repo-wide stable hash.
2. **Importance weight fit** — per-bucket log-likelihood ratio of the
   target sample vs the raw pool with Laplace smoothing over the
   buckets seen in the fit sample,
   ``log p_target[b] - log p_raw[b]``, quantized to BIT-LENGTH logs:
   ``[bits(np+1) + bits(tn+1)] - [bits(nn+1) + bits(tp+1)]``
   (``bits(x)`` = base-2 digit count; same 1-bit log granularity as
   ops/nbclassify.py — no libm ``log``, whose last-ulp rounding
   differs between the JVM and DuckDB and would break the driver's
   cross-engine hash gate). The target corpus stands in as the
   deterministic ``doc_id % target_mod == 0`` sample — no external
   data in this sandbox, same convention as ngramlm's reference
   sample.
3. **Document log-weight** — sum of bucket weights over the document's
   n-gram OCCURRENCES (multiplicity counts, as in the paper's
   bag-of-ngrams inner product).
4. **Importance resampling** — the paper samples documents with
   probability ∝ w(x) (Gumbel top-k); Gumbel noise needs ``-ln(-ln u)``
   which is not engine-exact, so this op uses the acceptance-sampling
   formulation of the same distribution: keep document x with
   probability ``w(x) / w_max = 2^(score - smax)`` — decided by pure
   integer bit shifts. A 60-bit uniform ``u`` comes from
   ``md5(doc_id || ':dsir')``; the doc is kept iff
   ``u < 1 << (60 - (smax - score))`` — that comparison succeeds with
   EXACTLY probability 2^-(smax-score), no floats anywhere. Documents
   more than ``band_bits`` below the max are dropped outright (their
   acceptance probability is below 2^-band_bits anyway).

Scale design (the 100 TB story):
* Feature extraction is one fused ``explode`` per document (unigrams
  and bigrams built from ONE bound split array — ops/hof.py — then
  concatenated before the single explode): linear in corpus bytes,
  map-side.
* The model is at most ``buckets`` rows by construction — broadcast
  always, regardless of corpus size; fitting is one bucket-keyed
  groupBy with map-side partial aggregation over uniform md5 keys
  (no skew) plus a one-row totals aggregate.
* Scoring is a map-side explode + broadcast hash join + doc_id-keyed
  integer sum — document text never rides a shuffle (the decontam /
  ngramlm contract).
* ``smax`` is ONE scalar max aggregate broadcast-crossed back in; the
  accept/reject decision is a map-only projection. End to end: two
  linear passes, zero wide shuffles of document bytes.

Reference parity note: the reference engine (SwiftSoup) has no corpus
selection; this op is part of the LLM-data-pipeline surface the build
brief adds on top of the reference's extraction operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

__all__ = ["hashed_gram_buckets", "dsir_weights", "dsir_scores",
           "dsir_select", "dsir_sql"]

U_BITS = 60  # uniform width: 15 md5 hex chars, fits signed BIGINT


def _bits(col):
    # floor(log2(x)) + 1 for x >= 1: number of base-2 digits
    return F.length(F.conv(col.cast("string"), 10, 2))


def hashed_gram_buckets(df, buckets: int = 1024, text_col: str = "text",
                        id_col: str = "doc_id"):
    """(id, bucket) — one row per word unigram/bigram occurrence,
    hashed into ``buckets`` buckets. Empty words (split artifacts of
    repeated spaces) are dropped BEFORE bigram formation, so bigrams
    span the cleaned word sequence."""
    from swiftsoup_spark.ops.hof import with_array

    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    grams = with_array(words, lambda w: F.concat(
        w,
        F.when(F.size(w) >= 2, F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat(F.element_at(w, i), F.lit(" "),
                               F.element_at(w, i + 1))))
        .otherwise(F.array().cast("array<string>"))))
    bucket = (F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
              .cast("long") % buckets).cast("int")
    return (df.select(F.col(id_col), F.explode(grams).alias("gram"))
            .select(id_col, bucket.alias("bucket")))


def dsir_weights(df, target_mod: int = 10, buckets: int = 1024,
                 fit_sample_mod: int = 1, text_col: str = "text",
                 id_col: str = "doc_id"):
    """(bucket, weight) — bit-length LLR of the target sample
    (``doc_id % target_mod == 0``) vs the raw rest. At most
    ``buckets`` rows: always broadcastable.

    ``fit_sample_mod`` bounds the FIT pass: both distributions are
    estimated on the deterministic ``doc_id % fit_sample_mod == 0``
    subset (the paper fits its bag-of-ngrams models on samples of the
    raw pool, not the full crawl) — at 100 TB the only full corpus
    pass is scoring."""
    if fit_sample_mod > 1:
        df = df.filter(F.col(id_col) % fit_sample_mod == 0)
    g = hashed_gram_buckets(df, buckets, text_col, id_col)
    is_target = F.col(id_col) % target_mod == 0
    counts = (g.groupBy("bucket")
              .agg(F.sum(F.when(is_target, 1).otherwise(0)).alias("np"),
                   F.sum(F.when(is_target, 0).otherwise(1)).alias("nn")))
    totals = counts.agg(F.sum("np").alias("tp"), F.sum("nn").alias("tn"))
    return (counts.crossJoin(F.broadcast(totals))
            .select("bucket",
                    ((_bits(F.col("np") + 1) + _bits(F.col("tn") + 1))
                     - (_bits(F.col("nn") + 1) + _bits(F.col("tp") + 1)))
                    .cast("int").alias("weight")))


def dsir_scores(df, target_mod: int = 10, buckets: int = 1024,
                fit_sample_mod: int = 1, text_col: str = "text",
                id_col: str = "doc_id"):
    """(doc_id, n_grams, score) for EVERY input document — the
    importance-weight pass without the resampling draw. One broadcast
    hash join (the ≤``buckets``-row model) + one doc-keyed aggregate;
    document text never rides a shuffle.

    The model has rows only for buckets seen in the fit sample. A gram
    whose bucket was unseen there scores 0 (neutral), not a smoothed
    weight; :func:`dsir_sql` does the same through its LEFT JOIN."""
    model = F.broadcast(dsir_weights(df, target_mod, buckets,
                                     fit_sample_mod, text_col, id_col))
    g = hashed_gram_buckets(df, buckets, text_col, id_col)
    per = (g.join(model, "bucket", "left")
           .groupBy(id_col)
           .agg(F.count("*").alias("n_grams"),
                F.sum(F.coalesce(F.col("weight"), F.lit(0)))
                .alias("score")))
    return (df.select(id_col).join(per, id_col, "left")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("score", F.lit(0)).cast("long")
                    .alias("score")))


def dsir_select(df, target_mod: int = 10, buckets: int = 1024,
                band_bits: int = 40, fit_sample_mod: int = 1,
                text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_grams, score, kept) for EVERY input document.

    ``score`` is the integer log2-scale importance weight; ``kept`` is
    the importance-resampling draw: True with probability
    ``2^(score - smax)`` (0 beyond ``band_bits`` below the max),
    decided deterministically from md5(doc_id) so the result is
    bit-identical across partitionings and engines.

    The score table is referenced twice (the smax aggregate AND the
    final projection), so it is pinned with an eager
    ``localCheckpoint`` — without it Catalyst inlines the whole
    subtree into both consumers and the corpus scan + gram explode +
    model fit run TWICE (observed: 11 exchanges, duplicated bucket
    groupBys). The checkpoint holds (doc_id, 2 longs) per doc — tiny
    next to the text it replaces."""
    scored = dsir_scores(df, target_mod, buckets, fit_sample_mod,
                         text_col, id_col).localCheckpoint(eager=True)
    smax = scored.agg(F.max("score").alias("smax"))
    u = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":dsir"))),
        1, 15), 16, 10).cast("long")
    shortfall = F.col("smax") - F.col("score")
    # shift clamped at 0: when shortfall > U_BITS the left conjunct is
    # already false, but both engines still evaluate the shift (DuckDB
    # raises on negative shift amounts); F.shiftleft only takes a
    # literal shift, so the column-shift goes through F.expr
    kept = ((shortfall <= band_bits)
            & (u < F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(greatest({U_BITS} - (smax - score), 0) AS INT))")))
    return (scored.crossJoin(F.broadcast(smax))
            .select(id_col, "n_grams", "score", kept.alias("kept")))


def dsir_sql(target_mod: int = 10, buckets: int = 1024,
             band_bits: int = 40, fit_sample_mod: int = 1,
             table: str = "documents") -> str:
    """DuckDB replay of :func:`dsir_select` (identical md5 hashing,
    bit-length logs, sample-bounded fit, and shift-compare
    resampling)."""
    return f"""
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               x -> x <> '') AS f
            FROM {table}),
grams AS (
  SELECT doc_id, unnest(f) AS gram FROM ws
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(f), 1)),
                               i -> f[i] || ' ' || f[i + 1])) AS gram
  FROM ws),
gb AS (SELECT doc_id,
              CAST(CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT)
                   % {buckets} AS INTEGER) AS bucket
       FROM grams),
c AS (SELECT bucket,
             SUM(CASE WHEN doc_id % {target_mod} = 0 THEN 1 ELSE 0 END)
               AS np,
             SUM(CASE WHEN doc_id % {target_mod} = 0 THEN 0 ELSE 1 END)
               AS nn
      FROM gb WHERE doc_id % {fit_sample_mod} = 0 GROUP BY bucket),
tot AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM c),
m AS (SELECT bucket,
             CAST((length(bin(CAST(np + 1 AS BIGINT)))
                   + length(bin(CAST(tn + 1 AS BIGINT))))
                  - (length(bin(CAST(nn + 1 AS BIGINT)))
                     + length(bin(CAST(tp + 1 AS BIGINT))))
                  AS INTEGER) AS weight
      FROM c, tot),
per AS (SELECT gb.doc_id, count(*) AS n_grams,
               SUM(coalesce(m.weight, 0)) AS score
        FROM gb LEFT JOIN m USING (bucket) GROUP BY gb.doc_id),
scored AS (SELECT d.doc_id,
                  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
                  CAST(coalesce(per.score, 0) AS BIGINT) AS score
           FROM {table} d LEFT JOIN per ON d.doc_id = per.doc_id),
mx AS (SELECT MAX(score) AS smax FROM scored)
SELECT doc_id, n_grams, score,
       (smax - score <= {band_bits})
       AND (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'),
                                1, 15) AS BIGINT)
            < (CAST(1 AS BIGINT)
               << CAST(greatest({U_BITS} - (smax - score), 0)
                       AS INTEGER))) AS kept
FROM scored, mx
"""
