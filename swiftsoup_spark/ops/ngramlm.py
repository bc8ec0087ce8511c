"""Char-n-gram language-model quality scoring (CCNet-style LM filter).

CCNet ranks web documents by the perplexity of a KenLM n-gram model
trained on a clean reference corpus and keeps the head of the
distribution; it is the standard third leg of the webtext quality stack
next to the Gopher heuristics (``textstats.quality_gopher``) and
language-ID (``textstats.lang_detect``). This module reproduces that
pipeline shape with a deterministic, integer-exact score so the result
is bit-identical across partitionings AND across engines (the driver's
DuckDB oracle):

* **Train**: char 5-gram counts over a deterministic sample of the
  corpus (``doc_id % sample_mod == 0`` stands in for CCNet's external
  reference corpus — no external data in this sandbox), pruned to grams
  with ``count >= min_count``. Zipf makes the pruned head small: it is
  the broadcast side of every downstream join.
* **Score**: each document's grams LEFT-probe the broadcast model;
  a gram scores ``floor(log2(count)) + 1`` bits — computed as
  ``length(base-2 string of count)``, a pure integer expression, NOT a
  float ``log()`` (libm rounding differs between the JVM and DuckDB in
  the last ulp, which would break the cross-engine hash gate).
  Per-document outputs are exact integers: gram count, model-hit count,
  hit coverage (e4 fixed point, integer division) and mean bits per
  gram (e3 fixed point) — a monotone stand-in for negative
  log-likelihood: high-frequency grams contribute more bits, unseen
  grams contribute zero, so boilerplate-like text scores high and
  junk/binary/foreign text scores low, the same ordering CCNet's
  perplexity head/tail split uses.

Scale design (the 100 TB story):
* Training explodes ~bytes(sample) rows through ONE count groupBy —
  partial aggregation map-side, uniform gram keys, linear in sample
  bytes. ``sample_mod`` controls the absolute cost (CCNet trains on a
  fixed-size reference corpus, not the crawl).
* ``min_count`` pruning bounds the model; the scoring join is an
  explicit ``F.broadcast`` hash join (plan-gated in
  tests/test_ngramlm.py) so the 10^12-row corpus side stays a map-only
  scan — no shuffle of document bytes at all.
* Per-doc aggregation keys on doc_id carrying three integers — text
  never rides a shuffle (same contract as ``decontam.contamination``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_GRAM = 5


def _grams(col, n: int = N_GRAM):
    """Array of all char n-grams of ``col`` (empty when len < n).

    Built from a bound char array (ops/hof.py) instead of per-position
    ``substr``: interpreted UTF8String.substring scans from the string
    start on every call, so the substr form is O(len^2) char touches
    per document (measured 92 s on one 200 KB row); slicing a bound
    split-to-chars array is linear. ``split(col, '')`` chars are UTF-16
    units under Java regex — identical to substr() on all BMP text
    (the model and the scorer both use THIS function, so scoring is
    self-consistent regardless)."""
    from swiftsoup_spark.ops.hof import with_array

    return F.when(
        F.length(col) >= n,
        with_array(F.split(col, ""), lambda cs: F.transform(
            F.sequence(F.lit(1), F.size(cs) - (n - 1)),
            lambda i: F.array_join(F.slice(cs, i, n), "")))
    ).otherwise(F.array().cast("array<string>"))


def char_ngram_model(df, n: int = N_GRAM, sample_mod: int = 20,
                     min_count: int = 5, text_col: str = "text"):
    """(gram, cnt) model table: char n-gram counts over the
    deterministic ``doc_id % sample_mod == 0`` sample, pruned to
    ``cnt >= min_count``. Small by Zipf — broadcast it."""
    sample = df.filter(F.col("doc_id") % sample_mod == 0)
    grams = sample.select(
        F.explode(_grams(F.col(text_col), n)).alias("gram"))
    return (grams.groupBy("gram").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= min_count))


def lm_score(df, model_df, n: int = N_GRAM, text_col: str = "text"):
    """Per-document LM quality score vs a (gram, cnt) model.

    Returns (doc_id, n_grams, n_hits, coverage_e4, avg_bits_e3) for
    EVERY input document (docs shorter than ``n`` chars score all
    zeros). ``coverage_e4`` = 10^4 * n_hits DIV n_grams;
    ``avg_bits_e3`` = 10^3 * sum(floor(log2(cnt)) + 1 over hit grams)
    DIV n_grams. All arithmetic is integer-exact (see module doc)."""
    grams = df.select(
        "doc_id", F.explode(_grams(F.col(text_col), n)).alias("gram"))
    model = F.broadcast(model_df.select("gram", "cnt"))
    # floor(log2(cnt)) + 1 == length of cnt in base 2 — integer-exact
    bits = F.length(F.conv(F.col("cnt").cast("string"), 10, 2))
    per = (grams.join(model, "gram", "left")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_grams"),
                F.count("cnt").alias("n_hits"),
                F.sum(F.coalesce(bits, F.lit(0))).alias("sum_bits")))
    out = (df.select("doc_id").join(per, "doc_id", "left")
           .select(
               "doc_id",
               F.coalesce("n_grams", F.lit(0)).cast("int").alias("n_grams"),
               F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
               F.coalesce(F.expr("n_hits * 10000 DIV n_grams"), F.lit(0))
                .cast("long").alias("coverage_e4"),
               F.coalesce(F.expr("sum_bits * 1000 DIV n_grams"), F.lit(0))
                .cast("long").alias("avg_bits_e3")))
    return out


def perplexity_filter(df, model_df, n: int = N_GRAM,
                      min_coverage_e4: int = 6000,
                      max_bits_e3: int = 3400,
                      text_col: str = "text"):
    """CCNet-style perplexity-bucket corpus filter on top of
    :func:`lm_score`: a document is kept when the broadcast n-gram LM
    both COVERS it (coverage_e4 >= min_coverage_e4 — the model has
    seen its character distribution) and finds it unsurprising
    (avg_bits_e3 <= max_bits_e3 — low integer-exact bits/gram, the
    no-float stand-in for low perplexity). Too-short docs score all
    zeros and are dropped by the coverage bound.

    Returns (doc_id, coverage_e4, avg_bits_e3, kept) for every doc.

    Scale shape: inherits lm_score's — model broadcast, text never
    shuffles, one doc_id-keyed partial aggregate; the filter itself is
    a map-only projection."""
    scored = lm_score(df, model_df, n=n, text_col=text_col)
    return scored.select(
        "doc_id", "coverage_e4", "avg_bits_e3",
        ((F.col("coverage_e4") >= min_coverage_e4)
         & (F.col("avg_bits_e3") <= max_bits_e3)).alias("kept"))
