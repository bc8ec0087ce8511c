"""Distributed BPE merge induction (vocabulary training).

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units" — public paper): repeatedly merge the most frequent
adjacent symbol pair. This is the vocabulary-TRAINING side of the BPE
story (the budgeting side is textstats.bpe_token_count); a corpus
pipeline runs it over the word-count table, not the corpus.

Execution shape (the real distributed-trainer shape, as in
SentencePiece / HF tokenizers):

* the corpus is touched ONCE — one groupBy to the word-count table
  (vocabulary-sized, Zipf-small relative to the corpus);
* each merge round is one partial-aggregable groupBy over the VOCAB's
  adjacent pairs weighted by word count, a TakeOrdered(1) scalar to
  the driver (the argmax pair), and a map-only literal replace over
  the vocab column. Text never rides any shuffle; rounds are
  sequential by definition of the algorithm.

Symbol-state encoding: a word's current segmentation is kept as a
single string with double-comma separators and wraps —
``the -> ,,t,,h,,e,,`` — restricted to lowercase-alpha words so commas
can never occur inside symbols. Merging pair (a, b) is then the plain
LITERAL (non-regex) replace ``,a,,b, -> ,ab,``: the double-comma
invariant means a match must align to full symbols (single commas in
the pattern bind to the inner comma of each boundary pair), and
engine ``replace()`` is left-to-right non-overlapping in both Spark
and DuckDB — exactly BPE's merge order — so an independent SQL replay
is value-exact, including the ``a a a -> [aa, a]`` overlap case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

__all__ = ["bpe_train", "bpe_train_sql", "bpe_encode", "bpe_encode_sql"]


def _word_counts(df, text_col: str):
    words = F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+"))
    return (df.select(words.alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w").agg(F.count("*").alias("cnt")))


def _pairs(s_col):
    """Adjacent (overlapping) symbol pairs of a ,,-encoded state, each
    rendered 'a b'."""
    from swiftsoup_spark.ops.hof import with_array

    # symbol array bound as a lambda variable (ops/hof.py) — a closure
    # would re-split the state string once per pair.
    # guard the fully-merged single-symbol state: sequence(1, 0) is a
    # DESCENDING [1, 0] in Spark, not empty
    return with_array(
        F.filter(F.split(s_col, ",,"), lambda x: x != ""),
        lambda arr: F.when(
            F.size(arr) > 1,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.concat(F.element_at(arr, i), F.lit(" "),
                                   F.element_at(arr, i + 1)))
        ).otherwise(F.array().cast("array<string>")))


def bpe_train(df, n_merges: int = 3, text_col: str = "text"):
    """Learn the first ``n_merges`` BPE merges over the corpus' word
    distribution. Returns one row per round:
    (round, pair, merged, pair_count) — ties in the argmax break on
    lexicographic pair order, so the result is deterministic."""
    vocab = _word_counts(df, text_col).select(
        F.concat(F.lit(",,"),
                 F.regexp_replace("w", "(.)", "$1,,")).alias("s"),
        "cnt")
    spark = df.sparkSession
    out = []
    for r in range(1, n_merges + 1):
        top = (vocab.select(F.explode(_pairs(F.col("s"))).alias("pair"),
                            "cnt")
               .groupBy("pair").agg(F.sum("cnt").alias("pc"))
               .orderBy(F.col("pc").desc(), F.col("pair"))
               .limit(1).collect())
        if not top:
            break
        pair, pc = top[0]["pair"], int(top[0]["pc"])
        a, b = pair.split(" ")
        out.append((r, pair, a + b, pc))
        vocab = vocab.select(
            F.replace(F.col("s"), F.lit(f",{a},,{b},"),
                      F.lit(f",{a}{b},")).alias("s"),
            "cnt")
    return spark.createDataFrame(
        out, "round: int, pair: string, merged: string, pair_count: long")


def bpe_encode(df, n_merges: int = 3, text_col: str = "text",
               k: int = 20):
    """Apply the first ``n_merges`` learned merges to the corpus and
    return the top-``k`` BPE tokens by corpus frequency
    (token, n) — the encode side of the BPE loop. Same execution shape
    as training: the corpus is reduced ONCE to the word-count table,
    the merge rounds run over the vocab, and the final fully-merged
    vocab state IS the encoding — tokens explode off the vocab weighted
    by word count, so the only corpus-scale pass is the word groupBy.
    Ties in the top-k break on token order (deterministic)."""
    vocab = _word_counts(df, text_col).select(
        F.concat(F.lit(",,"),
                 F.regexp_replace("w", "(.)", "$1,,")).alias("s"),
        "cnt")
    for _ in range(n_merges):
        top = (vocab.select(F.explode(_pairs(F.col("s"))).alias("pair"),
                            "cnt")
               .groupBy("pair").agg(F.sum("cnt").alias("pc"))
               .orderBy(F.col("pc").desc(), F.col("pair"))
               .limit(1).collect())
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        vocab = vocab.select(
            F.replace(F.col("s"), F.lit(f",{a},,{b},"),
                      F.lit(f",{a}{b},")).alias("s"),
            "cnt")
    tok = F.explode(F.filter(F.split("s", ",,"), lambda x: x != ""))
    return (vocab.select(tok.alias("token"), "cnt")
            .groupBy("token").agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "token").limit(k))


def _train_ctes(n_merges: int, text_expr: str, table: str) -> str:
    """The shared WITH-chain of the DuckDB replay: word counts ->
    v1..v{n+1} states with per-round argmax CTEs t1..tn.

    Every CTE is ``MATERIALIZED``: ``v{r+1}`` reads ``v{r}`` once
    directly and twice through ``t{r}``, so an inlined chain grows
    exponentially with the merge count (~10 min at 8 merges)."""
    parts = [f"""
WITH v1 AS MATERIALIZED (
  SELECT ',,' || regexp_replace(w, '(.)', '\\1,,', 'g') AS s, cnt FROM (
    SELECT w, count(*) AS cnt FROM (
      SELECT unnest(string_split_regex(lower({text_expr}), '[^a-z]+')) AS w
      FROM {table}) t
    WHERE length(w) >= 2 GROUP BY w) wc
)"""]
    for r in range(1, n_merges + 1):
        parts.append(f""",
p{r} AS MATERIALIZED (
  SELECT pair, sum(cnt) AS pc FROM (
    SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                  i -> arr[i] || ' ' || arr[i + 1])) AS pair, cnt
    FROM (SELECT list_filter(string_split(s, ',,'), x -> x <> '') AS arr,
                 cnt FROM v{r}) a) e
  GROUP BY pair
),
t{r} AS MATERIALIZED (
  SELECT pair, pc FROM p{r} ORDER BY pc DESC, pair LIMIT 1),
v{r + 1} AS MATERIALIZED (
  SELECT replace(s, ',' || replace((SELECT pair FROM t{r}), ' ', ',,')
                 || ',',
                 ',' || replace((SELECT pair FROM t{r}), ' ', '') || ',')
         AS s, cnt
  FROM v{r}
)""")
    return "".join(parts)


def bpe_encode_sql(n_merges: int = 3, text_expr: str = "text",
                   table: str = "documents", k: int = 20) -> str:
    """DuckDB replay of :func:`bpe_encode`: the training CTE chain,
    then tokens unnested off the final state weighted by word count."""
    return _train_ctes(n_merges, text_expr, table) + f"""
SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
  SELECT unnest(list_filter(string_split(s, ',,'), x -> x <> '')) AS token,
         cnt
  FROM v{n_merges + 1}) t
GROUP BY token ORDER BY n DESC, token LIMIT {k}"""


def bpe_train_sql(n_merges: int = 3, text_expr: str = "text",
                  table: str = "documents") -> str:
    """DuckDB replay of :func:`bpe_train`: the same word counts, state
    encoding, argmax (scalar subquery per round) and literal replace,
    unrolled over ``n_merges`` CTE rounds."""
    selects = [
        f"SELECT {r} AS round, pair,"
        f" replace(pair, ' ', '') AS merged,"
        f" CAST(pc AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, n_merges + 1)]
    return (_train_ctes(n_merges, text_expr, table)
            + "\n" + "\nUNION ALL\n".join(selects))
