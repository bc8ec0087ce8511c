"""Main-content extraction by DOM heuristics — the north rule's "DOM
heuristics" leg (readability-style density scoring), complementing the
CSS-scope path (``extract.extract_pages(css_scope=...)``) which requires
knowing the container id up front.

Heuristic (deterministic, documented):
  * candidates: ``div, article, main, section, td`` in document order
  * score(c) = len(text(c)) - 2 * len(link_text(c))
      — i.e. non-link text minus link text: a nav/sidebar/link-farm
      block scores negative no matter how long its anchor text is,
      while an article body scores ~its text length
  * winner: max score, ties to the EARLIEST candidate in document
    order; no candidates or best score <= 0 falls back to <body>
    (a page that is all chrome extracts like plain text())

This is intentionally the transparent core of the readability family —
no tag-name bonus tables or class-name regexes, so the oracle can state
the winner in closed form on synthesized corpora and the unit tests pin
the interesting boundary cases (link farm loses, tie goes to the first,
chrome-only page degrades to body).

Scale shape: runs inside the same fused Arrow-batch kernel stage as
every other extraction operator (one scan -> mapInArrow, no shuffle).
Each document is scored in C by ``kernel/fastpath.main_content_text``
over the C arena (each candidate's and anchor's text length counted
there, O(nodes * depth)), which encodes only the winner's text. The
Python ``main_content_text`` below runs only where that bails (NUL
bytes, > 64 unknown tags) and is its differential oracle.
"""

from __future__ import annotations

from pyspark.sql import types as T

CANDIDATE_CSS = "div, article, main, section, td"


def main_content_node(arena) -> int:
    """Node id of the main-content container (see module docstring)."""
    from swiftsoup_spark.select.engine import select

    def body_or_root() -> int:
        body = select(arena, 0, "body")
        return body[0] if body else 0

    cands = select(arena, 0, CANDIDATE_CSS)
    if not cands:
        return body_or_root()
    cand_set = set(cands)
    link_len = dict.fromkeys(cands, 0)
    for a in select(arena, 0, "a"):
        ln = len(arena.node_text(a))
        p = arena.parent[a]
        while p != -1:  # anchors don't nest (parser guarantees): each
            if p in cand_set:  # anchor counts once per enclosing candidate
                link_len[p] += ln
            p = arena.parent[p]
    best, best_score = None, None
    for c in cands:  # document order -> ties resolve to the first
        score = len(arena.node_text(c)) - 2 * link_len[c]
        if best_score is None or score > best_score:
            best, best_score = c, score
    if best_score is None or best_score <= 0:
        return body_or_root()
    return best


def main_content_text(arena) -> str:
    return arena.node_text(main_content_node(arena))


def main_content_over(df, in_col: str = "html", keep_cols=("url",),
                      out_col: str = "text"):
    """(keep_cols..., text) — heuristic main-content text per document,
    as one fused Arrow-batch kernel stage (no shuffle)."""
    from swiftsoup_spark.kernel import fastpath
    from swiftsoup_spark.spark.extract import apply_kernel, fast_parse

    def row(tb, s):
        text = fastpath.main_content_text(s)
        if text is None:
            text = main_content_text(fast_parse(tb, s))
        return (text,)

    return apply_kernel(df, row, [T.StructField(out_col, T.StringType())],
                        in_col=in_col, keep_cols=keep_cols)
