"""Seeded corpus generation and the DuckDB correctness oracle.

A corpus is built in two steps:

1. ``make_plan`` draws one row per page from ``--seed`` with numpy:
   which source document it quotes, its url and host, its template
   (``variant``) and its size knobs (``np`` paragraphs, ``nav_n`` and
   ``side_n`` chrome links).  Only ``data/documents.parquet`` feeds it.
2. ``spark_corpus_sql`` turns plan + documents into the north-star page
   table ``(url, warc_ts, html binary, text, lang)`` with Spark SQL.  The
   program under test receives only that parquet table.

The oracle (``expected_sql``) is closed-form SQL that DuckDB evaluates
over the same plan + documents.  The main-template and variant
expectations come from ``swiftsoup_spark/spark/pages.py``
(``EXPECTED_*``, ``VARIANT_TEMPLATES``); nothing here runs the kernel.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from swiftsoup_spark.spark import pages as P

# --- main (CC-style) template ----------------------------------------------
# pages.HTML_SQL with the paragraph count taken from the plan and site
# chrome (a nav link farm before, related links after) outside #main, so
# the #main text is still pages.EXPECTED_MAIN_TEXT_SQL.
_NAV = ("<div id=\"header\"><nav class=\"menu\">' || repeat('<a href=\"/s\">'"
        " || host || ' section</a> ', nav_n) || '</nav></div>")
_SIDE = ("<div class=\"sidebar\"><ul>' || repeat('<li><a href=\"/r\">related '"
         " || host || '</a></li>', side_n) || '</ul></div>")


def _once(sql: str, old: str, new: str) -> str:
    if sql.count(old) != 1:
        raise ValueError(f"template drift: {old!r} occurs {sql.count(old)}x")
    return sql.replace(old, new)


CC_HTML_SQL = _once(_once(_once(P.HTML_SQL, P.NP_SQL, "np"),
                          "<body>", "<body>" + _NAV),
                    "</body>", _SIDE + "</body>")
CC_TEXT_SQL = _once(P.EXPECTED_MAIN_TEXT_SQL, P.NP_SQL, "np")
CC_TITLE_SQL = P.EXPECTED_TITLE_SQL

# --- pages.py variants, scoped to #main ----------------------------------------
# ``<body id="main">`` makes the #main scope the whole body, so the
# expected text is the variant's document text minus its <title> text.
VARIANT_TITLE_SQL = {
    "tables": "'T ' || doc_id",
    "tables_clean": "'T ' || doc_id",
    "charset": "CASE WHEN doc_id % 2 = 0 THEN 'B ' ELSE 'L ' END || doc_id",
    "structdata": "'S ' || doc_id",
}
# Document.title() is the first <title> anywhere: the svg variant's
# icon title, which is body text and so stays in the scoped text
BODY_TITLE_SQL = {"svg": "'icon'"}
VARIANTS = sorted(P.VARIANT_TEMPLATES)


def variant_html_sql(name: str) -> str:
    html = P.VARIANT_TEMPLATES[name][0]
    if "<body>" not in html:
        raise ValueError(f"template drift: variant {name} has no <body>")
    html = html.replace("<body>", "<body id=\"main\">")
    # the charset variant already builds bytes (BOM / latin-1)
    return html if "encode(" in html else f"encode({html}, 'utf-8')"


def variant_expected_sql(name: str) -> tuple[str, str]:
    """(scoped text, title) SQL for a variant page."""
    doc_text = P.VARIANT_TEMPLATES[name][1]
    title = VARIANT_TITLE_SQL.get(name)
    if title is None:
        return doc_text, BODY_TITLE_SQL.get(name, "''")
    return f"substr({doc_text}, length({title}) + 2)", title


# --- main-container-without-id layouts (ops.maincontent) -----------------------
# Candidate scores are len(text) - 2 * len(link text).  Every layout
# puts >= 4 nav links of >= 10 chars beside the article, so each wrapper
# scores below the article container; the container and its single
# child tie and the earlier one (named below) wins.  Its text is the
# main template's #main text.
_D_HEAD = "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
_D_NAV = "' || repeat('<a href=\"/go\">' || host || ' link</a> ', nav_n) || '"
_D_SIDE = ("' || repeat('<li><a href=\"/rel\">related ' || host || '</a></li>',"
           " side_n) || '")
_D_BODY = ("<h1>Doc ' || doc_id || '</h1>' || "
           "repeat('<p>' || text || '</p>', np) || '")
DOM_LAYOUTS = {
    # winner: section.post
    "dom_section": (
        f"{_D_HEAD}<div class=\"page\"><div class=\"top\"><nav class=\"menu\">"
        f"{_D_NAV}</nav></div><section class=\"post\"><article class=\"entry\">"
        f"{_D_BODY}</article></section><div class=\"side\"><ul>{_D_SIDE}"
        "</ul></div></div><div class=\"foot\"><a href=\"/privacy\">privacy</a>"
        " <a href=\"/terms\">terms</a></div></body></html>'"),
    # winner: div.body
    "dom_divs": (
        f"{_D_HEAD}<div class=\"wrap\"><div class=\"links\">{_D_NAV}</div>"
        f"<div class=\"body\"><div class=\"inner\">{_D_BODY}</div></div>"
        f"<div class=\"related\"><ul>{_D_SIDE}</ul></div></div></body></html>'"),
    # winner: td.content
    "dom_table": (
        f"{_D_HEAD}<table class=\"layout\"><tr><td class=\"nav\">{_D_NAV}</td>"
        f"<td class=\"content\">{_D_BODY}</td><td class=\"side\"><ul>{_D_SIDE}"
        "</ul></td></tr></table></body></html>'"),
    # all chrome: every candidate scores < 0, so <body> wins
    "dom_chrome": (
        f"{_D_HEAD}<div class=\"nav\">' || repeat('<a href=\"/m\">more ' || host"
        " || '</a> ', nav_n) || '</div></body></html>'"),
}
DOM_CHROME_TEXT_SQL = "trim(repeat('more ' || host || ' ', nav_n))"


def html_sql(variant: str) -> str:
    """Spark SQL (binary) html of one template."""
    if variant == "cc":
        return f"encode({CC_HTML_SQL}, 'utf-8')"
    if variant in DOM_LAYOUTS:
        return f"encode({DOM_LAYOUTS[variant]}, 'utf-8')"
    return variant_html_sql(variant)


def expected_sql(variant: str) -> tuple[str, str]:
    """Closed-form (text, title) DuckDB SQL of one template."""
    if variant == "cc":
        return CC_TEXT_SQL, CC_TITLE_SQL
    if variant == "dom_chrome":
        return DOM_CHROME_TEXT_SQL, "'Doc ' || doc_id"
    if variant in DOM_LAYOUTS:
        return CC_TEXT_SQL, "'Doc ' || doc_id"
    return variant_expected_sql(variant)


# --- the seeded plan --------------------------------------------------------------

TLDS = ("news", "shop", "blog", "wiki", "forum", "gov", "edu", "docs")


def _hosts(n: int) -> list[str]:
    return [f"h{i:04d}.{TLDS[i % len(TLDS)]}.test" for i in range(n)]


def load_documents(path: str) -> pa.Table:
    return pq.read_table(path, columns=["doc_id", "lang"])


def make_plan(spec, seed: int, docs: pa.Table) -> pa.Table:
    """One row per page, drawn from ``seed`` (see module docstring).

    ``spec``: a ``workloads.Spec`` — its ``docs``, ``variant_mix``,
    ``n_hosts`` and ``host_zipf`` fields.
    """
    rng = np.random.default_rng([seed, spec.salt])
    n = spec.docs
    doc_ids = docs.column("doc_id").to_numpy()
    langs = docs.column("lang").to_pylist()
    pick = rng.integers(0, len(doc_ids), n)
    if spec.host_zipf:
        host_idx = (rng.zipf(spec.host_zipf, n) - 1) % spec.n_hosts
    else:
        host_idx = rng.integers(0, spec.n_hosts, n)
    names = [v for v, _ in spec.variant_mix]
    probs = np.array([w for _, w in spec.variant_mix], dtype=float)
    variant = rng.choice(len(names), n, p=probs / probs.sum())
    # page size: heavy-tailed paragraph count, 1..48 (~0.5-15 KB of text)
    npar = np.clip(np.rint(rng.lognormal(np.log(4.0), 0.9, n)), 1, 48)
    nav_n = rng.integers(4, 31, n)
    side_n = rng.integers(2, 13, n)
    hosts = _hosts(spec.n_hosts)
    url = [f"https://{hosts[h]}/{langs[p]}/p{doc_ids[p]}-{i}"
           for i, (h, p) in enumerate(zip(host_idx.tolist(), pick.tolist()))]
    return pa.table({
        "row_id": pa.array(np.arange(n), pa.int64()),
        "doc_id": pa.array(doc_ids[pick], pa.int64()),
        "url": pa.array(url, pa.string()),
        "host": pa.array([hosts[h] for h in host_idx.tolist()], pa.string()),
        "variant": pa.array([names[v] for v in variant.tolist()], pa.string()),
        "np": pa.array(npar.astype(np.int32), pa.int32()),
        "nav_n": pa.array(nav_n.astype(np.int32), pa.int32()),
        "side_n": pa.array(side_n.astype(np.int32), pa.int32()),
    })


# --- Spark side: plan + documents -> page table ----------------------------------

def spark_corpus_sql(variants) -> str:
    cases = " ".join(f"WHEN '{v}' THEN {html_sql(v)}" for v in variants)
    return (
        "SELECT /*+ BROADCAST(d) */ url, "
        f"timestamp_seconds({P.TS0} + row_id) AS warc_ts, "
        f"CASE variant {cases} END AS html, "
        "CAST(NULL AS STRING) AS text, lang "
        "FROM bench_plan JOIN bench_documents d USING (doc_id)")


def write_plan(plan: pa.Table, plan_dir: str, splits: int) -> None:
    """The plan as ``splits`` parquet files of about equal row count."""
    os.makedirs(plan_dir)
    step = -(-len(plan) // splits)
    for i in range(splits):
        pq.write_table(plan.slice(i * step, step),
                       os.path.join(plan_dir, f"part-{i:05d}.parquet"))


def write_corpus(spark, plan_dir: str, docs_path: str, out_dir: str,
                 variants) -> None:
    """Generate the page table: one parquet file per plan file (one Spark
    input split each), in a map-only job with the documents broadcast."""
    spark.read.parquet(plan_dir).createOrReplaceTempView("bench_plan")
    spark.read.parquet(docs_path).createOrReplaceTempView("bench_documents")
    spark.sql(spark_corpus_sql(variants)).write.parquet(out_dir)


# --- DuckDB side: the oracle and the gate --------------------------------------------

def expected_view(con, plan_path: str, docs_path: str, variants) -> None:
    """Create the DuckDB view ``expected(url, text, title)``."""
    con.execute(f"CREATE OR REPLACE VIEW plan AS "
                f"SELECT * FROM read_parquet('{plan_path}')")
    con.execute(f"CREATE OR REPLACE VIEW documents AS "
                f"SELECT * FROM read_parquet('{docs_path}')")
    parts = []
    for v in variants:
        text, title = expected_sql(v)
        parts.append(f"SELECT url, CAST({text} AS VARCHAR) AS text, "
                     f"CAST({title} AS VARCHAR) AS title "
                     f"FROM plan JOIN documents USING (doc_id) "
                     f"WHERE variant = '{v}'")
    con.execute("CREATE OR REPLACE VIEW expected AS " + " UNION ALL ".join(parts))
    # a titled variant's document text must start with its title, or the
    # scoped expectation is wrong (guards against pages.py template drift)
    for v in set(variants) & set(VARIANT_TITLE_SQL):
        bad = con.execute(
            f"SELECT count(*) FROM plan JOIN documents USING (doc_id) "
            f"WHERE variant = '{v}' AND NOT starts_with("
            f"{P.VARIANT_TEMPLATES[v][1]}, {VARIANT_TITLE_SQL[v]} || ' ')"
        ).fetchone()[0]
        if bad:
            raise ValueError(f"oracle: {bad} '{v}' rows do not start with "
                             "their title")


def check_output(con, got_sql: str, check_title: bool) -> dict:
    """Compare ``got_sql`` (url, text[, title]) with ``expected``.

    Returns counts: ``wrong`` (text or title differs), ``missing``
    (expected url absent), ``extra`` (url not in the corpus) and
    ``dup`` (url emitted more than once).
    """
    title_cmp = "OR g.title IS DISTINCT FROM e.title" if check_title else ""
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS {got_sql}")
    wrong, missing, extra = con.execute(
        "SELECT "
        "count(*) FILTER (WHERE e.url IS NOT NULL AND g.url IS NOT NULL AND "
        f"  (g.text IS DISTINCT FROM e.text {title_cmp})), "
        "count(*) FILTER (WHERE g.url IS NULL), "
        "count(*) FILTER (WHERE e.url IS NULL) "
        "FROM expected e FULL OUTER JOIN "
        "  (SELECT DISTINCT ON (url) * FROM got) g ON e.url = g.url"
    ).fetchone()
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT url) FROM got").fetchone()[0]
    return {"wrong": wrong, "missing": missing, "extra": extra, "dup": dup}
