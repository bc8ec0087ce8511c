"""Fast checks of the benchmark's own parts (no Spark session):

    python3 -m pytest perfbench -q

The steadiness self-check, which runs the workloads, is selfcheck.py.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus, run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = os.path.join(ROOT, "perfbench", "data", "documents.parquet")
SMALL = workloads.Spec("small", 7, 60, 2, (("cc", 1.0),), 5, None, 60,
                       "css_scope")


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"][1:] == ["perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_plan_is_a_function_of_the_seed():
    docs = corpus.load_documents(DOCS)
    spec = workloads.KNOWN_ID
    a = corpus.make_plan(spec, 5, docs)
    assert a.equals(corpus.make_plan(spec, 5, docs))
    assert not a.equals(corpus.make_plan(spec, 6, docs))
    assert len(set(a.column("url").to_pylist())) == spec.docs
    mix = set(a.column("variant").to_pylist())
    assert "charset" in mix and "cc" in mix


def _oracle(tmp_path, spec=SMALL):
    plan = corpus.make_plan(spec, 1, corpus.load_documents(DOCS))
    path = str(tmp_path / "plan.parquet")
    pq.write_table(plan, path)
    con = duckdb.connect()
    corpus.expected_view(con, path, DOCS, [v for v, _ in spec.variant_mix])
    return con


def _extract_with_kernel(con, tmp_path) -> str:
    """#main text and title of every small-corpus page, computed by the
    program's public API; the oracle side never calls it."""
    import swiftsoup_spark as soup
    rows = con.execute(f"SELECT url, {corpus.CC_HTML_SQL} FROM plan "
                       "JOIN documents USING (doc_id)").fetchall()
    urls, texts, titles = [], [], []
    for url, html in rows:
        doc = soup.parse(html)
        urls.append(url)
        texts.append(doc.select("#main")[0].text())
        titles.append(doc.title())
    path = str(tmp_path / "got.parquet")
    pq.write_table(pa.table({"url": urls, "text": texts, "title": titles}),
                   path)
    return path


def test_gate_passes_the_kernel_and_flags_one_corrupted_page(tmp_path):
    con = _oracle(tmp_path)
    got = _extract_with_kernel(con, tmp_path)
    clean = corpus.check_output(
        con, f"SELECT * FROM read_parquet('{got}')", check_title=True)
    assert clean == {"wrong": 0, "missing": 0, "extra": 0, "dup": 0}

    t = pq.read_table(got).to_pydict()
    t["text"][17] = t["text"][17] + "x"
    pq.write_table(pa.table(t), got)
    bad = corpus.check_output(
        con, f"SELECT * FROM read_parquet('{got}')", check_title=True)
    assert bad["wrong"] == 1


def test_gate_counts_missing_and_duplicated_urls(tmp_path):
    con = _oracle(tmp_path)
    exp = con.execute("SELECT url, text, title FROM expected").arrow()
    rows = exp.slice(1).to_pydict()
    for k in rows:
        rows[k].append(rows[k][0])
    path = str(tmp_path / "got.parquet")
    pq.write_table(pa.table(rows), path)
    c = corpus.check_output(con, f"SELECT * FROM read_parquet('{path}')", True)
    assert c == {"wrong": 0, "missing": 1, "extra": 0, "dup": 1}


def test_self_time_subtracts_child_spans():
    t = tracing.Tracer()
    outer, inner = t.intern("outer"), t.intern("inner")
    o = t.begin(outer)
    for _ in range(2):
        i = t.begin(inner)
        t.finish(i)
    t.finish(o)
    # fixed clock: outer 0..100, inners 10..30 and 50..60
    t.start[:] = t.start.__class__("q", [0, 10, 50])
    t.end[:] = t.end.__class__("q", [100, 30, 60])
    s = t.summary()
    assert s["outer"]["busy_s"] == pytest.approx(100e-9)
    assert s["outer"]["self_s"] == pytest.approx(70e-9)
    assert s["inner"] == {"calls": 2, "busy_s": pytest.approx(30e-9),
                          "self_s": pytest.approx(30e-9)}
    assert list(t.parent) == [-1, 0, 0]


def test_wrappers_are_removed_after_the_replay():
    from swiftsoup_spark import api
    from swiftsoup_spark.kernel.arena import Arena
    before = (api.decode_html, Arena.__dict__["node_text"])
    with tracing.patched(tracing.layer_wrappers(tracing.Tracer())):
        assert api.decode_html is not before[0]
    assert (api.decode_html, Arena.__dict__["node_text"]) == before


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cc_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
