"""The Python-worker prelude (``spark.worker.prelude``): it stops
``importlib.invalidate_caches()`` from re-reading archives that already
have a ``zipimporter``, without breaking any import, and every function
the package hands Spark to run in a worker calls it."""

import importlib
import os
import re
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from swiftsoup_spark.spark.worker import prelude  # noqa: E402

PKG = os.path.join(REPO, "swiftsoup_spark")


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    return str(path)


@pytest.fixture
def zips_on_path():
    """Put zips on ``sys.path``; drop them and their modules after."""
    added, mods = [], []

    def add(path, modules):
        sys.path.insert(0, path)
        added.append(path)
        mods.extend(modules)
        return path

    yield add
    for p in added:
        sys.path.remove(p)
        sys.path_importer_cache.pop(p, None)
    for m in mods:
        sys.modules.pop(m, None)


def test_prelude_keeps_zip_directory(tmp_path, zips_on_path):
    first = zips_on_path(_zip(tmp_path / "a.zip", {"wp_first": 1,
                                                   "wp_second": 2}),
                         ["wp_first", "wp_second"])
    import wp_first

    assert wp_first.VALUE == 1
    importer = sys.path_importer_cache[first]
    assert isinstance(importer, zipimport.zipimporter)
    files = importer._files

    prelude()
    importlib.invalidate_caches()
    assert importer._files is files  # the directory was not re-read
    import wp_second  # not imported before the prelude

    assert wp_second.VALUE == 2

    # an archive put on sys.path later gets its own importer, which the
    # stock invalidate_caches still re-reads until the next prelude
    later = zips_on_path(_zip(tmp_path / "b.zip", {"wp_later": 3}),
                         ["wp_later"])
    import wp_later

    assert wp_later.VALUE == 3
    fresh = sys.path_importer_cache[later]
    assert fresh is not importer
    before = fresh._files
    importlib.invalidate_caches()
    assert fresh._files is not before
    prelude()
    before = fresh._files
    importlib.invalidate_caches()
    assert fresh._files is before
    prelude()  # idempotent
    assert importer._files is files


ENTRY = re.compile(r"\.mapInArrow\(|\.mapInPandas\(|@pandas_udf\b"
                   r"|\.applyInPandasWithState\(")
CALL = re.compile(r"^\s*prelude\(\)\s*$", re.M)


def test_every_worker_entry_calls_prelude():
    """Per module: no more Python-worker entry points (``mapInArrow``,
    ``mapInPandas``, ``@pandas_udf``, ``applyInPandasWithState``) than
    ``prelude()`` calls, so no operator brings back the per-task
    archive re-read."""
    seen = {}
    for root, _, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            n_entry, n_call = len(ENTRY.findall(src)), len(CALL.findall(src))
            if n_entry:
                seen[os.path.relpath(path, REPO)] = n_entry
            assert n_entry <= n_call, (path, n_entry, n_call)
    assert seen["swiftsoup_spark/spark/extract.py"] == 2
    assert seen["swiftsoup_spark/spark/sqlfuncs.py"] == 5
    assert len(seen) >= 11, seen


# pyspark modules the worker does not load on its own, with small
# import cascades; each task imports the first one not loaded yet
FRESH = ["pyspark.sql.tvf", "pyspark.sql.avro.functions",
         "pyspark.sql.protobuf.functions", "pyspark.sql.metrics",
         "pyspark.instrumentation_utils", "pyspark.mllib.common",
         "pyspark.sql.plot.core", "pyspark.sql.classic.table_arg",
         "pyspark.streaming.util", "pyspark.mllib.linalg",
         "pyspark.ml.linalg"]


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[2]", app="worker-prelude-test")


def test_worker_imports_after_prelude(spark):
    """Over more tasks than slots, so reused workers are covered: each
    task runs the prelude, then imports a pyspark submodule its worker
    has not loaded, from the worker's ``pyspark.zip``."""
    from pyspark.sql import types as T

    n_tasks = 2 * spark.sparkContext.defaultParallelism
    if n_tasks > len(FRESH):
        pytest.skip(f"{n_tasks} tasks need more fresh modules")

    def kernel(it):
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from swiftsoup_spark.spark.worker import _keep_directory

        def zips():
            return [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]

        kept_at_start = sum(f.invalidate_caches is _keep_directory
                            for f in zips())
        prelude()
        assert all(f.invalidate_caches is _keep_directory for f in zips())
        name = next(m for m in FRESH if m not in sys.modules)
        mod = importlib.import_module(name)
        for _ in it:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "name": name, "file": mod.__file__,
            "zips": len(zips()), "kept_at_start": kept_at_start}])

    schema = T.StructType([T.StructField("pid", T.LongType()),
                           T.StructField("name", T.StringType()),
                           T.StructField("file", T.StringType()),
                           T.StructField("zips", T.LongType()),
                           T.StructField("kept_at_start", T.LongType())])
    rows = spark.range(0, n_tasks, 1, n_tasks).mapInArrow(
        kernel, schema).collect()
    assert len(rows) == n_tasks
    by_pid = {}
    for r in rows:
        assert ".zip" in r.file, r  # imported through a zipimporter
        assert r.zips > 0, r
        by_pid.setdefault(r.pid, []).append(r)
    assert len(by_pid) < n_tasks  # some worker ran more than one task
    for tasks in by_pid.values():
        assert len({r.name for r in tasks}) == len(tasks)
        # a reused worker starts its later tasks already patched
        assert sum(r.kept_at_start > 0 for r in tasks) >= len(tasks) - 1


LATIN1 = ('<html><head><meta charset="iso-8859-1"><title>Café</title>'
          '</head><body><div id="main">crème brûlée</div></body></html>'
          ).encode("latin-1")
FRAMESET = (b"<html><head><title>F</title></head><frameset><frame src=a>"
            b"</frameset><div id=main>after</div></html>")
PLAIN = b"<html><head><title>P</title></head><body><p>one<p>two</body>"


def test_extract_pages_rows_unchanged(spark):
    """``extract_pages`` over binary html, across 6 tasks, gives the
    Python kernel's rows: null, latin-1 ``<meta charset>`` and frameset
    pages included."""
    from pyspark.sql import types as T
    from swiftsoup_spark.api import decode_html
    from swiftsoup_spark.kernel.arena import Document
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.spark.extract import extract_pages

    def python_kernel(data):
        a = HtmlTreeBuilder(track_spans=False).parse(
            decode_html(data) if data is not None else "")
        return a.node_text(0), Document(a, 0).title()

    n_tasks = 6
    html = [PLAIN, None, LATIN1, FRAMESET]
    rows = [(f"u{i}", html[i % len(html)]) for i in range(4 * n_tasks)]
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    pages = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_tasks), schema)
    assert pages.rdd.getNumPartitions() == n_tasks
    got = {r.url: (r.text, r.title) for r in extract_pages(pages).collect()}
    assert got == {u: python_kernel(h) for u, h in rows}
    assert got["u2"] == ("Café crème brûlée", "Café")
