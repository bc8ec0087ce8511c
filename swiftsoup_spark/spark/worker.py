"""Python-worker prelude: the first call of every function the package
hands Spark to run in a Python worker.

Before each task, ``pyspark.worker`` runs ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``. Under CPython 3.11 that makes
every cached ``zipimporter`` re-read its archive's whole central
directory in pure Python. A Spark worker holds about 16 of them: over
``pyspark.zip`` and its subpackages, the py4j zip and the Spark core
jar. The re-read costs 0.13-0.21 s per task, more than the extraction
kernel spends on a typical split.

:func:`prelude` stops that re-read for the archives the worker already
has open. The reused worker keeps the patch, so from its second task
on ``setup_spark_files`` costs almost nothing.
"""

from __future__ import annotations

import sys
import zipimport


def _keep_directory() -> None:
    """``zipimporter.invalidate_caches`` stand-in: keep the directory
    read when the importer was made."""


def prelude() -> None:
    """Give every ``zipimporter`` already in ``sys.path_importer_cache``
    a no-op ``invalidate_caches``.

    Process-wide side effect: from this call on,
    ``importlib.invalidate_caches()`` no longer re-reads the central
    directory of any archive that already has an importer in this
    process. Those archives (``pyspark.zip``, the py4j zip, the Spark
    jars, files shipped earlier) do not change during a job. An archive
    put on ``sys.path`` later (``addPyFile``) gets a fresh importer,
    which the next call patches. Modules not imported yet still import
    from the kept directory.

    Idempotent and cheap: one pass over the importer cache. Call it as
    the first statement of every function handed to Spark to run in a
    worker; a ``mapInArrow`` kernel or an iterator ``pandas_udf`` then
    runs it once per task. It is harmless in the driver, where the local
    tests and the benchmark's traced replay run the kernels.
    """
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = _keep_directory
