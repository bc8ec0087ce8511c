"""spark-submit --py-files launch shape (scripts/submit_extract.py).

Runs the real spark-submit binary with the package shipped ONLY as a
--py-files zip (driver cwd outside the repo, PYTHONPATH scrubbed), and
checks the north-rule properties: it runs, it reports metrics, and an
immediate re-run is a no-op (buckets_computed == 0) with an unchanged
corpus checksum.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


pytestmark = pytest.mark.skipif(
    not (os.path.exists(SPARK_SUBMIT) and os.path.isdir(SF_DIR)),
    reason="spark-submit or testdata unavailable")


def _make_zip(tmp_path) -> str:
    zpath = str(tmp_path / "swiftsoup_spark.zip")
    pkg = os.path.join(REPO, "swiftsoup_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith((".pyc",)):
                    continue
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, REPO))
    return zpath


def _submit(zpath, out_dir, cwd) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zpath,
         os.path.join(REPO, "scripts", "submit_extract.py"),
         "--sf-dir", SF_DIR, "--output", out_dir, "--buckets", "8"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=360)
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_pyfiles_launch_and_idempotent_resume(tmp_path):
    zpath = _make_zip(tmp_path)
    out = str(tmp_path / "extract_out")
    first = _submit(zpath, out, cwd=str(tmp_path))
    assert first["n_docs"] > 0
    assert first["buckets_computed"] == 8
    assert isinstance(first["checksum"], int)
    assert first["row_count"] == first["n_docs"]
    again = _submit(zpath, out, cwd=str(tmp_path))
    assert again["buckets_computed"] == 0          # resume is a no-op
    assert again["checksum"] == first["checksum"]  # and changes nothing
    assert again["n_docs"] == first["n_docs"]
