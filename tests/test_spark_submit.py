"""The north rule's deployment shape: ``spark-submit --py-files`` with the
package shipped as a zip — no reliance on the driver's cwd / PYTHONPATH.

Builds osm2lanes_spark.zip the way a cluster submission would, then runs
``jobs/run_pipeline.py`` in a clean subprocess via the real spark-submit
binary against the packaged documents fixture. Verifies the job exits 0,
prints its checkpoint manifest JSON, and writes correct lane output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

pytestmark = pytest.mark.checkpoint

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(path: str) -> str:
    zip_path = os.path.join(path, "osm2lanes_spark.zip")
    pkg = os.path.join(REPO, "osm2lanes_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith((".pyc", ".log")) or "__pycache__" in root:
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("no spark-submit binary on PATH")

    zip_path = _build_zip(str(tmp_path))
    fixture = os.path.join(REPO, "osm2lanes_spark", "fixtures",
                           "golden_fixture", "documents.parquet")
    out = str(tmp_path / "lanes_out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--input", fixture, "--output", out],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path), env=env)  # cwd != repo: nothing importable locally
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["rows"] > 0
    assert summary["errors"] == 0
    with open(os.path.join(out, "_osm2lanes_manifest.json")) as f:
        manifest = json.load(f)
    assert sum(manifest["partition_rows"]) == manifest["rows"]
