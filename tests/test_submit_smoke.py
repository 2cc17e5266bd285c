"""The production submission path: ``spark-submit --py-files
dist/pii_libs.zip scripts/submit_extract.py`` from a directory that holds
no ``pii_*`` sources, so the driver and every Python worker import the
engine from the zip alone."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.environ.get("SPARK_HOME", "/nonexistent"), "bin", "spark-submit")


@pytest.mark.skipif(not os.path.isfile(SPARK_SUBMIT),
                    reason="spark-submit not found")
def test_spark_submit_with_pyfiles_zip_commits_an_increment(tmp_path):
    built = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles_zip.py")],
        check=True, capture_output=True, text=True)
    libs = built.stdout.strip().splitlines()[-1]
    assert os.path.isfile(libs)

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false", "--py-files", libs,
         os.path.join(ROOT, "scripts", "submit_extract.py"),
         "--synth", "40", "--output", out, "--lineage", lin,
         "--run-id", "smoke"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]

    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["run_id"] == "smoke" and got["docs"] == 40
    assert os.path.isfile(os.path.join(out, "_commits", "smoke.committed"))
    assert os.path.isdir(os.path.join(lin, "run_id=smoke"))
