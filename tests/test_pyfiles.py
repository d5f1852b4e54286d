"""Cluster deployment shape (north rule: spark-submit --py-files).

Builds kiwi_spark.zip with tools/make_pyfiles.py, copies the job file to
a directory OUTSIDE the repo, and runs the full pipeline there with the
zip as the only source of the library — proving the package carries no
repo-cwd assumptions to the driver or executors.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pipeline_runs_from_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    zip_path = str(tmp_path / "kiwi_spark.zip")
    n_files = build(zip_path)
    assert n_files > 30
    job = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), job)
    warehouse = str(tmp_path / "wh")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only library source
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            job, "--synthesize", "30", "--warehouse", warehouse,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["stages_run"]) == {
        "text", "raw_graph", "views", "id_map", "graph"
    }
    assert result["counts"]["nodes"] > 0
    assert result["counts"]["edges"] > 0
