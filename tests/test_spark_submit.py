"""north_rule launch path, actually exercised: spark-submit
--py-files er.zip main.py from a directory that does NOT contain the
package — every `entity_resolution__spark` import on the driver must
resolve from the zip artifact, proving the deployment story rather
than asserting it in a docstring.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    try:
        import pyspark

        p = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        return p if os.path.exists(p) else None
    except ImportError:
        return None


def test_spark_submit_pyfiles_launch(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not on this host")
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "er.zip"))
    launch = tmp_path / "launchdir"
    launch.mkdir()
    # ONLY main.py travels; the package must come from --py-files
    shutil.copy(os.path.join(REPO, "main.py"), launch / "main.py")
    out_dir = str(tmp_path / "clusters_out")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # no back door to the repo tree
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            "main.py",
            "--synthetic", "30",
            "--warehouse", str(tmp_path / "wh"),
            "--output", out_dir,
        ],
        cwd=str(launch),
        env=env,
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["rows"] > 0
    # verify the parquet sink WITHOUT spark (independent reader)
    import duckdb

    n, nclusters = duckdb.sql(
        f"select count(*), count(distinct cluster_id) from '{out_dir}/*.parquet'"
    ).fetchone()
    assert n == summary["rows"] and nclusters > 0
