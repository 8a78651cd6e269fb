"""The north rule's deployment path: spark-submit --py-files.

Every in-process test imports the package from the checkout; this test
proves the PACKAGED path — a fresh spark-submit JVM, launched from a
neutral cwd (no checkout on sys.path), importing the engine exclusively
from the --py-files zip, running real spatial joins and the PII
scrubber. This is the only test that exercises the exact deployment
shape a multi-executor cluster uses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gis_shapefile_spark.session import _package_zip, host_cpus  # noqa: E402

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def test_spark_submit_pyfiles_roundtrip(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit binary available")
    zip_path = _package_zip()
    # sized like session.get_spark: $SPARK_GRAFT_CPUS, else nproc
    master = f"local[{int(os.environ.get('SPARK_GRAFT_CPUS') or host_cpus())}]"

    env = dict(os.environ)
    # neutral PYTHONPATH: the engine must come from --py-files, not the
    # checkout (PYTHONPATH pointing at the repo would mask zip bugs)
    env.pop("PYTHONPATH", None)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

    proc = subprocess.run(
        [
            submit,
            "--master",
            master,
            "--py-files",
            zip_path,
            str(REPO / "tools" / "submit_job.py"),
        ],
        cwd=str(tmp_path),  # neutral cwd: repo not importable from here
        env=env,
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["master"] == master
    assert out["pip_rows"] == 6  # every probe point lands in a state
    assert out["knn_rows"] == 18  # 6 points x k=3
    assert out["scrubbed"] == "mail me <EMAIL> or call <PHONE>"
