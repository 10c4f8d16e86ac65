"""The north-rule packaging contract, exercised for real: spark-submit
--py-files axosyslog_spark.zip runner.py, with the archive built from
the tree by tools/make_pyfiles.build, must process every bucket with
per-bucket lineage, and a re-submit with the same --output must skip
all committed buckets (idempotent resume)."""

from __future__ import annotations

import shutil
import subprocess
from pathlib import Path

import pytest

from tools.make_pyfiles import build

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _submit(pyfiles: str, out_dir: Path) -> str:
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", pyfiles,
            str(REPO / "axosyslog_spark" / "runner.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(out_dir),
            "--n-buckets", "4",
        ],
        capture_output=True, text=True, timeout=600, cwd=str(REPO),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout


@pytest.mark.skipif(
    not Path(SPARK_SUBMIT).exists(), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_runs_and_resumes(tmp_path):
    pyfiles = build(str(tmp_path / "axosyslog_spark.zip"))
    out = tmp_path / "routed"
    first = _submit(pyfiles, out)
    assert "processed=4 skipped=0" in first
    assert "committed" in first
    # per-bucket sink dirs + the lineage checkpoint landed
    assert (out / "_checkpoint.jsonl").exists()
    assert sorted(
        p.name for p in out.iterdir() if p.name.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]
    # idempotent resume: same output dir -> every bucket skips
    second = _submit(pyfiles, out)
    assert "processed=0 skipped=4" in second
