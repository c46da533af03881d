"""spark-submit --py-files smoke test (SURVEY.md §3.1, BASELINE.json
north_rule: "run via spark-submit --py-files on a multi-executor
cluster").

The job script is copied OUTSIDE the repo and submitted with only
dist-built engine.zip on --py-files, so every `engine.*` import must
resolve from the shipped artifact — the exact deploy shape of a real
cluster submit (the sandbox has no cluster; local[4] stands in).
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

sys.path.insert(0, str(REPO))

from scripts.make_pyfiles import build  # noqa: E402


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    return cand if os.path.exists(cand) else None


def test_spark_submit_pyfiles_ingest(tmp_path):
    submit = _spark_submit()
    if submit is None:
        import pytest

        pytest.skip("spark-submit not on this host")
    zip_path = build(tmp_path / "engine.zip")
    job = tmp_path / "ingest.py"
    shutil.copy(REPO / "jobs" / "ingest.py", job)
    out = tmp_path / "out"
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    res = subprocess.run(
        [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            str(zip_path),
            str(job),
            "--n-pages",
            "200",
            "--output",
            str(out),
            "--shuffle-partitions",
            "4",
            # 2 incremental-commit batches: exercises the per-batch
            # manifest path without paying 8 tiny jobs' fixed costs
            "--commit-batches",
            "2",
        ],
        cwd=tmp_path,  # NOT the repo — imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    for sub in ("extracted", "chunks", "lineage", "_manifest"):
        assert (out / sub).exists(), f"missing {sub}; stderr: {res.stderr[-2000:]}"
    # each chunk's vector lives in chunks: there is no vectors table
    assert not (out / "vectors").exists()
    # the job prints its metrics dict as the last stdout line
    assert "'docs':" in res.stdout, res.stdout[-500:]
