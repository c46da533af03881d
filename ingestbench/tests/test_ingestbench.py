"""Tests of the ingest benchmark itself.

    python3 -m pytest ingestbench/tests -q

The smoke test runs every workload at a small size in a subprocess
(one Spark session each, about a minute per workload).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from ingestbench import workloads as wl  # noqa: E402
from ingestbench.reference import Reference, latest_per_url  # noqa: E402
from ingestbench.run import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def pool():
    p = multiprocessing.get_context("fork").Pool(2)
    yield p
    p.close()
    p.join()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(workload, pool):
    a = wl.generate(workload, 5, 60, pool)
    assert a == wl.generate(workload, 5, 60, pool)
    assert a["crawls"] != wl.generate(workload, 6, 60, pool)["crawls"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_mix_routes_match_declared_mix(seed, pool):
    gen = wl.generate("cc_mix", seed, 200, pool)
    assert Counter(gen["kinds"].values()) == wl.quotas(200, wl.CC_MIX)
    ref = Reference(gen["crawls"][0])
    want = Counter(wl.ROUTE_OF_KIND[k] for k in gen["kinds"].values())
    assert dict(ref.routes) == dict(want)


def test_recrawl_changes_and_adds_declared_shares(pool):
    n = 200
    gen = wl.generate("recrawl_delta", 4, n, pool)
    snap, later = (latest_per_url(c) for c in gen["crawls"])
    assert set(snap) <= set(later)
    assert len(set(later) - set(snap)) == round(n * wl.RECRAWL_NEW)
    changed = {u for u in snap if snap[u][2] != later[u][2]}
    assert changed == gen["changed"]
    assert len(changed) == round(len(snap) * wl.RECRAWL_CHANGED)
    # every url is re-captured later than its snapshot capture
    assert all(later[u][1] > snap[u][1] for u in snap)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_prints_every_metric_and_matches_reference(workload):
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from ingestbench.run import run_workload\n"
        "r = run_workload(%r, 3, 0, True, pages=40)\n"
        "print(json.dumps(r))\n" % (ROOT, workload)
    )
    p = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert res["correct"] and res["info"]["mismatched_urls"] == 0
    assert set(res["e2e"]) == {m["name"] for m in bench["end_to_end"]}
    assert set(res["per_layer"]) == {m["name"] for m in bench["per_layer"]}
    assert res["e2e"]["url_match_frac"] == 1.0
    assert all(v > 0 for v in res["e2e"].values())
    # the spans around jobs.ingest's calls cover the job's wall, up to
    # what tracing itself adds and the job's own code between calls
    # (~0.25 s, 5% of a job at this size)
    per = res["per_layer"]
    assert per["trace.span_coverage"] >= 1 - max(0.0, per["trace_overhead_frac"]) - 0.1


def test_refuses_to_run_outside_a_checkout(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "ingestbench"),
        tmp_path / "ingestbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "ingestbench/run.py", "--workload", "cc_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
