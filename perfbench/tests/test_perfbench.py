"""Tests of the benchmark itself (not part of the repo's tier-1 suite).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["rows"] == c["rows"]


def test_generated_structure_is_not_trivial(tmp_path):
    import duckdb

    from commerce_data_pipeline_spark.queries import REGISTRY

    info = gen.generate("operators", 3, str(tmp_path))
    assert info["shape"]["copurchase_edges"] > 1000
    assert info["shape"]["doc_exact_dup_rate"] > 0
    con = duckdb.connect()
    for t in info["rows"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}.parquet')")
    pairs = con.sql(REGISTRY["lsh_dedup_pairs"].oracle).fetchall()
    # every doc pairs with its shifted twin; near-duplicates add real pairs
    near = [p for p in pairs if abs(p[1] - p[0]) != 1_000_000]
    assert len(near) > 10
    ranks = con.sql(REGISTRY["part_pagerank"].oracle).fetchall()
    assert len(ranks) == 100
    hits = con.sql(f"SELECT COUNT(*) FROM ({REGISTRY['contamination'].oracle}) "
                   "WHERE n_hits > 0").fetchone()[0]
    assert hits > 0


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "5",
                             "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


def _git_status():
    r = subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def _cache_listing():
    cache = os.path.join(ROOT, "commerce_data_pipeline_spark", ".cache")
    return sorted(os.path.relpath(os.path.join(r, n), cache)
                  for r, ds, fs in os.walk(cache) for n in ds + fs)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    before = (_git_status(), _cache_listing())
    r = _run(workload, 0)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert (_git_status(), _cache_listing()) == before


def test_traced_run_reports_every_per_layer_metric():
    r = _run("operators", 1)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert set(want) == set(layers.NAMES)
    assert out["metrics"]["part_communities.jobs"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    r = _run("operators", 0, cwd=str(tmp_path))
    assert r.returncode != 0
    assert r.stdout.strip() == ""
