"""Smoke test of the benchmark itself (not part of the tier-1 suite).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at the reduced ``--scale smoke`` with a 1-second
run length, once untraced and twice traced, and checks that:

- every end-to-end metric of BENCHMARK.json is printed with its unit,
  and every per-layer metric appears in the traced output;
- no operation failed (``failed`` is 0, so the failure rate is 0);
- the two traced runs give identical counts (py4j call commands, write
  tasks, rows added, store files, and jobs and stages where AQE does
  not reshape them);
- ``corpus_analytics`` traces the ingest layer (its curation pass runs
  ``cli.run_ingest``);
- a directory holding only BENCHMARK.json and the benchmark exits
  non-zero without printing a result.

Takes several minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("rag_session", "ingest_incremental", "corpus_analytics")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(cwd: str, workload: str, trace: int, seed: int = 3):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def parse(p) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


def counts(workload: str, detail: dict, result: dict) -> dict:
    """Counters that must repeat exactly between two traced runs: py4j
    call commands, write tasks, rows added and store files, plus jobs
    and stages outside ``corpus_analytics``. There, AQE submits some
    query stages as jobs of their own or folds them into the next job
    depending on timing, so job, stage and task counts of a query such
    as ``minhash_neardup`` vary from run to run."""
    found = {k: v["value"] for k, v in result["metrics"].items()}
    found.update(detail.get("layers", {}))
    keep = ("py4j_calls", "write_tasks", "rows_added", "store_files")
    if workload != "corpus_analytics":
        keep += ("jobs_per_op", "jobs_per_turn", "stages_per_op")
    return {k: v for k, v in found.items() if k.endswith(keep)}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload(workload):
    s = spec()
    detail, res = parse(bench(ROOT, workload, 0))
    assert res["failed"] == 0 and res["correct"], detail["failures"]
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in s["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert {"nproc", "load1", "steal_pct"} <= set(detail["host"])

    traced = [parse(bench(ROOT, workload, 1)) for _ in range(2)]
    want = {m["name"]: m["unit"] for m in s["per_layer"]}
    for d, r in traced:
        assert r["failed"] == 0 and r["correct"], d["failures"]
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want
        assert d["layers"]
    assert counts(workload, *traced[0]) == counts(workload, *traced[1])
    if workload == "corpus_analytics":
        r = traced[0][1]["metrics"]
        assert r["self_pct.operators.ingest"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(str(tmp_path), "rag_session", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
