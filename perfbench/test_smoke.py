"""Smoke test of the benchmark at a tiny input scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every registered workload once untraced and once traced, and the
unregistered olist_incremental once untraced, and checks that each run
prints the result line, emits exactly the metrics registered in
BENCHMARK.json, and executes every output check. A few minutes on four
cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# tiny inputs; the query tables need a few hundred rows per table for
# every registered query to have work
SCALE = {"olist_full_load": 0.1, "olist_incremental": 0.1, "headline_queries": 0.1}
# output checks per run: one row count per silver table plus one
# stability check per gold and mart table; one equivalence check per
# lake table plus one row count per silver table; one oracle check per
# query
CHECKS = {"olist_full_load": 8 + 10, "olist_incremental": 18 + 8, "headline_queries": 29}
REGISTERED = sorted(w["name"] for w in SPEC["workloads"])


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    stamp = next(json.loads(x[len("# provenance "):]) for x in lines
                 if x.startswith("# provenance "))
    return json.loads(lines[-1]), stamp


def test_registered_workloads_are_the_benchmarks():
    assert REGISTERED == ["headline_queries", "olist_full_load"]


@pytest.mark.parametrize(
    ("workload", "trace"),
    [(w, t) for w in REGISTERED for t in (0, 1)] + [("olist_incremental", 0)],
)
def test_workload_runs_and_reports(workload: str, trace: int):
    result, stamp = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and 0 <= result["failed"] <= result["attempted"]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
    assert stamp["checks"] == CHECKS[workload]
    assert stamp["cycles"] >= 1


def test_refuses_to_run_outside_a_checkout(tmp_path: Path):
    """In a directory holding only the benchmark, it fails without a result."""
    (tmp_path / "perfbench").mkdir()
    for p in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / p.name).write_text(p.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olist_full_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert not out.stdout.strip()
