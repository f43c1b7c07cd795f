"""The benchmark's own tests, at test size (a few hundred pages, a
handful of queries). Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gate, layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench(workload: str, trace: int = 0) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_emits_every_end_to_end_metric(workload):
    res = _bench(workload)
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.E2E
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric():
    res = _bench("ingest", trace=1)
    assert res["correct"] is True
    assert ({k: v["unit"] for k, v in res["metrics"].items()}
            == layers.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["builder.jobs"] > 0 and m["maintenance.update_jobs"] > 0
    assert m["executor.jobs_per_query"] > 0
    trace = os.path.join(ROOT, ".bench_build", "perfbench", "trace",
                         "ingest-seed3.json")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"setup", "workload", "builder.build_index",
            "maintenance.update", "query.search"} <= names


def test_gate_trips_on_perturbed_score(monkeypatch):
    """A score off by one part in a million fails the search run."""
    from swish_e_spark.query.executor import SparkQueryEngine

    real = SparkQueryEngine.search

    def perturbed(self, q, k=10, **kw):
        return [(d, s * (1 + 1e-6)) for d, s in real(self, q, k, **kw)]

    monkeypatch.setattr(SparkQueryEngine, "search", perturbed)
    monkeypatch.chdir(ROOT)
    args = run.parse_args(["--workload", "search", "--seed", "3",
                           "--seconds", "2", "--tiny"])
    assert run.run(ROOT, args)["correct"] is False


def test_tie_groups_compare_as_sets():
    want = [("a", 2.0), ("b", 1.0), ("c", 1.0), ("d", 0.5)]
    gate.check_ties_as_sets("t", [("a", 2.0), ("c", 1.0), ("b", 1.0),
                                  ("d", 0.5)], want, k=10)
    with pytest.raises(gate.GateError):
        gate.check_ties_as_sets("t", [("a", 2.0), ("c", 1.0), ("e", 1.0),
                                      ("d", 0.5)], want, k=10)
    with pytest.raises(gate.GateError):
        gate.check_exact("t", [(1, 1.0)], [(1, 1.0 + 1e-6)])
