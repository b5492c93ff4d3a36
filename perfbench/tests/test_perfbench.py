"""Self-test of the benchmark: every workload for one warm pass at sf0.001
(``--seconds 1`` gives one warm pass on every workload).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each run launches a Spark driver, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
LAYER_SUMS = (
    "plans.ctor_s",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "exec.exec_s",
)


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """Run the benchmark once; return (result line, diagnostics)."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--data", "sf0.001", *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


@pytest.fixture(scope="module", params=WORKLOADS)
def plain(request):
    return bench(request.param, 0)


@pytest.fixture(scope="module", params=WORKLOADS)
def traced(request):
    return bench(request.param, 1)


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_end_to_end_metrics_with_units_and_all_gates_match(plain):
    result, diag = plain
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["metrics"]["success_rate"]["value"] == 1.0, diag["errors"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(diag["pass_kinds"]) * len(diag["gate_wall_s"])
    assert diag["env"]["SPARK_GRAFT_ROUND"] == "0"
    assert diag["env"]["PYTHONPATH"] == ROOT


def test_corrupted_expected_hash_lowers_success_rate():
    result, diag = bench("book_batch", 0, "--corrupt", "book_row_metrics")
    assert result["metrics"]["success_rate"]["value"] < 1.0
    assert not result["correct"]
    assert diag["checks"]["book_row_metrics"] is False
    assert result["failed"] == len(diag["pass_kinds"])  # once per pass


def test_per_layer_metrics_and_layers_add_up_to_gate_wall(traced):
    """``exec.exec_s`` comes from the duration Spark records for the write's
    SQL execution, not from the benchmark's clock, so the sum is off when a
    layer is attributed to the wrong execution or counted twice."""
    result, diag = traced
    _assert_metrics(result, SPEC["per_layer"])
    assert result["correct"], diag["errors"]
    assert set(diag["per_gate"]) == set(diag["gate_wall_s"])
    for gate, layers in diag["per_gate"].items():
        total = sum(layers[k] for k in LAYER_SUMS)
        assert abs(total - layers["wall_s"]) <= 0.05 * layers["wall_s"], (gate, layers)
        assert layers["exec.jobs"] >= 1, gate
        assert layers["catalyst.optimization_s"] > 0, gate
    # phases are whole milliseconds, so a small gate's planning can read 0
    assert result["metrics"]["catalyst.planning_s"]["value"] > 0
