"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload traced and untraced through the command line and
checks that each metric BENCHMARK.json names prints with its unit, that
a traced run writes its spans, and that the correctness gate fails
when the expected fingerprint is perturbed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = ("hybrid_extract", "lineage_canon_build", "battery_sf001")


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--convs", "64"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, stdout
    assert result["attempted"] >= 1 and result["failed"] == 0
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in named]
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    # the human-readable table names every end-to-end metric, wall_s,
    # triples_per_s and fail_rate
    for name in [m["name"] for m in SPEC["end_to_end"]] + [
            "wall_s", "triples_per_s", "fail_rate"]:
        assert f"   {name} " in stdout
    if trace:
        run_id = stdout.splitlines()[0].rsplit("run ", 1)[1].strip()
        rundir = os.path.join(ROOT, ".perfbench", "runs", run_id)
        with open(os.path.join(rundir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        assert spans and all(
            set(s) == {"run_id", "id", "name", "parent", "start", "end"}
            and s["run_id"] == run_id and s["end"] >= s["start"]
            for s in spans)
        with open(os.path.join(rundir, "report.json")) as f:
            assert json.load(f)["missing_metrics"] == []


@pytest.mark.parametrize("workload", ("hybrid_extract", "lineage_canon_build"))
def test_gate_fails_on_perturbed_fingerprint(workload, monkeypatch):
    sys.path[:0] = [HERE, ROOT]
    import harness
    import run
    import workloads

    harness.prepare_env()
    cls = workloads.WORKLOADS[workload]
    reference = cls.reference

    def perturbed(self, ctx):
        reference(self, ctx)
        n, fp, warnings = self.ref
        self.ref = (n, fp + 1, warnings)

    monkeypatch.setattr(cls, "reference", perturbed)
    args = run.argparse.Namespace(seed=7, seconds=1.0, trace=0, convs=64)
    result = run.run_workload(workload, args, SPEC)
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
