"""Smoke test of the benchmark at tiny input size (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced at ``--size tiny`` and checks that
each metric BENCHMARK.json names is emitted with its unit; then runs with
``--corrupt`` (one row dropped from an output table after each operation)
and checks that every operation is counted as failed.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "1", "--size", "tiny",
         *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def result(*args: str) -> dict:
    p = run(ROOT, *args)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_emitted_with_its_unit(workload, trace, kind):
    out = result("--workload", workload, "--trace", str(trace))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    values = {k: v["value"] for k, v in out["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values())
    if kind == "end_to_end":
        assert all(v > 0 for v in values.values()), values
    else:
        # stage attribution is complete: the stages' shuffle adds up to every
        # job the event log shows during the pipeline
        stage_sum = sum(v for k, v in values.items() if k.endswith(".shuffle_bytes")
                        and k.startswith("stage."))
        assert stage_sum == pytest.approx(values["app.shuffle_bytes"])
        assert values["pipeline.wall_s"] > 0 and values["trace.op_s"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_a_dropped_row_counts_as_a_failed_operation(workload):
    out = result("--workload", workload, "--trace", "0", "--corrupt")
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 2


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(tmp_path, "--workload", WORKLOADS[0], "--trace", "0")
    assert p.returncode != 0
    assert not p.stdout.strip()
