"""Self-test of the benchmark: every workload at toy size prints every
metric of BENCHMARK.json with its unit, a dropped output record shows
up as a failure, and a directory without the program is refused.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark session, so the file takes minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["telemetry_paced"]


def _run(workload: str, *extra: str, trace: int = 0, cwd: Path = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--size", "toy", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    diag = json.loads(lines[-2])["diagnostics"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result, diag


def _units(result) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result, diag = _result(_run(workload))
    assert result["correct"] and result["failed"] == 0
    assert diag["failed_ratio"] == 0
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_per_layer_metrics():
    result, diag = _result(_run("telemetry_replay", trace=1))
    assert result["correct"]
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    m = {name: v["value"] for name, v in result["metrics"].items()}
    assert m["json_lenient.records_in"] == result["attempted"]
    assert m["consumer.latency_rows"] == m["violations.events_out"] == m["consumer.valid_violations"]
    assert m["microbatch.batches"] > 0 and m["spark.jobs"] > 0
    assert Path(ROOT / diag["trace_file"]).is_file()


@pytest.mark.parametrize("workload", ["telemetry_replay", "catalog_batch"])
def test_dropped_record_is_a_failure(workload):
    result, diag = _result(_run(workload, "--inject-drop"))
    assert not result["correct"]
    assert result["failed"] >= 1 and diag["failed_ratio"] > 0


def test_refused_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("telemetry_replay", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
