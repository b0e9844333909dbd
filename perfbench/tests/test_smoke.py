"""Tiny-size runs of every workload on two seeds, plus one traced run,
through the benchmark's command line.

Slow (one JVM per run): ``python3 -m pytest perfbench/tests -q``.
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}


def run(tmp_path, workload, seed, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "0.1", "--trace", str(trace), "--size", "tiny",
           "--workdir", str(tmp_path)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(report_line)["report"], json.loads(result_line)


def test_workloads_match_benchmark_json():
    assert tuple(w["name"] for w in BENCH["workloads"]) == WORKLOADS
    assert list(eventlog.metric_units()) == [m["name"] for m in BENCH["per_layer"]]


@pytest.mark.parametrize("seed", [11, 12])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_is_correct(workload, seed, tmp_path):
    report, result = run(tmp_path, workload, seed)
    assert result["correct"], report["errors"]
    assert result["attempted"] >= 2 and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["host"]["nproc"] >= 1 and report["host"]["seed"] == seed


def test_traced_run_reports_every_layer_metric(tmp_path):
    report, result = run(tmp_path, "tile_pages", 13, trace=1)
    assert result["correct"], report.get("traced_errors")
    assert set(result["metrics"]) == set(eventlog.metric_units())
    m = result["metrics"]
    assert m["checkpoint.files_written"]["value"] > 0
    assert m["hilbert_native.cells_out"]["value"] > 0
    assert m["tiling.fragments_per_row"]["value"] >= 1
    assert m["cluster.jobs"]["value"] > 0
    assert set(report["trace_overhead"]) == set(E2E) - {"setup_s"}


def test_missing_engine_exits_without_result(tmp_path):
    bench = tmp_path / "bench"
    (bench / "perfbench").mkdir(parents=True)
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / "perfbench" / f.name).write_text(f.read_text())
    (bench / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bench, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
