"""Smoke tests of the benchmark at its tiny scale.

    python3 -m pytest perfbench/tests -q

Each Spark-backed case starts one ``run.py`` process (~30 s each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
_RUNS: dict[tuple, tuple[dict, dict]] = {}


def bench(*args: str) -> tuple[dict, dict]:
    """(summary line, result line) of one tiny-scale run, cached."""
    if args not in _RUNS:
        cmd = [sys.executable, "perfbench/run.py", "--seconds", "2", "--scale", "tiny", *args]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        _RUNS[args] = json.loads(lines[-2]), json.loads(lines[-1])
    return _RUNS[args]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    summary, result = bench("--workload", workload, "--seed", "3", "--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert summary["error_rate"] == {"value": 0.0, "unit": "ratio"}


def test_traced_run_prints_layers_and_writes_linked_spans():
    summary, result = bench("--workload", "roi", "--seed", "3", "--trace", "1")
    assert result["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["union_agg.method_dissolve"]["value"] > 0
    assert result["metrics"]["overlap.refine_self_ms"]["value"] != 0
    # read from the executed scan, not restated
    assert result["metrics"]["query_roi.partitions_scanned"]["value"] >= 1
    assert result["metrics"]["cells.cover_cells"]["value"] >= 1
    trace = ROOT / ".perfbench" / "traces" / summary["trace_file"]
    spans = [json.loads(line) for line in trace.read_text().splitlines()]
    by_id = {s["id"]: s for s in spans}
    linked = [s for s in spans if s["parent"] is not None]
    assert linked, "no span has a parent"
    for s in linked:
        parent = by_id[s["parent"]]
        assert parent["op"] == s["op"]
        assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
    names = {s["name"] for s in spans}
    assert {"op", "layers", "overlap.refine", "union_agg", "icelite.write"} <= names


def test_same_seed_same_snapshot_checksum():
    first, _ = bench("--workload", "roi", "--seed", "3", "--trace", "0")
    second, _ = bench("--workload", "roi", "--seed", "3", "--trace", "1")
    other, _ = bench("--workload", "roi", "--seed", "4", "--trace", "0")
    assert first["snapshot_checksum"] == second["snapshot_checksum"]
    assert first["snapshot_checksum"] != other["snapshot_checksum"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_injected_wrong_result_raises_error_rate(workload):
    summary, result = bench("--workload", workload, "--seed", "3", "--trace", "0", "--inject-fault")
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert summary["error_rate"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [*SPEC["command"], "--workload", "roi", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_padded_clip_matches_known_areas():
    from perfbench import checks

    square = np.array([[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]])
    tri = np.array([[1.0, -1.0], [3.0, 1.0], [1.0, 3.0]])
    polys, counts = checks.clip_convex_padded(square, np.array([4]), tri)
    # inside the square the triangle is just x >= 1: a 1 x 2 strip
    assert checks.padded_areas(polys, counts)[0] == pytest.approx(2.0)
    diamond = np.array([[1.0, 0.0], [2.0, 1.0], [1.0, 2.0], [0.0, 1.0]])
    polys, counts = checks.clip_convex_padded(square, np.array([4]), diamond)
    assert checks.padded_areas(polys, counts)[0] == pytest.approx(2.0)
    far = np.array([[5.0, 5.0], [6.0, 5.0], [6.0, 6.0]])
    polys, counts = checks.clip_convex_padded(square, np.array([4]), far)
    assert counts[0] == 0
