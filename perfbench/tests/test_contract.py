"""BENCHMARK.json and the metric names the benchmark prints agree."""

import json
import subprocess
import sys
from pathlib import Path

from perfbench import run

ROOT = Path(__file__).resolve().parents[2]


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run._unit(m["name"])
    assert len(set(run.PER_LAYER)) == len(run.PER_LAYER)


def test_unknown_workload_fails_without_a_result():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "nope", "--seed", "1", "--seconds", "1"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
