"""Steadiness record: run every workload many times and report the spread.

    python3 perfbench/steadiness.py --runs 10 [--workloads sort_write,...] [--out FILE]

Each run uses its own seed (``--first-seed`` upwards) and ``run_seconds``
from ``BENCHMARK.json``. For every end-to-end metric the record gives the
median, the quartiles (``statistics.quantiles(n=4)``) and the quartile
spread as a share of the median, next to the metric's bound. Each run's
calibration spin is kept as a host-health field, not as a metric.
"""

from __future__ import annotations

import argparse
import json
import signal
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarise(values: list[float], bound: float) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": spread,
        "bound": bound,
        "within_third_of_bound": spread < bound / 3,
        "values": values,
    }


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        str(ROOT / "perfbench" / "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]  # fmt: skip
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited with {proc.returncode}")
    lines = out.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", type=Path)
    args = ap.parse_args(argv)
    if args.runs < 2:
        ap.error("--runs must be at least 2 to give quartiles")
    signal.signal(signal.SIGTERM, lambda s, f: sys.exit(128 + s))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    record = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            result, detail = run_once(wl, seed, spec["run_seconds"])
            runs.append(
                {
                    "seed": seed,
                    "correct": result["correct"],
                    "attempted": result["attempted"],
                    "failed": result["failed"],
                    "metrics": {n: m["value"] for n, m in result["metrics"].items()},
                    "host": detail["host"],
                    "pass_s": [x["wall_s"] for x in detail["passes"]],
                }
            )
            print(json.dumps({"workload": wl, **runs[-1]}), file=sys.stderr, flush=True)
        record["workloads"][wl] = {
            "failed": sum(r["failed"] for r in runs),
            "metrics": {
                name: summarise([r["metrics"][name] for r in runs], bound) for name, bound in bounds.items()
            },
            "calib_spin_s": [r["host"]["calib_spin_s"] for r in runs],
        }
    text = json.dumps(record, indent=1)
    if args.out:
        args.out.write_text(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
