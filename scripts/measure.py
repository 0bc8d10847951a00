"""Isolated per-query timing: median-of-N reps with the noop writer
(the bench-isolation rules: run alone, never time with .count()).

Usage: python scripts/measure.py [--reps N] [--sf DIR] \
           [--conf spark.key=value ...] query [query ...]
Prints one line per query: name median=X.XXX reps=[...]

--conf passes extra session config (repeatable) for measured A/B
experiments (guide §1: change one thing, re-measure); the calibration
probe from bench.py is printed first so each measurement batch carries
its machine-health label.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path
import time

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf as key=value (repeatable)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import calibrate_ms, clear_caches, get_spark, materialize
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
        tables,
    )

    extra = dict(kv.split("=", 1) for kv in args.conf)
    print(f"CALIB {calibrate_ms()} ms  conf={extra}", flush=True)
    spark = get_spark("phsqis-measure", extra_conf=extra)
    spark.range(1000).count()
    tables.load_table(spark, args.sf, "lineitem").count()
    reg = registry.queries()
    for name in args.queries:
        fn = reg[name]
        reps = []
        for _ in range(args.reps):
            clear_caches(spark)
            t0 = time.perf_counter()
            materialize(fn(spark, args.sf))
            reps.append(round(time.perf_counter() - t0, 3))
        med = sorted(reps)[len(reps) // 2]
        print(f"MEASURE {name} median={med} reps={reps}", flush=True)
    print(f"CALIB_END {calibrate_ms()} ms", flush=True)


if __name__ == "__main__":
    main()
