"""Profile registry queries from one session: per-rep build and wall time
plus the Spark counters of each rep.

Usage: python scripts/profile_registry.py [--sf DIR] [--reps N]
           [--conf spark.key=value ...] [--plans DIR] [query ...]
       (no names = every registry query)

One session (``session.get_spark``, event log on) serves the whole run.
For each query, one warm-up rep and then ``--reps`` timed reps run, each
after ``bench.clear_caches`` and in a job group of its own:

  build_s  until ``fn(spark, sf)`` returns its DataFrame (eager loop
           actions and checkpoints run here)
  wall_s   through the noop sink, build included

After the session stops, ``perfbench/eventlog.py::window_counters`` turns
the event log into each rep's jobs, stages, tasks, task CPU/run/wait
seconds, GC, shuffle and spill MB, failed tasks and ``driver_idle_s`` (rep
wall time that no job of its group covers). The event log lives in a
``phsqis_profile_*`` temp dir, removed on exit.

Prints a calibration probe (``bench.calibrate_ms``) first and last, and one
JSON line per query: sf, the warm-up rep, the timed reps and their median
``wall_s`` (or ``error`` if the query raised). ``--conf`` adds session
config (repeatable). ``--plans DIR`` writes the formatted physical plan of
each query's last DataFrame to ``DIR/<query>.txt``; the noop write runs a
copy of it, so its top-level ``AdaptiveSparkPlan`` reads
``isFinalPlan=false``. A failed capture is written as ``CAPTURE FAILED:
...`` and the run goes on.

Known limit: streaming micro-batch jobs run under the stream's own job
group, so a streaming cell's counters miss them: ``events_stream_tumbling``
shows 2 jobs and 5 tasks, and nearly all of its wall time as
``driver_idle_s``. Its ``build_s`` and ``wall_s`` are complete.

The file is not named ``profile.py``: pyspark imports ``cProfile``, which
imports the standard library's ``profile``, and a script of that name
would shadow it for every script run from this directory.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import calibrate_ms, clear_caches, materialize  # noqa: E402
from perfbench.eventlog import Span, read_events, window_counters  # noqa: E402

INT_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")


def time_reps(spark, fn, sf: str, reps: int, group: str):
    """One warm-up rep, then ``reps`` timed reps of ``fn(spark, sf)`` into
    the noop sink, each after ``clear_caches`` in job group ``<group>#<i>``
    (``#0`` is the warm-up). Returns the rep records, warm-up first, and the
    last rep's DataFrame."""
    sc = spark.sparkContext
    recs, df = [], None
    for i in range(reps + 1):
        clear_caches(spark)
        g = f"{group}#{i}"
        sc.setJobGroup(g, g)
        start = time.time()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf)
            t1 = time.perf_counter()
            materialize(df)
            t2 = time.perf_counter()
        finally:
            end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
        recs.append(
            {
                "span": Span(g, g, start * 1e3, end * 1e3),
                "build_s": round(t1 - t0, 3),
                "wall_s": round(t2 - t0, 3),
            }
        )
    return recs, df


def plan_text(spark, df) -> str:
    try:
        return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as exc:  # a failed capture must not stop the run
        return f"CAPTURE FAILED: {exc}\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="scale-factor directory")
    ap.add_argument("--reps", type=int, default=3, help="timed reps after the warm-up")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf as key=value (repeatable)")
    ap.add_argument("--plans", help="write each query's formatted plan here")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.session import (
        get_spark,
    )

    extra = dict(kv.split("=", 1) for kv in args.conf)
    if args.plans:
        Path(args.plans).mkdir(parents=True, exist_ok=True)
    reg = registry.queries()
    names = args.queries or list(reg)
    print(f"CALIB {calibrate_ms()} ms  conf={extra}", flush=True)
    log_dir = Path(tempfile.mkdtemp(prefix="phsqis_profile_"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the finally
    try:
        spark = get_spark(
            "phsqis-profile",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                **extra,
            },
        )
        spark.range(1000).count()
        results = []
        for q, name in enumerate(names):
            try:
                recs, df = time_reps(spark, reg[name], args.sf, args.reps, f"q{q}")
            except Exception as exc:  # one failing query must not stop the run
                traceback.print_exc()
                results.append({"query": name, "sf": args.sf, "error": repr(exc)[:500]})
                continue
            if args.plans:
                Path(args.plans, f"{name}.txt").write_text(plan_text(spark, df))
            print(f"PROFILE {name} walls={[r['wall_s'] for r in recs]}", file=sys.stderr, flush=True)
            results.append({"query": name, "sf": args.sf, "recs": recs})
        spark.stop()

        spans = [r["span"] for res in results for r in res.get("recs", ())]
        counters = window_counters(read_events(log_dir), spans)
        for res in results:
            if "recs" in res:
                reps = [
                    {"build_s": r["build_s"], "wall_s": r["wall_s"]}
                    | {
                        k: int(v) if k in INT_COUNTERS else round(v, 3)
                        for k, v in counters[r["span"].group].items()
                    }
                    for r in res.pop("recs")
                ]
                res.update(
                    warmup=reps[0],
                    reps=reps[1:],
                    median_wall_s=statistics.median(r["wall_s"] for r in reps[1:]),
                )
            print(json.dumps(res), flush=True)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    print(f"CALIB_END {calibrate_ms()} ms", flush=True)


if __name__ == "__main__":
    main()
