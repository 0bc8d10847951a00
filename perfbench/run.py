"""Benchmark entry point.

    python3 perfbench/run.py --workload sort_write --seed 1 --seconds 20 --trace 0

Runs one workload in a single driver process (one closed-loop client) on a
local Spark session with at most four task slots and every other setting
as ``get_spark`` ships it. setup_s runs from process start, less input
generation, through ``get_spark`` and the cold warm-up pass. Then warm
passes run for ``--seconds``, each after Spark's caches are cleared, each
checked outside the timed region.

With ``--trace 0`` it prints the end-to-end metrics. With ``--trace 1`` it
also runs traced windows with Spark's event log on and prints the
per-layer metrics. The last line of standard output is the result object;
the line before it holds the raw samples and host-health readings.

Everything the run writes goes under ``.perfbench/`` in the checkout: a
cache of generated inputs, kept between runs, and a per-run scratch
directory, removed on exit, SIGTERM included.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Epoch time at which this process started, from its start time in
    ``/proc/self/stat`` (clock ticks since boot) and ``/proc/uptime``."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    ticks = int(stat[stat.rindex(")") + 2 :].split()[19])  # field 22, starttime
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import proctree  # noqa: E402
from perfbench.eventlog import COUNTERS, Span, read_events, window_counters  # noqa: E402

MIN_PASSES = 3
CALIBRATION_REPEATS = 3
# Per window, the event-log counters an optimisation is most likely to move;
# all of COUNTERS are also reported summed over a traced pass. GC time is
# left to the sum: in the short read and local-sort windows it is 0 s.
WINDOW_COUNTERS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "task_wait_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "driver_idle_s",
)
ALL_WINDOWS = (
    "read",
    "local_sort",
    "total_sort",
    "write",
    "hybrid_ranked",
    "ranked",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "share"
    return "count"


END_TO_END = ("setup_s", "job_s", "cpu_s")
PER_LAYER = (
    "session.start_s",
    "session.warmup_s",
    "io.read_s",
    "io.write_s",
    "io.sink_mb",
    "io.sink_files",
    "sorting.local_sort_s",
    "sorting.exchange_s",
    "sorting.ranked_s",
    "sorting.jobs",
    "hybrid.ranked_s",
    "hybrid.kernel_s",
    *(f"spark.{c}" for c in COUNTERS),
    *(f"spark.{w}.{c}" for w in ALL_WINDOWS for c in WINDOW_COUNTERS),
    "cpu.driver_s",
    "cpu.jvm_s",
    "cpu.pyworker_s",
    "rss.jvm_mb",
    "rss.pyworker_mb",
    "trace.overhead_s",
    "trace.unaccounted_share",
)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def calibration_spin() -> float:
    """Seconds for a fixed pure-Python loop: a host-health reading that
    shows when the machine itself was slow, reported beside the metrics."""
    times = []
    for _ in range(CALIBRATION_REPEATS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return median(times)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot: a host-health reading, like the calibration spin."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _sink_size(out: Path) -> tuple[float, int]:
    """MB and count of the part files a pass wrote under ``out``."""
    parts = [p for p in out.glob("*/part-*") if p.is_file()]
    return sum(p.stat().st_size for p in parts) / (1024 * 1024), len(parts)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except FileNotFoundError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_processes(pids: list[int], timeout: float = 20.0) -> None:
    """SIGTERM the given processes, SIGKILL the ones still alive after
    ``timeout`` seconds, and wait until every one has ended."""
    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.time() + wait
        while time.time() < end and any(_alive(p) for p in live):
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)


class Bench:
    """One benchmark run: owns the Spark session, the pass loop and the
    samples. ``close`` stops every process the run started."""

    def __init__(self, workload, inp, scratch: Path, cpus: int, detail: dict):
        self.wl = workload
        self.inp = inp
        self.scratch = scratch
        self.cpus = cpus
        self.detail = detail
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.spans: list[Span] = []

    # -- session -----------------------------------------------------------

    def start(self, extra_conf: dict | None = None) -> float:
        from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import session

        t0 = time.time()
        self.spark = session.get_spark(cpus=self.cpus, extra_conf=extra_conf)
        return time.time() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, graceful: bool) -> None:
        from pyspark import SparkContext

        started = proctree.descendants()
        if graceful:
            try:
                self.stop()
            except Exception:
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                traceback.print_exc()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
        stop_processes(started)

    def clear(self) -> None:
        """Drop cached tables and persisted RDDs, so that no pass is served
        from an earlier pass's cache."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    # -- passes ------------------------------------------------------------

    def _attempt(self, fn, check=None) -> bool:
        """Run ``fn`` and then the untimed ``check``; a raise from either
        counts as one failed operation."""
        self.attempted += 1
        try:
            fn()
            if check is not None:
                check()
            return True
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False

    def one_pass(self) -> dict:
        """One plain pass: wall time and process-tree CPU around the job,
        the output check after it."""
        out = self.scratch / "out"
        shutil.rmtree(out, ignore_errors=True)
        self.clear()
        sample = {}

        def timed():
            before = proctree.snapshot()
            t0 = time.perf_counter()
            try:
                self.wl.run(self.spark, self.inp, out)
            finally:
                sample["wall_s"] = time.perf_counter() - t0
                sample["cpu"] = proctree.snapshot() - before

        sample["ok"] = self._attempt(timed, lambda: self.wl.check(self.inp, out))
        sample["sink_mb"], sample["sink_files"] = _sink_size(out)
        shutil.rmtree(out, ignore_errors=True)
        return sample

    def setup(self, excluded_s: float) -> dict:
        """Start the session and run the cold warm-up pass. setup_s counts
        from process start until the first timed pass can begin, so it
        includes the warm-up pass's output check, less the ``excluded_s``
        spent on the calibration spin and input generation."""
        start_s = self.start()
        warm = self.one_pass()
        return {
            "setup_s": time.time() - PROCESS_START - excluded_s,
            "start_s": start_s,
            "warmup_s": warm["wall_s"],
            "ok": warm["ok"],
        }

    def timed_passes(self, seconds: float, minimum: int = MIN_PASSES) -> list[dict]:
        deadline = time.time() + seconds
        samples = []
        while len(samples) < minimum or time.time() < deadline:
            samples.append(self.one_pass())
        return samples

    # -- traced windows ----------------------------------------------------

    def window_pass(self, k: int) -> dict[str, float]:
        times = {}
        for name in self.wl.windows:
            group = f"{name}#{k}"
            out = self.scratch / "window"
            shutil.rmtree(out, ignore_errors=True)
            self.clear()
            self.group(group)

            def run(name=name, out=out):
                start = time.time()
                try:
                    self.wl.window(self.spark, self.inp, name, out)
                finally:
                    end = time.time()
                    times[name] = end - start
                    self.spans.append(Span(name, group, start * 1e3, end * 1e3))

            self._attempt(run)
            self.group(None)
            shutil.rmtree(out, ignore_errors=True)
        return times


def end_to_end(setup: dict, samples: list[dict]) -> dict[str, float]:
    good = [s for s in samples if s["ok"]]
    if not good:
        raise RuntimeError("every timed pass failed")
    return {
        "setup_s": setup["setup_s"],
        "job_s": median([s["wall_s"] for s in good]),
        "cpu_s": median([s["cpu"].cpu_s for s in good]),
    }


def traced(bench: Bench, setup: dict, seconds: float, eventlog_dir: Path) -> dict[str, float]:
    """The traced run: untraced plain passes first, then a session with the
    event log on, running window passes and traced plain passes in turn."""
    wl = bench.wl
    m: dict[str, float] = {}
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]

    plain = bench.timed_passes(seconds / 2)
    good = [s for s in plain if s["ok"]]
    if not good:
        raise RuntimeError("every untraced pass failed")
    m["cpu.driver_s"] = median([s["cpu"].driver_s for s in good])
    m["cpu.jvm_s"] = median([s["cpu"].jvm_s for s in good])
    m["cpu.pyworker_s"] = median([s["cpu"].pyworker_s for s in good])
    snap = proctree.snapshot()
    m["rss.jvm_mb"] = snap.jvm_mb
    m["rss.pyworker_mb"] = snap.pyworker_mb
    m["io.sink_mb"] = median([s["sink_mb"] for s in good])
    m["io.sink_files"] = median([s["sink_files"] for s in good])

    bench.stop()
    eventlog_dir.mkdir(parents=True, exist_ok=True)
    bench.start(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir.as_uri(),
            "spark.eventLog.compress": "false",
        }
    )
    bench.one_pass()  # warm the new session before any traced timing
    windows, traced_plain = [], []
    deadline = time.time() + seconds / 2
    while len(windows) < 2 or time.time() < deadline:
        k = len(windows)
        windows.append(bench.window_pass(k))
        bench.group(f"plain#{k}")
        traced_plain.append(bench.one_pass())
        bench.group(None)
    bench.stop()
    extras: dict[str, float] = {}
    bench._attempt(lambda: extras.update(wl.extras(bench.inp, bench.cpus)))
    m.update(extras)

    counters = window_counters(read_events(eventlog_dir), bench.spans)
    win_t = {w: median([p[w] for p in windows if w in p]) for w in wl.windows}
    win_c = {
        w: {c: median([counters[f"{w}#{k}"][c] for k in range(len(windows))]) for c in COUNTERS}
        for w in wl.windows
    }
    m.update(wl.layers(win_t, {w: win_c[w]["jobs"] for w in wl.windows}))
    for c in COUNTERS:
        m[f"spark.{c}"] = median(
            [sum(counters[f"{w}#{k}"][c] for w in wl.windows) for k in range(len(windows))]
        )
    for w in wl.windows:
        for c in WINDOW_COUNTERS:
            m[f"spark.{w}.{c}"] = win_c[w][c]
    traced_good = [s["wall_s"] for s in traced_plain if s["ok"]]
    # JIT and worker warm-up keep shortening passes through a run, so the
    # untraced reference is its last passes, as many as were traced
    untraced_job_s = median([s["wall_s"] for s in good][-len(traced_good) :])
    m["trace.overhead_s"] = median(traced_good) - untraced_job_s
    m["trace.unaccounted_share"] = 1.0 - wl.covered_s(win_t) / untraced_job_s

    if set(m) != set(PER_LAYER):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(m) ^ set(PER_LAYER))}")
    bench.detail["untraced_passes"] = [_sample_json(s) for s in plain]
    bench.detail["traced_passes"] = [_sample_json(s) for s in traced_plain]
    bench.detail["windows"] = {"seconds": win_t, "counters": win_c}
    bench.detail["spans"] = [s.as_dict() for s in bench.spans]
    return m


def _sample_json(s: dict) -> dict:
    out = {"ok": s["ok"], "wall_s": s.get("wall_s")}
    if "cpu" in s:
        c = s["cpu"]
        out.update(cpu_s=c.cpu_s, driver_s=c.driver_s, jvm_s=c.jvm_s, pyworker_s=c.pyworker_s)
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench"
    scratch = work / f"run-{os.getpid()}"
    signal.signal(signal.SIGTERM, _on_sigterm)
    bench = None
    graceful = False
    try:
        # the product package is imported here, so a checkout without it
        # fails before anything is printed
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload]
        for sub in ("tmp", "local", "eventlog"):
            (scratch / sub).mkdir(parents=True, exist_ok=True)
        # keep every file Spark, the JVM and Python write inside the checkout
        os.environ["TMPDIR"] = str(scratch / "tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'tmp'}"
        os.chdir(scratch)

        t0 = time.time()
        calib = calibration_spin()
        inp = wl.prepare(work / "inputs", args.seed)
        excluded = time.time() - t0

        cpus = min(4, len(os.sched_getaffinity(0)))
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "cpus": cpus,
            "input_rows": {"sort": inp.sort.rows, "rank": inp.rank.rows},
            "host": {"calib_spin_s": calib, "loadavg_start": os.getloadavg(), "steal_s": -steal_s()},
        }
        bench = Bench(wl, inp, scratch, cpus, detail)
        setup = bench.setup(excluded)
        detail["setup"] = setup

        if args.trace:
            metrics = traced(bench, setup, args.seconds, scratch / "eventlog")
        else:
            samples = bench.timed_passes(args.seconds)
            metrics = end_to_end(setup, samples)
            snap = proctree.snapshot()
            # not a metric: under get_spark's 16g heap default the JVM's
            # high-water RSS follows G1's heap sizing and spreads by a third
            detail["rss_mb"] = {"driver": snap.driver_mb, "jvm": snap.jvm_mb, "pyworker": snap.pyworker_mb}
            detail["passes"] = [_sample_json(s) for s in samples]
        graceful = True
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if bench is not None:
            bench.close(graceful)
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)

    detail["host"]["calib_spin_end_s"] = calibration_spin()
    detail["host"]["loadavg_end"] = os.getloadavg()
    detail["host"]["steal_s"] += steal_s()
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
