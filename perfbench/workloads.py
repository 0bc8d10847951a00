"""The workloads, driven only through the package's public functions.

Each workload has a plain pass (what ``job_s`` times) and an untimed check
of that pass's output. Both share one list of windows for the traced run:
window k runs the first k public calls of the total sort and materialises
the result with the ``noop`` sink, so a layer's time is the difference
between consecutive windows (the reference's sort-only / total-order /
with-sink method); the two rankers get a window each.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import io as sio
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    hybrid,
    sorting,
)

from . import checks, inputs

SORT_KEYS = ["value", "id"]
KERNEL_REPEATS = 3


@dataclass
class Ints:
    path: Path
    rows: int
    value_sum: int


@dataclass
class Input:
    sort: Ints  # what the total sort and its windows read
    rank: Ints  # what the two rankers read


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ints(cache: Path, seed: int, rows: int) -> Ints:
    path = inputs.cached(cache, f"ints-{seed}-{rows}", lambda p: inputs.write_ints(p, seed, rows))
    values = pq.read_table(path / "ints.parquet", columns=["value"]).column("value")
    return Ints(path / "ints.parquet", len(values), pc.sum(values).as_py())


class IntsWorkload:
    """Shared by both workloads: seeded ints inputs, the traced windows and
    the layer times derived from them."""

    name: str
    sort_rows: int
    rank_rows: int
    windows = ("read", "local_sort", "total_sort", "write", "hybrid_ranked", "ranked")

    def prepare(self, cache: Path, seed: int) -> Input:
        return Input(_ints(cache, seed, self.sort_rows), _ints(cache, seed, self.rank_rows))

    def window(self, spark, inp: Input, name: str, out: Path) -> None:
        if name == "hybrid_ranked":
            _noop(hybrid.hybrid_ranked(sio.read_table(spark, str(inp.rank.path))))
            return
        if name == "ranked":
            _noop(sorting.ranked(sio.read_table(spark, str(inp.rank.path)), SORT_KEYS))
            return
        df = sio.read_table(spark, str(inp.sort.path))
        if name == "read":
            _noop(df)
        elif name == "local_sort":
            _noop(sorting.partition_sort(df, SORT_KEYS))
        elif name == "total_sort":
            _noop(sorting.total_sort(df, SORT_KEYS))
        else:
            sio.write_sorted(df, str(out / "window"), SORT_KEYS)

    def layers(self, t: dict[str, float], jobs: dict[str, float]) -> dict[str, float]:
        return {
            "io.read_s": t["read"],
            "sorting.local_sort_s": t["local_sort"] - t["read"],
            "sorting.exchange_s": t["total_sort"] - t["local_sort"],
            "io.write_s": t["write"] - t["total_sort"],
            "sorting.jobs": jobs["total_sort"] - jobs["read"],
            "hybrid.ranked_s": t["hybrid_ranked"],
            "sorting.ranked_s": t["ranked"],
        }

    def extras(self, inp: Input, cpus: int) -> dict[str, float]:
        """One partition's worth of rank rows through the hybrid kernel,
        called in this process; the median of ``KERNEL_REPEATS`` calls."""
        n = inp.rank.rows // cpus
        values = pq.read_table(inp.rank.path, columns=["value"]).column("value")[:n].to_pylist()
        expect = sorted(values)
        times = []
        for _ in range(KERNEL_REPEATS):
            arr = list(values)
            t0 = time.perf_counter()
            hybrid.hybrid_quickinsertion_sort(arr)
            times.append(time.perf_counter() - t0)
            if arr != expect:
                raise checks.CheckFailed("hybrid_quickinsertion_sort returned unsorted values")
        return {"hybrid.kernel_s": sorted(times)[len(times) // 2]}


class SortWrite(IntsWorkload):
    """Read ints, write them globally sorted on (value, id) as parquet: the
    reference's whole capability on the pure-JVM path. The traced run also
    times the two rankers on a smaller input of the same kind."""

    name = "sort_write"
    sort_rows = 8_000_000
    rank_rows = 300_000

    def run(self, spark, inp: Input, out: Path) -> None:
        sio.write_sorted(sio.read_table(spark, str(inp.sort.path)), str(out / "sorted"), SORT_KEYS)

    def check(self, inp: Input, out: Path) -> None:
        checks.check_sorted(out / "sorted", inp.sort.rows, inp.sort.value_sum)

    def covered_s(self, t: dict[str, float]) -> float:
        return t["write"]


class RankHybrid(IntsWorkload):
    """Rank ints twice and write both rankings as parquet: the Python hybrid
    quick+insertion kernel behind ``zipWithIndex``, and the
    persist-count-broadcast ``sorting.ranked``. The traced run's sort
    windows read the same input."""

    name = "rank_hybrid"
    sort_rows = rank_rows = 1_000_000

    def run(self, spark, inp: Input, out: Path) -> None:
        df = sio.read_table(spark, str(inp.rank.path))
        sio.write_table(hybrid.hybrid_ranked(df), str(out / "hybrid"))
        sio.write_table(sorting.ranked(df, SORT_KEYS), str(out / "ranked"))

    def check(self, inp: Input, out: Path) -> None:
        checks.check_rankings(out / "hybrid", out / "ranked", inp.rank.rows, inp.rank.value_sum)

    def covered_s(self, t: dict[str, float]) -> float:
        return t["hybrid_ranked"] + t["ranked"]


WORKLOADS = {w.name: w for w in (SortWrite(), RankHybrid())}
