"""Seeded input generators for the benchmark.

Inputs are made with numpy and pyarrow only, written once as parquet per
(seed, size) and reused from a cache directory. The program under
test only ever sees the parquet files.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INT_MODULUS = 1_000_000  # the reference's `rand() % 1000000` distribution


def write_ints(path: Path, seed: int, rows: int) -> None:
    """``(id, value)`` int64 rows: ids 0..rows-1, values uniform in
    [0, INT_MODULUS), so each value repeats about rows/INT_MODULUS times."""
    rng = np.random.default_rng([seed, 1])
    table = pa.table(
        {
            "id": np.arange(rows, dtype=np.int64),
            "value": rng.integers(0, INT_MODULUS, rows, dtype=np.int64),
        }
    )
    # 16 row groups so a local[4] scan splits into balanced tasks
    pq.write_table(table, path / "ints.parquet", row_group_size=max(1, -(-rows // 16)))


def _touch(path: Path) -> None:
    # an explicit clock reading: the kernel's own "now" is too coarse to
    # order entries touched within a few milliseconds
    now = time.time_ns()
    os.utime(path, ns=(now, now))


def cached(cache_dir: Path, key: str, make, keep: int = 6) -> Path:
    """Return ``cache_dir/key``, generating it with ``make(path)`` on a miss.

    Generation writes into a temporary sibling that is renamed into place,
    so a killed run never leaves a half-written entry. Only the ``keep``
    most recently used entries survive, which bounds the disk the cache
    takes when many seeds are run."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    final = cache_dir / key
    if final.is_dir():
        _touch(final)
        return final
    tmp = cache_dir / f".{key}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    try:
        make(tmp)
        tmp.rename(final)
        _touch(final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entries = sorted(
        (p for p in cache_dir.iterdir() if p.is_dir() and not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return final
