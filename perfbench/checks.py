"""Output checks run after every pass, outside the timed region.

Each check reads what the pass wrote with pyarrow and raises
``CheckFailed`` when the output is wrong.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class CheckFailed(Exception):
    pass


def read_parts(out_dir: Path, columns: list[str]) -> dict[str, np.ndarray]:
    """Concatenate the part files of a Spark parquet output in file-name
    order, which for a range-partitioned sort is the global order."""
    parts = sorted(Path(out_dir).glob("part-*"))
    if not parts:
        raise CheckFailed(f"no part files in {out_dir}")
    tables = [pq.read_table(p, columns=columns) for p in parts]
    table = pa.concat_tables(tables)
    return {c: table.column(c).to_numpy() for c in columns}


def _exact_dot(a: np.ndarray, b: np.ndarray, chunk: int = 1 << 20) -> int:
    """sum(a * b) as a Python int. Each chunk's int64 dot stays far below
    2**63 for the benchmark's sizes (rank <= 2**24, value < 2**20)."""
    return sum(int(np.dot(a[i : i + chunk], b[i : i + chunk])) for i in range(0, len(a), chunk))


def check_sorted(out_dir: Path, rows: int, value_sum: int) -> None:
    """Part files read in name order are globally ordered on
    ``(value, id)``, hold ``rows`` rows and keep the sum of values."""
    cols = read_parts(out_dir, ["id", "value"])
    v, i = cols["value"], cols["id"]
    if len(v) != rows:
        raise CheckFailed(f"sort_write: {len(v)} rows, expected {rows}")
    if int(v.sum()) != value_sum:
        raise CheckFailed("sort_write: sum of values changed")
    dv = v[1:] - v[:-1]
    ordered = (dv > 0) | ((dv == 0) & (i[1:] > i[:-1]))
    if not ordered.all():
        at = int(np.argmin(ordered))
        raise CheckFailed(f"sort_write: rows {at} and {at + 1} are out of (value, id) order")


def _rank_invariant(name: str, rnk: np.ndarray, value: np.ndarray, rows: int, value_sum: int) -> int:
    if len(rnk) != rows:
        raise CheckFailed(f"{name}: {len(rnk)} rows, expected {rows}")
    order = np.argsort(rnk, kind="stable")
    rnk, value = rnk[order], value[order]
    if not np.array_equal(rnk, np.arange(1, rows + 1)):
        raise CheckFailed(f"{name}: ranks are not exactly 1..{rows}")
    if int(value.sum()) != value_sum:
        raise CheckFailed(f"{name}: sum of values changed")
    if (value[1:] < value[:-1]).any():
        raise CheckFailed(f"{name}: values do not ascend with rank")
    return _exact_dot(rnk, value)


def check_rankings(hybrid_dir: Path, ranked_dir: Path, rows: int, value_sum: int) -> None:
    """Both rankers give ranks 1..N over ascending values, and agree on
    sum(rnk * value), which does not depend on how ties are ordered."""
    h = read_parts(hybrid_dir, ["rnk", "value"])
    r = read_parts(ranked_dir, ["rnk", "value"])
    sh = _rank_invariant("hybrid_ranked", h["rnk"], h["value"], rows, value_sum)
    sr = _rank_invariant("ranked", r["rnk"], r["value"], rows, value_sum)
    if sh != sr:
        raise CheckFailed(f"rankers disagree on sum(rnk * value): {sh} vs {sr}")

