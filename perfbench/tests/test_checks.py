"""Each check accepts a correct output and rejects a corrupted copy."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks


def _write_parts(path, columns, splits):
    path.mkdir(parents=True)
    n = len(next(iter(columns.values())))
    bounds = [0, *splits, n]
    for k, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(
            pa.table({c: v[a:b] for c, v in columns.items()}),
            path / f"part-{k:05d}-x.parquet",
        )


def _sorted_ints(n=1000, seed=0):
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    values = rng.integers(0, 50, n, dtype=np.int64)
    order = np.lexsort((ids, values))
    return ids[order], values[order], int(values.sum())


def test_sorted_output_passes(tmp_path):
    ids, values, total = _sorted_ints()
    _write_parts(tmp_path / "o", {"id": ids, "value": values}, [300, 700])
    checks.check_sorted(tmp_path / "o", len(ids), total)


@pytest.mark.parametrize("corruption", ["swap_parts", "tie_order", "drop_row", "change_value"])
def test_sorted_output_corruption_fails(tmp_path, corruption):
    ids, values, total = _sorted_ints()
    rows = len(ids)
    if corruption == "tie_order":
        j = int(np.flatnonzero(values[1:] == values[:-1])[0])
        ids[[j, j + 1]] = ids[[j + 1, j]]
    elif corruption == "drop_row":
        ids, values = ids[:-1], values[:-1]
    elif corruption == "change_value":
        values = values.copy()
        values[-1] += 1
    cols = {"id": ids, "value": values}
    if corruption == "swap_parts":
        _write_parts(tmp_path / "o", {c: np.concatenate([v[500:], v[:500]]) for c, v in cols.items()}, [500])
    else:
        _write_parts(tmp_path / "o", cols, [500])
    with pytest.raises(checks.CheckFailed):
        checks.check_sorted(tmp_path / "o", rows, total)


def _ranking(values, rng):
    order = np.argsort(values, kind="stable")
    rnk = np.arange(1, len(values) + 1, dtype=np.int64)
    shuffle = rng.permutation(len(values))  # part files need not be in rank order
    return {"rnk": rnk[shuffle], "value": values[order][shuffle]}


def test_rankings_pass(tmp_path):
    rng = np.random.default_rng(1)
    values = rng.integers(0, 20, 500, dtype=np.int64)
    _write_parts(tmp_path / "h", _ranking(values, rng), [250])
    _write_parts(tmp_path / "r", _ranking(values[::-1].copy(), rng), [100])
    checks.check_rankings(tmp_path / "h", tmp_path / "r", len(values), int(values.sum()))


@pytest.mark.parametrize("corruption", ["duplicate_rank", "swap_values", "lost_row"])
def test_rankings_corruption_fails(tmp_path, corruption):
    rng = np.random.default_rng(2)
    values = rng.integers(0, 20, 500, dtype=np.int64)
    good = _ranking(values, rng)
    bad = {c: v.copy() for c, v in good.items()}
    if corruption == "duplicate_rank":
        bad["rnk"][bad["rnk"] == 2] = 1
    elif corruption == "swap_values":
        lo, hi = np.argmin(bad["rnk"]), np.argmax(bad["rnk"])
        bad["value"][[lo, hi]] = bad["value"][[hi, lo]]
    else:
        bad = {c: v[:-1] for c, v in bad.items()}
    _write_parts(tmp_path / "h", good, [250])
    _write_parts(tmp_path / "r", bad, [250])
    with pytest.raises(checks.CheckFailed):
        checks.check_rankings(tmp_path / "h", tmp_path / "r", len(values), int(values.sum()))

