"""The one round loop of the iterative operators (PageRank, label
propagation, k-core, connected components, k-means, PQ and BPE).

Every round's output is pinned with ``localCheckpoint``: without the cut
an iterative DataFrame loop nests one full round plan under the next, so
the analysed plan (and Catalyst's time on it) grows with the round count
and every action re-executes the whole history. With it the carried state
is a constant-size RDD scan whatever the round count.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _checksum(state: DataFrame) -> tuple[int, int]:
    """Row count and ``bit_xor(xxhash64(row))``: an O(1)-row aggregate that
    is overflow-free under ANSI mode and independent of reduction order."""
    row = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*state.columns)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    eager: bool = False,
    fixpoint: bool = False,
) -> DataFrame:
    """Run ``state = step(state, r).localCheckpoint(eager=eager)`` for
    ``r = 1..rounds`` and return the last state.

    ``fixpoint=True`` stops at the first round whose checksum (row count
    plus ``bit_xor`` of every row's ``xxhash64``) equals the previous
    one, taken once before the loop and once after each round (one Spark
    job each). If no round reaches it within ``rounds``, the state is not
    a fixpoint and the result would be silently wrong, so it raises a
    ``RuntimeError``: callers raise their round cap.

    The pin kind is a per-operator measurement, not a rule. Under adaptive
    query execution (on in ``session.get_spark``) a lazy pin is not free:
    ``Dataset.localCheckpoint`` plans the adaptive query at once, and that
    runs every exchange's map stage while the loop builds, leaving only the
    result stage to the caller's action (or to the next checksum). An
    eager pin runs that result stage too, one more job per round. PageRank
    measured lazy pins 15-25% slower than eager ones; label propagation,
    k-core, connected components, k-means and PQ keep lazy pins, BPE and
    PageRank eager ones.
    """
    prev = _checksum(state) if fixpoint else None
    for r in range(1, rounds + 1):
        state = step(state, r).localCheckpoint(eager=eager)
        if fixpoint:
            cur = _checksum(state)
            if cur == prev:
                return state
            prev = cur
    if fixpoint:
        raise RuntimeError(
            f"iteration did not converge in {rounds} rounds; raise the round cap"
        )
    return state
