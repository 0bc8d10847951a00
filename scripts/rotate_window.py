#!/usr/bin/env python3
"""Mechanically derive the 50-name `_DRIVER_PRIORITY` window (VERDICT r11 #1,
horizon fixed per VERDICT r12 #1 / ADVICE r12 high).

The correctness driver oracle-checks the FIRST `_DRIVER_WINDOW` entries of
``queries()`` each round, and the recency guard
(tests/test_session.py::test_every_query_is_recently_checked_or_parity_pinned)
requires every registered query to have a driver row within the last THREE
recorded rounds, an ORACLE_QUERIES parity pin, or a slot in the current
window. Hand-rotating the tuple went red between sessions twice (r10, r11);
the round-12 mechanization went red a third time because its forward check
keyed off "the last TWO on-disk rounds" — a set that SLIDES when the round's
own CORRECTNESS artifact lands, so a name whose newest row was exactly two
rounds back (vec_bucketed_near_dup, r10) fell out at judge time.

Round-13 scheme — TIME-INVARIANT by construction. Only 35 of the 211
registered queries lack an ORACLE_QUERIES parity pin (each pinned name is
re-verified against its DuckDB oracle by an in-session parametrized
test_oracle_parity every pytest run), and 35 < 50, so the window can simply
carry EVERY unpinned name EVERY round:

1. FRONT (``--front``): queries whose implementation/oracle changed this
   round — they need a fresh driver row regardless of recency.
2. MUST: every registry name with no parity pin, ordered
   oldest-driver-row-first (never-checked sorts first). Not just
   the stale ones — ALL of them, so coverage never depends on which
   CORRECTNESS files happen to be on disk.
3. FILL: remaining slots go to parity-pinned names, oldest-checked-first
   (ties alphabetical), so pinned queries still cycle through real driver
   rows over time.

``--check`` verifies the invariant: registry ⊆ (window ∪ pins).
No on-disk-round term — the predicate evaluates identically before and after
any number of CORRECTNESS artifacts land, so the recency guard (whose
"recent" set only ever GROWS relative to this cover) cannot go red between
sessions. Consumed by
tests/test_session.py::test_driver_window_survives_this_rounds_artifact.
If the unpinned set ever outgrows the window, derive() refuses loudly:
the fix is adding parity pins, never hand-trimming MUST.
"""

from __future__ import annotations

import argparse
import ast
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

def _strings(node) -> list[str]:
    if isinstance(node, (ast.List, ast.Tuple)):
        return [
            e.value
            for e in node.elts
            if isinstance(e, ast.Constant) and isinstance(e.value, str)
        ]
    return []


def parity_pinned() -> set[str]:
    """Names pinned by a parity test (also read by the recency guard): an
    inline parametrize list on a test_oracle_parity function, or a
    module-level *_QUERIES list that such a decorator references by name.
    An unrelated *_QUERIES list (e.g. PLAN_QUERIES) pins nothing."""
    pinned: set[str] = set()
    for tf in (REPO / "tests").glob("test_*.py"):
        tree = ast.parse(tf.read_text())
        module_lists: dict[str, list[str]] = {}
        consumed: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name) and t.id.endswith("_QUERIES"):
                        module_lists[t.id] = _strings(node.value)
            if isinstance(node, ast.FunctionDef) and node.name.startswith(
                "test_oracle_parity"
            ):
                for deco in node.decorator_list:
                    if isinstance(deco, ast.Call):
                        for arg in deco.args:
                            pinned.update(_strings(arg))
                            for ref in ast.walk(arg):
                                if isinstance(ref, ast.Name):
                                    consumed.add(ref.id)
        for name in consumed & set(module_lists):
            pinned.update(module_lists[name])
    return pinned


def newest_rows() -> dict[str, int]:
    """name -> newest round with a driver row (age ordering only — coverage
    deliberately does NOT read this; see module docstring)."""
    newest: dict[str, int] = {}
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rn = int(re.search(r"r(\d+)", p.name).group(1))
        for name in json.loads(p.read_text()):
            newest[name] = max(newest.get(name, 0), rn)
    return newest


def registry_names() -> list[str]:
    sys.path.insert(0, str(REPO))
    import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

    Q._ensure_loaded()
    return list(Q.REGISTRY)


def derive(front: list[str], window: int = 50) -> list[str]:
    names = registry_names()
    newest = newest_rows()
    pinned = parity_pinned()

    for f in front:
        if f not in names:
            raise SystemExit(f"--front name not in registry: {f}")

    def age_key(n: str):
        return (newest.get(n, -1), n)  # never-checked (-1) sorts first

    out: list[str] = list(dict.fromkeys(front))
    must = sorted((n for n in names if n not in pinned and n not in out), key=age_key)
    out += must
    if len(out) > window:
        raise SystemExit(
            f"front({len(front)}) + must({len(must)}) = {len(out)} > {window}: "
            "the unpinned set no longer fits in the window — add parity pins "
            "(ORACLE_QUERIES lists), never hand-trim MUST."
        )
    fill = sorted((n for n in names if n not in out), key=age_key)
    out += fill[: window - len(out)]
    return out


def check(window_names: list[str]) -> list[str]:
    """Time-invariant cover: registry ⊆ window ∪ pins. Holds (or
    fails) identically no matter which CORRECTNESS artifacts are on disk, so
    a green commit cannot turn red when the round's artifact lands. Return
    violations."""
    names = registry_names()
    pinned = parity_pinned()
    covered = set(window_names) | pinned
    return sorted(set(names) - covered)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--front", nargs="*", default=[], help="changed-this-round names")
    ap.add_argument("--check", action="store_true", help="verify the committed window")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    if args.check:
        registry_names()  # inserts REPO on sys.path (ADVICE r12: was below import)
        import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

        bad = check(list(Q._DRIVER_PRIORITY))
        if bad:
            print(f"NOT COVERED: {len(bad)} names outside window∪pins: {bad}")
            raise SystemExit(1)
        print(f"OK: window of {len(Q._DRIVER_PRIORITY)} covers every unpinned query")
        return

    names = derive(args.front, args.window)
    print("_DRIVER_PRIORITY: tuple[str, ...] = (")
    for n in names:
        print(f'    "{n}",')
    print(")")


if __name__ == "__main__":
    main()
