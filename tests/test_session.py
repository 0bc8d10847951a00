"""Session factory contracts: executor-side package shipping."""

from __future__ import annotations

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
    session as S,
)


def test_package_zip_is_shipped_to_workers(spark):
    """get_spark/configure_session must addPyFile a zip of the package so
    cloudpickled module-level functions resolve on executor Python workers
    regardless of the driver's cwd (the --py-files contract)."""
    sc = spark.sparkContext
    assert getattr(sc, S._SHIPPED_ATTR, False)
    shipped = [f for f in sc.listFiles if "phsqis_pkg_" in f and f.endswith(".zip")]
    assert shipped, sc.listFiles


def test_shipped_zip_contains_the_operators(spark, tmp_path):
    import zipfile

    S.ship_package(spark)  # idempotent
    zpath = S.Path(S.tempfile.gettempdir()) / f"phsqis_pkg_{S.os.getpid()}.zip"
    names = zipfile.ZipFile(zpath).namelist()
    pkg = "parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark"
    for mod in ("operators/hybrid.py", "streaming/stateful.py", "operators/similarity.py"):
        assert f"{pkg}/{mod}" in names


def test_shipped_zip_is_removed_at_exit(tmp_path):
    """A driver process leaves no ``phsqis_pkg_*.zip`` in its temp dir once
    its interpreter exits, even without stopping the session; neither a
    streaming query's ``phsqis_*`` temp dir nor the hybrid kernel's
    ``phsqis_kernel_*.so`` built by ``hybrid_ranked`` is left behind. The
    three chunk- or copy-staging runners, pointed at a missing events file,
    raise and leave no staged source behind either."""
    import os
    import subprocess
    import sys

    from tests.conftest import SF_DIR

    code = (
        "import glob, os, sys, tempfile\n"
        "from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark"
        ".session import get_spark\n"
        "from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark"
        ".queries import queries\n"
        "spark = get_spark('zip-cleanup', cpus=1)\n"
        "print(len(glob.glob(os.path.join(tempfile.gettempdir(), 'phsqis_pkg_*.zip'))))\n"
        f"queries()['events_stream_late_drop'](spark, {SF_DIR!r}).collect()\n"
        "from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark"
        ".operators import hybrid\n"
        "hybrid.hybrid_ranked(spark.range(5).selectExpr('id AS value'), num_partitions=2).collect()\n"
        "print(len(glob.glob(os.path.join(tempfile.gettempdir(), 'phsqis_kernel_*.so'))))\n"
        "from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark"
        ".streaming import stateful, windows\n"
        "missing = os.path.join(tempfile.gettempdir(), 'no_such_events.parquet')\n"
        "runs = [lambda: stateful.run_user_profile_stream(spark, missing),\n"
        "        lambda: windows.stream_hll_daily(spark, missing, day_us=86_400_000_000),\n"
        "        lambda: windows.stream_dedup(spark, missing)]\n"
        "raised = 0\n"
        "for run in runs:\n"
        "    try:\n"
        "        run()\n"
        "    except Exception:\n"
        "        raised += 1\n"
        "print(raised)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    root = S.Path(S.__file__).resolve().parent.parent
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True, timeout=300
    )
    assert run.returncode == 0, run.stderr[-2000:]
    # the zip, then the kernel, existed while the driver ran; all three
    # runners raised on the missing source
    assert run.stdout.split()[-3:] == ["1", "1", "3"]
    assert not list(tmp_path.glob("phsqis_*"))


# Event-log job counts per rep at sf0.001, the gate for a change in a
# cell's job structure. The iterative cells run on fixpoint.iterate; their
# counts are stable across runs (vec_pq_codes: lazy per-round pins plus a
# pinned training relation, 15 jobs where eager per-round pins ran 18).
# The two dedup.hamming_pairs cells are gated too; mm_frame_dedup_collapse
# is not: it runs connected_components, and other CC cells change by one
# job between reps.
PROFILED_JOBS = {
    "sort_seeded_ints": 7,
    "graph_kcore": 32,
    "graph_pagerank_trade": 41,
    "graph_lpa_communities": 25,
    "vec_kmeans_centroids": 18,
    "text_bpe_merges": 29,
    "vec_pq_codes": 15,
    "mm_frame_near_dup": 14,
    "dedup_simhash": 7,
}


def test_profiler_counts_jobs_per_rep_and_cleans_up(tmp_path):
    """scripts/profile_registry.py prints one JSON line per query with the
    event-log job count of the warm-up and of each timed rep (pinned in
    ``PROFILED_JOBS``), writes the formatted plan, and leaves no
    ``phsqis_*`` entry (its event-log dir, the package zip) in its temp
    dir."""
    import json
    import os
    import subprocess
    import sys

    from tests.conftest import SF_DIR

    root = S.Path(S.__file__).resolve().parent.parent
    plans = tmp_path / "plans"
    run = subprocess.run(
        [sys.executable, "scripts/profile_registry.py", "--sf", SF_DIR, "--reps", "1",
         "--plans", str(plans), *PROFILED_JOBS],
        cwd=root, env=dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    recs = [json.loads(ln) for ln in run.stdout.splitlines() if ln.startswith("{")]
    assert [r["query"] for r in recs] == list(PROFILED_JOBS), run.stdout
    for rec in recs:
        want = PROFILED_JOBS[rec["query"]]
        assert [r["jobs"] for r in (rec["warmup"], *rec["reps"])] == [want, want], rec
    assert "AdaptiveSparkPlan" in (plans / "sort_seeded_ints.txt").read_text()
    assert not list(tmp_path.glob("phsqis_*"))


def test_driver_window_is_exactly_the_priority_prefix():
    """The correctness driver checks the FIRST 50 queries() entries, so
    ordering is a public contract: the priority list must hold exactly 50
    names, every one must resolve in the registry (a typo would silently
    drop a slot), and the registry must lead with precisely that prefix."""
    import warnings

    import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the guard warning must NOT fire
        Q._ensure_loaded()
    assert len(Q._DRIVER_PRIORITY) == Q._DRIVER_WINDOW
    assert len(set(Q._DRIVER_PRIORITY)) == Q._DRIVER_WINDOW
    unresolved = [n for n in Q._DRIVER_PRIORITY if n not in Q.REGISTRY]
    assert not unresolved, unresolved
    assert list(Q.REGISTRY)[: Q._DRIVER_WINDOW] == list(Q._DRIVER_PRIORITY)


def test_every_query_has_an_oracle():
    """Every queries() entry must carry a DuckDB oracle. A new query
    landing without one is a coverage regression, not a choice this guard
    lets happen silently."""
    import __spark_entry__ as E

    assert set(E.queries()) - set(E.oracle_sql()) == set()


def test_planted_row_shifts_clear_real_id_ranges():
    """The recall/decontam measurement queries plant synthetic rows at
    doc_id + _RC_SHIFT / vec_id + _DECON_SHIFT. If a real id ever reached
    the shift, planted rows would silently collide with real ids in BOTH
    engines — corrupting the measurement with no parity failure (ADVICE
    r08). Pin: at every registered scale factor the max real id stays an
    order of magnitude below its shift."""
    import duckdb

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.text_dedup import (
        _RC_SHIFT,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.vectors import (
        _DECON_SHIFT,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        max_doc = duckdb.sql(
            f"SELECT max(doc_id) FROM '/root/testdata/{sf}/documents.parquet'"
        ).fetchone()[0]
        max_vec = duckdb.sql(
            f"SELECT max(vec_id) FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert max_doc * 10 < _RC_SHIFT, (sf, max_doc, _RC_SHIFT)
        assert max_vec * 10 < _DECON_SHIFT, (sf, max_vec, _DECON_SHIFT)


def test_every_query_is_recently_checked_or_parity_pinned():
    """Registry-honesty guard (VERDICT r08 item 6): the driver window
    covers only 50 of the registry per round, so every registered query
    must be pinned by at least one HARD signal — a driver CORRECTNESS
    row within the last 3 recorded rounds, or membership in some test
    file's ORACLE_QUERIES parity list (each is consumed by a
    parametrized test_oracle_parity that replays the query against its
    DuckDB oracle in-session). The r08 guard checked only oracle
    PRESENCE; this one checks check-RECENCY, so a query can no longer
    drift for five rounds between value checks without a test failing."""
    import importlib.util
    import json
    from pathlib import Path

    import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

    Q._ensure_loaded()
    repo = Path(__file__).resolve().parent.parent
    rounds = sorted(repo.glob("CORRECTNESS_r*.json"))
    recent: set[str] = set()
    for p in rounds[-3:]:
        recent |= set(json.loads(p.read_text()))
    # queries in the CURRENT driver window get their row this round
    recent |= set(Q._DRIVER_PRIORITY)

    spec = importlib.util.spec_from_file_location(
        "rotate_window_pins", repo / "scripts" / "rotate_window.py"
    )
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)
    pinned = rw.parity_pinned()

    uncovered = sorted(set(Q.REGISTRY) - recent - pinned)
    assert not uncovered, (
        f"{len(uncovered)} queries have neither a driver row in the last 3 "
        f"rounds (nor a slot in the current window) nor an ORACLE_QUERIES "
        f"parity pin: {uncovered}"
    )


def test_driver_window_survives_this_rounds_artifact():
    """Forward-looking rotation guard (VERDICT r11 item 1; horizon fixed
    per VERDICT r12 item 1): the hand-pasted window went red BETWEEN
    sessions twice, and the first mechanized check a third time — its
    "last TWO on-disk rounds" cover slid when the round's own CORRECTNESS
    artifact landed. The invariant is now TIME-INVARIANT: every registry
    query must be covered by (the committed window ∪ parity pins) — no
    on-disk-round term at all. The recency guard's
    "recent" set is always a superset of the window (the driver checks
    exactly the window each round), so if this cover holds at commit time
    it holds at judge time no matter how many artifacts land in between."""
    import importlib.util
    from pathlib import Path

    import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "rotate_window", repo / "scripts" / "rotate_window.py"
    )
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)
    Q._ensure_loaded()
    bad = rw.check(list(Q._DRIVER_PRIORITY))
    assert not bad, (
        f"{len(bad)} queries would fall out of the recency guard when this "
        f"round's CORRECTNESS file lands — re-run scripts/rotate_window.py: {bad}"
    )


def test_rotation_check_is_artifact_independent(tmp_path, monkeypatch):
    """Pin the r12 horizon fix (VERDICT r12 item 1): check()'s verdict must
    not change when CORRECTNESS artifacts land. Simulate the exact failure
    mode — evaluate check() against a clone of the repo layout, then land a
    synthetic NEXT-round artifact (and delete old rounds entirely) and
    re-evaluate: identical (empty) violation list every time. The r12
    scheme failed precisely this: its cover read 'the last TWO on-disk
    rounds', which slid when the round's own artifact dropped."""
    import importlib.util
    import json
    import shutil
    from pathlib import Path

    import parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.queries as Q

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "rotate_window_sim", repo / "scripts" / "rotate_window.py"
    )
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)
    Q._ensure_loaded()
    window = list(Q._DRIVER_PRIORITY)
    assert rw.check(window) == []

    clone = tmp_path / "repo"
    clone.mkdir()
    (clone / "tests").symlink_to(repo / "tests")
    for p in repo.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, clone / p.name)
    monkeypatch.setattr(rw, "REPO", clone)

    # the round's own artifact lands (driver rows = exactly the window)
    (clone / "CORRECTNESS_r98.json").write_text(
        json.dumps({n: {"rows_match": True} for n in window})
    )
    assert rw.check(window) == []
    # a further round lands with a single-name artifact (worst-case slide)
    (clone / "CORRECTNESS_r99.json").write_text(json.dumps({window[0]: {}}))
    assert rw.check(window) == []
    # even with NO history at all the cover must hold
    for p in clone.glob("CORRECTNESS_r*.json"):
        p.unlink()
    assert rw.check(window) == []


def test_bench_quiet_window_guard(monkeypatch):
    """bench.wait_for_quiet_window (VERDICT r08 item 7): returns quiet
    immediately when the probe is under threshold, and labels the run
    non-quiet (without hanging past its budget) when the machine never
    quiets. Probes are stubbed so the test is deterministic and sleepless."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CALIB_MAX_MS", "350")
    monkeypatch.setenv("SPARK_GRAFT_CALIB_WAIT_S", "600")
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)

    monkeypatch.setattr(bench, "calibrate_ms", lambda: 300.0)
    probe, waited, quiet = bench.wait_for_quiet_window()
    assert quiet and probe == 300.0

    # steal window that closes after 3 probes
    seq = iter([500.0, 480.0, 460.0, 310.0])
    monkeypatch.setattr(bench, "calibrate_ms", lambda: next(seq))
    probe, waited, quiet = bench.wait_for_quiet_window()
    assert quiet and probe == 310.0

    # persistent steal: floor stays >15% over threshold -> early bail after
    # 8 probes, labelled non-quiet
    calls = []

    def hot():
        calls.append(1)
        return 450.0

    monkeypatch.setattr(bench, "calibrate_ms", hot)
    probe, waited, quiet = bench.wait_for_quiet_window()
    assert not quiet and probe == 450.0
    assert len(calls) == 8  # bailed at the 8-probe floor check, not the budget


def test_scale_synth_pins_benchmark_set():
    """The sf1 embeddings synth (scripts/scale_check.py) must hold the
    decontam benchmark set (label=0) at the sf0.1 cardinality while the
    corpus scales 10x — otherwise the bench x corpus product scales 100x
    and the decontam slope measures the synth, not the corpus scan
    (VERDICT r08 item 4). Skipped until the synth has been built."""
    from pathlib import Path

    import duckdb
    import pytest

    sf1 = Path(__file__).resolve().parent.parent / ".sfdata" / "sf1" / "embeddings.parquet"
    if not sf1.exists():
        pytest.skip("sf1 synth not built in this checkout")
    a = duckdb.sql(
        f"SELECT count(*) FROM '{sf1}/*.parquet' WHERE label = 0"
    ).fetchone()[0]
    b = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.1/embeddings.parquet' WHERE label = 0"
    ).fetchone()[0]
    total = duckdb.sql(f"SELECT count(*) FROM '{sf1}/*.parquet'").fetchone()[0]
    assert a == b, (a, b)
    assert total >= 9 * b  # the corpus did scale
