"""Event-time analytics tests: oracle parity + streaming/batch equivalence."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, SF_DIR_LARGE, assert_matches_oracle

ORACLE_QUERIES = [
    "events_tumbling_window",
    "events_sliding_window",
    "events_sessionize",
    "events_json_props",
    "events_stream_user_profile",
    "events_asof_join",
    "events_range_join",
    "events_stream_enrich",
    "events_stream_cms",
    "events_ewma",
    "events_rollup_multires",
    "events_user_timeline",
    "events_resample_interpolate",
    "events_ab_test",
    "events_bootstrap_ci",
    "events_hll_daily_merge",
    "pipeline_feature_assembly",
    "events_stream_late_drop",
    # r08: promoted from rows-only (exact med/MAD + rank-guarantee booleans)
    "events_outlier_robust_approx",
    "events_psi_drift",
    "events_stream_scd2_enrich",
    # r08 late adds
    "events_attribution",
    "events_type_entropy",
    "events_hll_intersection",
    "events_stream_attribution",
    "events_stream_hll_daily",
    # r08 third-session adds
    "events_stream_windowed_topk",
    "events_seasonal_anomaly",
    "events_cusum_changepoint",
    "events_survival_retention",
    "events_dau_wau_mau",
    # r09: recency-guard backfill (test_session) — behavioral tests existed
    # but no in-session oracle parity pin
    "events_cohort_retention",
    "events_funnel",
    "events_funnel_counts",
    "events_transition_matrix",
    "events_stream_tumbling",
    "events_stream_sessionize",
    "events_stream_stream_join",
    "events_stream_dedup",
]


def test_stream_late_drop_is_nondegenerate(spark):
    """The late-data query must actually exercise the drop path: some
    events dropped, some windows emitted — otherwise the oracle agreement
    would be vacuous."""
    row = entrymod.queries()["events_stream_late_drop"](spark, SF_DIR).collect()[0]
    assert row["late_dropped"] > 0
    assert row["emitted_windows"] > 0
    assert row["emitted_events"] > 0


def test_asof_properties(spark):
    """Every matched prev click is at-or-before its purchase and is the
    LATEST such click for that user."""
    qs = entrymod.queries()
    out = qs["events_asof_join"](spark, SF_DIR)
    assert out.filter("prev_ts_us > ts_us").count() == 0
    # no other click strictly between prev_ts and ts for the same user
    from pyspark.sql import functions as F
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    clicks = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("c_us"))
    )
    gaps = out.where(F.col("prev_ts_us").isNotNull()).join(clicks, "user_id").where(
        (F.col("c_us") > F.col("prev_ts_us")) & (F.col("c_us") <= F.col("ts_us"))
    )
    assert gaps.count() == 0


def test_range_join_properties(spark):
    qs = entrymod.queries()
    out = qs["events_range_join"](spark, SF_DIR).collect()
    assert len(out) == len({(r["error_id"], r["click_id"]) for r in out}), "pair dup"
    for r in out:
        assert abs(r["delta_us"]) <= 10 * 60 * 1_000_000


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(qs[name](spark, SF_DIR), oracles[name], SF_DIR)


def test_stream_equals_batch(spark):
    """The watermarked streaming aggregation, fully drained over a static
    source, must equal the batch aggregation exactly."""
    qs = entrymod.queries()
    batch = {tuple(r) for r in qs["events_tumbling_window"](spark, SF_DIR).collect()}
    stream = {tuple(r) for r in qs["events_stream_tumbling"](spark, SF_DIR).collect()}
    assert batch == stream
    assert len(batch) > 0


def test_stream_sessionize_equals_batch(spark):
    """The state-store session merge, fully drained over a static replay,
    must produce exactly the batch session_window result."""
    qs = entrymod.queries()
    batch = {tuple(r) for r in qs["events_sessionize"](spark, SF_DIR).collect()}
    stream = {tuple(r) for r in qs["events_stream_sessionize"](spark, SF_DIR).collect()}
    assert batch == stream
    assert len(batch) > 0


def test_stream_stream_join_equals_batch(spark):
    """Two watermarked streams joined with a time bound, fully drained,
    must equal the batch range join exactly."""
    from pyspark.sql import functions as F
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    qs = entrymod.queries()
    stream = {tuple(r) for r in qs["events_stream_stream_join"](spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    p = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.unix_micros("ts").alias("p_us")
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
    )
    batch = {
        tuple(r)
        for r in p.join(
            c,
            (p["user_id"] == c["c_user"])
            & ((p["p_us"] - c["c_us"]).between(0, 10 * 60 * 1_000_000)),
        )
        .select("purchase_id", "click_id", "user_id", (F.col("p_us") - F.col("c_us")).alias("delta_us"))
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_stream_dedup_restores_single_copy(spark):
    """Row-level pin (stronger than the aggregate oracle): deduping a
    twice-staged source through the state store yields exactly the distinct
    event_ids of one copy, each exactly once."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.streaming import (
        windows as W,
    )

    deduped = W.stream_dedup(spark, f"{SF_DIR}/events.parquet", key_cols=["event_id"], copies=2)
    got = [r["event_id"] for r in deduped.select("event_id").collect()]
    want = [r["event_id"] for r in load_table(spark, SF_DIR, "events").select("event_id").collect()]
    assert sorted(got) == sorted(want)  # every id exactly once, none lost


def test_stateful_stream_equals_batch(spark):
    """applyInPandasWithState across 3 micro-batches converges to the batch
    aggregation exactly (int64 accumulation)."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.streaming import (
        stateful as S,
    )

    ev = load_table(spark, SF_DIR, "events")
    batch = {tuple(r) for r in S.user_profile_batch(ev).collect()}
    stream = {
        tuple(r)
        for r in S.run_user_profile_stream(
            spark, f"{SF_DIR}/events.parquet", n_chunks=3
        ).collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_sessions_cover_all_events(spark):
    from pyspark.sql import functions as F

    qs = entrymod.queries()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sessions = qs["events_sessionize"](spark, SF_DIR)
    total = sessions.agg(F.sum("n_events")).collect()[0][0]
    assert total == ev.count()
    # sessions for one user never overlap: start >= previous end ⇒ gap holds
    pdf = sessions.orderBy("user_id", "session_start_us").toPandas()
    for uid, grp in pdf.groupby("user_id"):
        starts = grp["session_start_us"].tolist()
        ends = grp["session_end_us"].tolist()
        for s, e_prev in zip(starts[1:], ends[:-1]):
            assert s >= e_prev


def test_stream_cms_equals_batch_build(spark):
    """The streaming windowed CMS, fully drained, must equal the batch
    build: same explode-cells + window aggregation expressed as a plain
    DataFrame over the static table. Also pins mergeability: summing the
    per-window sketches cell-wise equals the whole-table cms_build."""
    from pyspark.sql import functions as F

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        sketch as SK,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    qs = entrymod.queries()
    stream = {tuple(r) for r in qs["events_stream_cms"](spark, SF_DIR).collect()}

    ev = load_table(spark, SF_DIR, "events").where(F.col("user_id").isNotNull())
    fanned = ev.select(
        F.window("ts", "6 hours").alias("win"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), SK._cell(F.col("user_id"), j, 256).alias("cell")
                    )
                    for j in range(4)
                ]
            )
        ).alias("__c"),
    )
    batch = {
        tuple(r)
        for r in fanned.groupBy(
            F.col("win.start").alias("win_start"),
            F.col("__c.j").alias("j"),
            F.col("__c.cell").alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream == batch

    # cell-wise merge of the per-window sketches == one whole-table sketch
    merged = {
        (r["j"], r["cell"], r["n"])
        for r in qs["events_stream_cms"](spark, SF_DIR)
        .groupBy("j", "cell")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    whole = {
        tuple(r)
        for r in SK.cms_build(
            ev.select(F.col("user_id").alias("value")), "value", depth=4, width=256
        ).collect()
    }
    assert merged == whole


def test_rollup_tiers_reconcile(spark):
    """Multi-resolution rollup invariants: every tier's total row count and
    value sum equal the raw table's (each event lands in exactly one bucket
    per tier), and each 1d bucket's count equals the sum of its 15m
    buckets."""
    from pyspark.sql import functions as F

    qs = entrymod.queries()
    out = qs["events_rollup_multires"](spark, SF_DIR).cache()
    totals = {
        r["resolution"]: (r["n"], r["s"])
        for r in out.groupBy("resolution")
        .agg(F.sum("n_events").alias("n"), F.sum("total_value").alias("s"))
        .collect()
    }
    assert set(totals) == {"15m", "1h", "1d"}
    ns = {k: v[0] for k, v in totals.items()}
    assert len(set(ns.values())) == 1, ns
    sums = [v[1] for v in totals.values()]
    assert max(sums) - min(sums) < 1e-6, sums
    # each (type, day) bucket contains its 15m buckets exactly
    day_of_15m = (
        out.where(F.col("resolution") == "15m")
        .groupBy(
            "event_type",
            (F.col("win_start_us") - F.col("win_start_us") % 86_400_000_000).alias("d"),
        )
        .agg(F.sum("n_events").alias("n15"))
    )
    day = out.where(F.col("resolution") == "1d").select(
        "event_type", F.col("win_start_us").alias("d"), F.col("n_events").alias("n1d")
    )
    bad = day.join(day_of_15m, ["event_type", "d"], "full").where(
        F.coalesce(F.col("n15"), F.lit(-1)) != F.coalesce(F.col("n1d"), F.lit(-2))
    )
    assert bad.count() == 0
    out.unpersist()


def test_ewma_matches_reference_computation(spark):
    """events_ewma equals a driver-side recomputation of the truncated
    EWMA for a sample of users (bitwise tolerance only: both sides sum the
    same 12 exact products in the same order)."""
    from pyspark.sql import functions as F

    qs = entrymod.queries()
    out = qs["events_ewma"](spark, SF_DIR)
    sample_users = [r["user_id"] for r in out.select("user_id").distinct().limit(5).collect()]
    got = {
        (r["user_id"], r["ts_us"], r["event_id"]): r["ewma"]
        for r in out.where(F.col("user_id").isin(sample_users)).collect()
    }
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    ev = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("user_id").isin(sample_users))
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in sorted(ev, key=lambda r: (r["user_id"], r["ts_us"], r["event_id"])):
        hist = by_user.setdefault(r["user_id"], [])
        hist.append(r)
        num = 0.0
        den = 0.0
        for j in range(12):
            i = len(hist) - 1 - j
            w = 2.0 ** -j
            if i >= 0:
                num = num + hist[i]["value"] * w
                den = den + w
        want = num / den
        assert got[(r["user_id"], r["ts_us"], r["event_id"])] == want, r


def test_psi_drift_semantics(spark):
    """PSI on planted distributions: an identical ref/cur split scores
    ~0, a hard mass shift scores big, and the operator's value matches a
    from-scratch pure-Python PSI (same smoothing and rounding) exactly."""
    import math

    from pyspark.sql import functions as F

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        quality as Q,
    )

    rows = []
    # 'stable': ref and cur both uniform over buckets 0..4 (value 5..45)
    for i in range(500):
        rows.append(("stable", float((i % 5) * 10 + 5), i % 2 == 0))
    # 'shifted': ref in buckets 0-1, cur in buckets 8-9
    for i in range(250):
        rows.append(("shifted", float((i % 2) * 10 + 5), True))
        rows.append(("shifted", float(480 - (i % 2) * 10), False))
    df = spark.createDataFrame(rows, "g string, v double, is_ref boolean")
    out = {
        r["g"]: r
        for r in Q.psi_drift(
            df, "g", "v", F.col("is_ref"), bucket_width=50.0, n_buckets=10
        ).collect()
    }
    assert out["stable"]["psi"] < 0.01
    assert out["shifted"]["psi"] > 1.0
    # exact replication in pure python for the shifted group
    n_ref = [0] * 10
    n_cur = [0] * 10
    for g, v, is_ref in rows:
        if g != "shifted":
            continue
        b = min(int(v // 50.0), 9)
        (n_ref if is_ref else n_cur)[b] += 1
    tr, tc = sum(n_ref), sum(n_cur)
    psi = 0
    from decimal import Decimal

    for bkt in range(10):
        rp, rq = n_ref[bkt] + 1, n_cur[bkt] + 1
        p = rp / (tr + 10)
        q = rq / (tc + 10)
        lnr = round(math.log((rp * (tc + 10)) / (rq * (tr + 10))), 9)
        psi += Decimal(str(round((p - q) * lnr, 9)))
    assert float(psi) == out["shifted"]["psi"]
    assert out["shifted"]["n_ref"] == tr and out["shifted"]["n_cur"] == tc


def test_attribution_semantics(spark):
    """Every purchase appears exactly once; a purchase before any touch is
    unattributed (NULL); attributed touches strictly precede the purchase
    and are the LATEST preceding click/view of that user."""
    qs = entrymod.queries()
    rows = qs["events_attribution"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    purchases = [e for e in ev if e["event_type"] == "purchase"]
    assert len(rows) == len(purchases)
    by_user: dict = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    for u in by_user:
        by_user[u].sort(key=lambda e: (e["ts"], e["event_id"]))
    checked_null = checked_attr = 0
    for r in rows[:200]:
        seq = by_user[r["user_id"]]
        i = next(j for j, e in enumerate(seq) if e["event_id"] == r["event_id"])
        touches = [e for e in seq[:i] if e["event_type"] in ("click", "view")]
        if r["touch_event_id"] is None:
            assert not touches
            checked_null += 1
        else:
            assert touches and touches[-1]["event_id"] == r["touch_event_id"]
            assert r["gap_us"] > 0 or touches[-1]["ts"] == seq[i]["ts"]
            checked_attr += 1
    assert checked_attr > 0


def test_stream_attribution_equals_batch_and_carries_state(spark):
    """The fully-drained streaming attributor must equal the batch window
    exactly, AND at least one purchase must be attributed to a touch from
    an EARLIER micro-batch (proving the state actually carries — not just
    within-batch windowing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    qs = entrymod.queries()
    stream = {tuple(r) for r in qs["events_stream_attribution"](spark, SF_DIR).collect()}
    batch = {tuple(r) for r in qs["events_attribution"](spark, SF_DIR).collect()}
    assert stream == batch and len(stream) > 0

    # replay the staging ntile to find each event's chunk
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    w = Window.orderBy("ts", "event_id")
    chunks = {
        r["event_id"]: r["c"]
        for r in src.select("event_id", F.ntile(3).over(w).alias("c")).collect()
    }
    crossing = [
        t for t in stream
        if t[3] is not None and chunks[t[3]] < chunks[t[0]]
    ]
    assert crossing, "no attribution crossed a micro-batch boundary — vacuous"


def test_attribution_vectorized_matches_rowloop_unit():
    """Pin the vectorized attribution state function (VERDICT r12 item 4)
    row-for-row to the per-row reference, across carried-state shapes:
    no prior state, carried state with/without in-batch touches, purchases
    before the batch's first touch, batches with no purchases, multi-chunk
    iterators, and ts ties broken by event_id."""
    import numpy as np
    import pandas as pd

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.streaming import (
        stateful as st,
    )

    class FakeState:
        def __init__(self, tup):
            self.exists = tup is not None
            self._tup = tup
            self.updated = None

        @property
        def get(self):
            return self._tup

        def update(self, tup):
            self.updated = tup

    def canon(v):
        if pd.isna(v):
            return None
        if isinstance(v, (float, np.floating)):
            return round(float(v), 6)
        if isinstance(v, (int, np.integer)):
            return int(v)
        return str(v)

    def run(fn, pdf_chunks, carried):
        state = FakeState(carried)
        (out,) = list(fn((7,), iter(pdf_chunks), state))
        # the rowloop form materializes None-bearing int columns as float64;
        # fold both forms to nullable Int64 before comparing values
        out = out.astype({"touch_event_id": "Int64", "gap_us": "Int64"})
        rows = [tuple(canon(v) for v in r) for r in out.itertuples(index=False)]
        return sorted(map(repr, rows)), state.updated

    rng = np.random.default_rng(7)
    types = np.array(["click", "view", "purchase", "refund"])
    for case in range(40):
        n = int(rng.integers(1, 30))
        pdf = pd.DataFrame(
            {
                "user_id": np.full(n, 7, dtype=np.int64),
                "event_id": rng.choice(10 * n, size=n, replace=False).astype(np.int64),
                "ts_us": rng.integers(0, 5, size=n).astype(np.int64) * 1_000_000,
                "event_type": rng.choice(types, size=n),
                "value": rng.random(n).round(2),
            }
        )
        carried = (
            None
            if case % 3 == 0
            else (int(rng.integers(0, 5)), str(rng.choice(["click", "view"])), 0)
        )
        nsplit = int(rng.integers(1, 3))
        chunks = [pdf.iloc[i::nsplit].reset_index(drop=True) for i in range(nsplit)]
        chunks = [c for c in chunks if len(c)]
        a_rows, a_state = run(st._update_attribution_rowloop, [c.copy() for c in chunks], carried)
        b_rows, b_state = run(st._update_attribution, chunks, carried)
        assert a_rows == b_rows, (case, a_rows, b_rows)
        assert a_state == b_state, (case, a_state, b_state)


@pytest.mark.slow
def test_hll_daily_merge_matches_oracle_at_sf01(spark):
    """At sf0.1 the single-pass sketch is built in one task, so its own
    estimate is the update-order-dependent HIP one while the union of the
    daily sketches reads the register-only estimate: merge_ok holds only
    when both sides are read from the registers."""
    name = "events_hll_daily_merge"
    df = entrymod.queries()[name](spark, SF_DIR_LARGE)
    assert_matches_oracle(df, entrymod.oracle_sql()[name], SF_DIR_LARGE)


@pytest.mark.slow
def test_cusum_identity_and_flag_consistency(spark):
    """The window reformulation must behave like max(0, S+dev): s_stat is
    never negative, resets happen (some day returns to 0 after a positive
    run — the running-min catches up), flags fire on this data (so the
    threshold path is exercised, not vacuous), and every flagged day has
    strictly positive s_stat. Exact values are pinned by the DuckDB parity
    test; this one pins the SEMANTICS of the identity — including a direct
    replay of the recursion S_t = max(0, S_{t-1} + dev_t) in exact Decimal
    arithmetic, which catches the missing S_0 = 0 clamp (ADVICE r08): a
    series whose cumulative deviation starts positive must NOT have its
    early s_stat understated by an unclamped running min."""
    from decimal import Decimal

    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["events_cusum_changepoint"](spark, SF_DIR).collect()
    assert rows
    flagged = 0
    by_type = {}
    for r in rows:
        assert r["s_stat"] >= 0.0
        if r["changepoint"]:
            flagged += 1
            assert r["s_stat"] > 0.0
        by_type.setdefault(r["event_type"], []).append(r)
    assert flagged > 0
    # Replay the textbook recursion per series in exact Decimal and demand
    # bit-level agreement with the window form. dev is recomputed exactly as
    # the engine does: mu = round(sum(x)/n, 6); dev = round(x − mu, 6).
    saw_positive_start = False
    for rs in by_type.values():
        rs.sort(key=lambda r: r["day"])
        xs = [Decimal(repr(r["x"])) for r in rs]
        mu = Decimal(repr(round(float(sum(xs)) / len(xs), 6)))
        s = Decimal(0)
        for i, r in enumerate(rs):
            dv = Decimal(repr(round(float(xs[i] - mu), 6)))
            s = max(Decimal(0), s + dv)
            assert abs(float(s) - r["s_stat"]) < 1e-9, (
                f"recursion mismatch at day {r['day']}: {float(s)} vs {r['s_stat']}"
            )
        if float(xs[0] - mu) > 0:
            saw_positive_start = True
    # the clamp only matters when some series starts with positive deviation
    # (running min of cs > 0); assert the data actually exercises that path
    assert saw_positive_start, "no series starts positive — clamp test vacuous"
    # at least one series returns to 0 after being positive: the
    # running-min reset behavior that distinguishes CUSUM from a plain
    # cumulative sum
    saw_reset = False
    for rs in by_type.values():
        rs.sort(key=lambda r: r["day"])
        was_pos = False
        for r in rs:
            if was_pos and r["s_stat"] == 0.0:
                saw_reset = True
            was_pos = was_pos or r["s_stat"] > 0.0
    assert saw_reset


@pytest.mark.slow
def test_survival_curve_monotone_and_accounted(spark):
    """KM invariants: n_risk strictly decreases over days, the risk set
    drains exactly by deaths+censored, and log-survival is non-increasing
    (survival never goes up)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["events_survival_retention"](spark, SF_DIR).collect()
    rows.sort(key=lambda r: r["day"])
    assert rows
    prev = None
    prev_ls = 0.0
    for r in rows:
        assert r["d_events"] + r["n_censored"] <= r["n_risk"]
        if prev is not None:
            assert r["n_risk"] == prev["n_risk"] - prev["d_events"] - prev["n_censored"]
        if r["log_survival"] is not None:
            assert r["log_survival"] <= prev_ls + 1e-12
            prev_ls = r["log_survival"]
        prev = r


def test_dau_wau_mau_ordering_invariants(spark):
    """WAU >= DAU, MAU >= WAU on every day (a trailing window can only add
    users), and stickiness = dau/mau in (0, 1]."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["events_dau_wau_mau"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["dau"] <= r["wau"] <= r["mau"]
        assert 0 < r["stickiness"] <= 1
        assert r["stickiness"] == round(r["dau"] / r["mau"], 9)
