"""Round-9 wave: the as-of operator's semantics matrix and the plan
shapes of the new rank-statistic queries."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from apache_beam_challange_spark.operators.asof import asof_join


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "a"),
            (1, _ts(12), "b"),
            (2, _ts(9), "c"),
            (3, _ts(8), "d"),  # user with no right rows at all
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(9), 90.0, 100),
            (1, _ts(10), 101.0, 101),  # exactly at left 10:00
            (1, _ts(10), 102.0, 102),  # tie on ts: higher event_id wins
            (1, _ts(11), 110.0, 103),
            (2, _ts(11), 200.0, 104),  # after user 2's only left row
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    return left, right


def _collect(out):
    return {
        (r.user_id, r.ts): (r.asof_ts, r.value)
        for r in out.collect()
    }


def test_asof_backward_inclusive(sides):
    left, right = sides
    got = _collect(
        asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
            direction="backward", allow_exact=True,
        )
    )
    assert got[(1, _ts(10))] == (_ts(10), 102.0)  # exact match, max tiebreak
    assert got[(1, _ts(12))] == (_ts(11), 110.0)
    assert got[(2, _ts(9))] == (None, None)  # right row is in the future
    assert got[(3, _ts(8))] == (None, None)  # keyless


def test_asof_backward_strict(sides):
    left, right = sides
    got = _collect(
        asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
            direction="backward", allow_exact=False,
        )
    )
    # the 10:00 rights are no longer visible at the 10:00 left row
    assert got[(1, _ts(10))] == (_ts(9), 90.0)
    assert got[(1, _ts(12))] == (_ts(11), 110.0)


def test_asof_forward_inclusive(sides):
    left, right = sides
    got = _collect(
        asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
            direction="forward", allow_exact=True,
        )
    )
    assert got[(1, _ts(10))] == (_ts(10), 102.0)
    assert got[(1, _ts(12))] == (None, None)  # nothing at-or-after 12:00
    assert got[(2, _ts(9))] == (_ts(11), 200.0)


def test_asof_forward_strict(sides):
    left, right = sides
    got = _collect(
        asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
            direction="forward", allow_exact=False,
        )
    )
    assert got[(1, _ts(10))] == (_ts(11), 110.0)


def test_asof_rejects_bad_direction(sides):
    left, right = sides
    with pytest.raises(ValueError):
        asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
            direction="sideways",
        )


def test_asof_plan_has_no_join_one_exchange(sides):
    """The union-and-carry contract: ZERO join operators, exactly one
    hash exchange (on the keys) feeding the running-frame window."""
    left, right = sides
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["value"], "event_id",
    )
    p = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in p, join_op
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_asof_query_plan_shape(plans):
    """The registry query built on the operator keeps the shape against
    real parquet inputs: no join operators, one hash exchange, and both
    event_type filters pushed to the scans."""
    p = plans("asof_payload_last_click_before_purchase")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin"):
        assert join_op not in p, join_op
    assert p.count("Exchange hashpartitioning") == 1
    assert "PushedFilters" in p and "purchase" in p


def test_mann_whitney_window_is_domain_bounded(plans):
    """The cumulative-negatives window must sit above the cent-bucket
    aggregate (partial_sum proves map-side combine below it), never
    above the raw scan."""
    p = plans("mann_whitney_auc_purchase")
    assert "partial_sum" in p
    assert "Window" in p
    # exactly one data-sized aggregate pass: one scan of events
    assert sum("FileScan parquet" in l for l in p.splitlines()) == 1


def test_lift_deciles_numbering_discipline(plans):
    """The decile ranking composes the numbering primitive: zero range
    exchanges in the serve plan (boundary consistency is the
    localCheckpoint's job), broadcast joins for the scalar frames."""
    p = plans("lift_gain_deciles_value")
    assert "Exchange rangepartitioning" not in p
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_spearman_rank_maps_broadcast(plans):
    """Both midrank maps join back as broadcasts (domain-bounded), and
    the joint aggregate map-side combines."""
    p = plans("spearman_value_hour_by_type")
    assert p.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in p or "partial_count" in p


def test_acf_matches_statsmodels_free_reference(spark):
    """ACF on a hand-computable series: x = [1,2,3,4] (cents), lags 1-2.
    devs (n=4, S=10): [-6,-2,2,6]; den=80; num1=12+(-4)+12=20? ->
    computed by hand: (-6)(-2)+(-2)(2)+(2)(6) = 12-4+12 = 20; num2 =
    (-6)(2)+(-2)(6) = -24. acf1 = 0.25, acf2 = -0.3."""
    import apache_beam_challange_spark.plans.wave4 as w4

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1 + i, 0), 0.01 * (i + 1)) for i in range(4)],
        "ts timestamp, value double",
    ).withColumn("event_type", F.lit("view")).withColumn(
        "event_id", F.monotonically_increasing_id()
    ).withColumn("user_id", F.lit(1)).withColumn("props", F.lit(""))
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.lag: (r.n_pairs, round(r.acf, 9))
            for r in w4.acf_daily_revenue(spark, d).collect()
        }
    assert out[1] == (3, 0.25)
    assert out[2] == (2, -0.3)


def test_kendall_tau_matches_quadratic_counting(spark):
    """The grid formulation equals brute-force O(n^2) pair counting
    (concordant / discordant / tie-corrected tau-b), on a small corpus
    with heavy ties in both variables."""
    import itertools
    import math as m

    import apache_beam_challange_spark.plans.wave4 as w4

    rows = []
    for i in range(60):
        # values on a coarse grid (ties), hours in a small cycle (ties)
        rows.append(
            (
                i,
                dt.datetime(2024, 1, 1, (i * 7) % 24, 0),
                1,
                "view",
                round(0.05 * ((i * 13) % 9), 2),
                "",
            )
        )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = w4.kendall_tau_value_hour_by_type(spark, d).collect()[0]

    pts = [(int(v * 100 // 1), h.hour) for _, h, _, _, v, _ in
           [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows]]
    conc = disc = 0
    for (x1, y1), (x2, y2) in itertools.combinations(pts, 2):
        s = (x1 - x2) * (y1 - y2)
        conc += s > 0
        disc += s < 0
    n = len(pts)
    from collections import Counter

    n1x2 = sum(t * (t - 1) for t in Counter(x for x, _ in pts).values())
    n2x2 = sum(t * (t - 1) for t in Counter(y for _, y in pts).values())
    tau = (conc - disc) / (
        m.sqrt((n * (n - 1) - n1x2) / 2.0) * m.sqrt((n * (n - 1) - n2x2) / 2.0)
    )
    assert (got.conc, got.disc, got.n) == (conc, disc, n)
    assert abs(got.tau_b - tau) < 1e-12


def test_kendall_grid_windows_are_domain_bounded(plans):
    """The concordance windows run over the bounded grid (above the
    joint aggregate — partial_count proves map-side combine below),
    and the hour histogram joins back as a broadcast."""
    p = plans("kendall_tau_value_hour_by_type")
    assert "Window" in p
    # the bucket-collapsed joint is checkpointed, so the serve plan reads
    # the materialized RDD in every branch and never re-scans events
    assert "FileScan parquet" not in p
    assert "Scan ExistingRDD" in p


from hypothesis import example, given, settings, strategies as st

asof_events = st.lists(
    st.tuples(
        st.integers(0, 2),      # key
        st.integers(0, 50),     # time (coarse -> plenty of exact-ts ties)
        st.integers(0, 1000),   # payload / tiebreak id
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[2],
)


@settings(max_examples=15, deadline=None)
@given(asof_events, asof_events, st.sampled_from(["backward", "forward"]),
       st.booleans())
@example(  # the falsifying example that exposed pandas' forward tie rule
    lrows=[(1, 0, 0)], rrows=[(1, 1, 0), (1, 1, 1)],
    direction="forward", allow_exact=False,
)
@example(  # same shape, backward inclusive: ties AT the left timestamp
    lrows=[(1, 1, 0)], rrows=[(1, 1, 0), (1, 1, 1)],
    direction="backward", allow_exact=True,
)
@pytest.mark.slow
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows, direction,
                                             allow_exact):
    """The operator equals pandas.merge_asof on generated data across the
    full (direction x allow_exact) matrix. pandas' tie rule at EQUAL
    right timestamps is direction-dependent (backward takes the last of
    the sorted ties, forward the first — found by this test's falsifying
    example), while the operator's contract is one rule (greatest
    tiebreak wins, both directions — pinned by the unit matrix and the
    DuckDB oracles' dedup CTEs). So the right side handed to pandas is
    pre-deduped per the operator's contract: one row per (k, ts), max
    rid — which is also what DuckDB's ASOF JOIN requires of its build
    side. The as-of semantics proper (which timestamp matches, strict vs
    inclusive, missing matches) stay fully generated."""
    import pandas as pd

    left = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=t), i)
         for k, t, i in lrows],
        "k long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=t), float(i), i)
         for k, t, i in rrows],
        "k long, ts timestamp, pay double, rid long",
    )
    got = {
        r.lid: r.pay
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["pay"], "rid",
            direction=direction, allow_exact=allow_exact,
        ).collect()
    }
    lp = pd.DataFrame(
        [(k, pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=t), i)
         for k, t, i in lrows], columns=["k", "ts", "lid"],
    ).sort_values(["ts", "lid"]).reset_index(drop=True)
    rp = (
        pd.DataFrame(
            [(k, pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=t), float(i), i)
             for k, t, i in rrows], columns=["k", "ts", "pay", "rid"],
        )
        .sort_values(["k", "ts", "rid"])
        .groupby(["k", "ts"], as_index=False)
        .last()  # operator tie contract: max tiebreak wins at equal ts
        .sort_values(["ts", "rid"])
        .reset_index(drop=True)
    )
    merged = pd.merge_asof(
        lp, rp.drop(columns=["rid"]), on="ts", by="k",
        direction=direction, allow_exact_matches=allow_exact,
    )
    want = {
        int(r.lid): (None if pd.isna(r.pay) else float(r.pay))
        for r in merged.itertuples()
    }
    assert got == want


def test_bradley_terry_dominant_item_wins(spark):
    """On a constructed basket corpus where part 1 always out-quantities
    part 2, which always out-quantities part 3, the BT scores must
    reproduce the total order — and the normalization invariant holds
    (scores sum to slate_size * SV up to one floor per item)."""
    import os
    import tempfile

    import apache_beam_challange_spark.plans.wave4 as w4

    rows = []
    for ok in range(30):
        rows.append((ok, 1, 9.0))
        rows.append((ok, 2, 5.0))
        rows.append((ok, 3, 1.0))
    li = spark.createDataFrame(
        [(ok, pk, q, 100.0, 0.0, dt.datetime(2024, 1, 1), "N", "O")
         for ok, pk, q in rows],
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp,"
        " l_returnflag string, l_linestatus string",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = w4.bradley_terry_part_prefs(spark, d).collect()
    scores = {r.p_partkey: r.bt_score for r in out}
    assert scores[1] > scores[2] > scores[3]
    assert {r.p_partkey: r.wins for r in out} == {1: 60, 2: 30, 3: 0}
    total = sum(scores.values())
    k = len(scores)
    assert abs(total - k) <= k * 1e-6 + 1e-9  # sum(s) == k*SV up to floors


def test_bradley_terry_serve_plan_is_checkpoint_bounded(plans):
    """The MM rounds and the per-part win totals run in the driver over
    the collected pair stats; the serve plan is the driver's result as a
    local scan — no lineitem rescan rides it."""
    p = plans("bradley_terry_part_prefs")
    assert "FileScan parquet" not in p
    assert "LocalTableScan" in p


def test_holt_matches_python_replay(spark):
    """Holt level/trend/MAE on a constructed daily series equals the
    plain-Python recurrence (same literal constants, same op order)."""
    import os
    import tempfile

    import apache_beam_challange_spark.plans.wave4 as w4

    cents = [100, 130, 90, 200, 180, 220, 170]
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i, 12), 7, "view", c / 100.0, "")
            for i, c in enumerate(cents)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        row = w4.holt_forecast_backtest(spark, d).collect()[0]

    lvl, trd, err = float(cents[0]), 0.0, 0.0
    for y in cents[1:]:
        err += abs(y - (lvl + trd))
        lp = 0.3 * y + 0.7 * (lvl + trd)
        trd = 0.2 * (lp - lvl) + 0.8 * trd
        lvl = lp
    assert row.n_days == len(cents)
    assert row.final_level == lvl
    assert row.final_trend == trd
    assert row.mae == err / (len(cents) - 1)


def test_mann_kendall_matches_python_replay(spark):
    """MK S / var / z and Sen's slope on a constructed series equal the
    textbook Python computation (with a deliberate tie)."""
    import math as m
    import os
    import tempfile

    import apache_beam_challange_spark.plans.wave4 as w4

    cents = [100, 130, 130, 90, 200, 180]
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i, 12), 7, "view", c / 100.0, "")
            for i, c in enumerate(cents)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        row = w4.mann_kendall_sen_trend_daily(spark, d).collect()[0]

    n = len(cents)
    s = sum(
        (cents[j] > cents[i]) - (cents[j] < cents[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie18 = sum(t * (t - 1) * (2 * t + 5) for t in Counter(cents).values())
    var18 = n * (n - 1) * (2 * n + 5) - tie18
    z = (s - 1) / m.sqrt(var18 / 18.0) if s > 0 else (
        (s + 1) / m.sqrt(var18 / 18.0) if s < 0 else 0.0
    )
    slopes = sorted(
        ((cents[j] - cents[i]) / (j - i), i, j)
        for i in range(n)
        for j in range(i + 1, n)
    )
    sen = slopes[(len(slopes) + 1) // 2 - 1][0]
    assert (row.n, row.s_stat, row.var18) == (n, s, var18)
    assert row.z_score == z
    assert row.sen_slope == sen


def test_seasonal_decompose_identity_and_replay(spark):
    """On a constructed 3-week series: trend equals the hand-computed
    centered MA, y == trend + seasonal + remainder EXACTLY on every
    full-window day (the identity is the decomposition's contract), and
    edge days report null trend/remainder."""
    import os
    import tempfile

    import apache_beam_challange_spark.plans.wave4 as w4

    cents = [(100 + 10 * (i % 7) + i) for i in range(21)]
    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i, 12), 7, "view", c / 100.0, "")
            for i, c in enumerate(cents)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        rows = {r.d: r for r in w4.seasonal_decompose_daily(spark, d).collect()}

    assert len(rows) == 21
    for edge in (0, 1, 2, 18, 19, 20):
        assert rows[edge].trend is None and rows[edge].remainder is None
    for d_ in range(3, 18):
        want_trend = sum(cents[d_ - 3 : d_ + 4]) / 7.0
        assert rows[d_].trend == want_trend
        assert (
            rows[d_].y - rows[d_].trend - rows[d_].seasonal
            == rows[d_].remainder
        )


def test_did_matches_hand_computed_2x2(spark):
    """DiD on a constructed panel with a known +2.00 treatment effect on
    top of a +1.00 shared time trend: the estimate must be exactly 2.0
    and the four cell means exact."""
    import os
    import tempfile

    import apache_beam_challange_spark.plans.wave4 as w4

    rows = []
    eid = 0
    for user, base in ((1, 10.0), (2, 7.0)):  # user 1 treated (odd)
        for day, bump in ((5, 0.0), (20, 1.0)):  # shared +1.00 post trend
            effect = 2.0 if (user == 1 and day == 20) else 0.0
            for _ in range(4):
                rows.append(
                    (eid, dt.datetime(2024, 1, day, 12), user, "view",
                     base + bump + effect, "")
                )
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        r = w4.did_estimate_by_type(spark, d).collect()[0]
    assert (r.n_tp, r.n_tb, r.n_cp, r.n_cb) == (4, 4, 4, 4)
    assert (r.mean_treat_post, r.mean_treat_pre) == (13.0, 10.0)
    assert (r.mean_ctrl_post, r.mean_ctrl_pre) == (8.0, 7.0)
    assert r.did_estimate == 2.0
