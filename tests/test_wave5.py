"""Round-9 continuation wave: python replays (library-free) for the
experiment-analysis operators, plus plan-shape scale assertions."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

import apache_beam_challange_spark.plans.wave5 as w5
from conftest import TESTDATA_ROOT

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _write_events(spark, rows, d):
    spark.createDataFrame(rows, _SCHEMA).write.parquet(
        os.path.join(d, "events.parquet")
    )


def _ev(i, ts, user, typ, value):
    return (i, ts, user, typ, value, "")


def test_anova_matches_hand_formula(spark):
    """Three groups with known means; F recomputed from the textbook
    sums-of-squares on exact cent values."""
    rows, i = [], 0
    data = {"view": [1.0, 2.0, 3.0], "click": [2.0, 4.0], "purchase": [6.0, 7.0, 8.0, 9.0]}
    for typ, vals in data.items():
        for v in vals:
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.anova_f_value_by_type(spark, d).collect()[0]

    cents = {t: [round(v * 100) for v in vs] for t, vs in data.items()}
    allv = [c for vs in cents.values() for c in vs]
    n, k = len(allv), len(cents)
    grand = sum(allv) / n
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2 for vs in cents.values())
    ssw = sum(
        (c - sum(vs) / len(vs)) ** 2 for vs in cents.values() for c in vs
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert (got.n, got.n_groups) == (n, k)
    assert abs(got.f_stat - f_ref) < 1e-5
    assert abs(got.eta_sq - ssb / (ssb + ssw)) < 1e-5


def test_kruskal_wallis_matches_hand_formula_with_ties(spark):
    """H and the tie correction recomputed via textbook midranks on a
    corpus with heavy ties across and within groups."""
    rows, pts, i = [], [], 0
    for g, typ in enumerate(["view", "click", "purchase"]):
        for j in range(12):
            v = round(0.05 * ((j * 5 + g) % 7), 2)
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            pts.append((typ, round(v * 100)))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.kruskal_wallis_value_by_type(spark, d).collect()[0]

    n = len(pts)
    svals = sorted(c for _, c in pts)
    # midrank per distinct value
    mid, start = {}, 1
    from collections import Counter

    cnt = Counter(svals)
    for v in sorted(cnt):
        t = cnt[v]
        mid[v] = start + (t - 1) / 2.0
        start += t
    groups = {}
    for t, c in pts:
        groups.setdefault(t, []).append(mid[c])
    h = 12.0 / (n * (n + 1)) * sum(
        sum(r) ** 2 / len(r) for r in groups.values()
    ) - 3 * (n + 1)
    tie_c = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    assert got.n == n and got.k == 3
    assert abs(got.h_stat - h) < 1e-5
    assert abs(got.tie_c - tie_c) < 1e-8
    assert abs(got.h_corrected - h / tie_c) < 1e-5


def _survival_fixture():
    """Five users: first event at hour 0; purchase (death) or censor
    times chosen so durations and cohort parity are hand-checkable."""
    base = dt.datetime(2024, 1, 1, 0)
    rows, i = [], 0
    # (user, death_hour or None, censor_hour)
    spec = [(1, 2, None), (2, 2, None), (3, 5, None), (4, None, 6), (5, 5, None), (6, None, 3)]
    for user, death, censor in spec:
        rows.append(_ev(i, base, user, "view", 1.0)); i += 1
        if death is not None:
            rows.append(
                _ev(i, base + dt.timedelta(hours=death), user, "purchase", 1.0)
            ); i += 1
        else:
            rows.append(
                _ev(i, base + dt.timedelta(hours=censor), user, "view", 1.0)
            ); i += 1
    return rows, spec


def test_nelson_aalen_matches_hand_replay(spark):
    rows, spec = _survival_fixture()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.dur_h: r for r in
               w5.nelson_aalen_hazard_to_purchase(spark, d).collect()}
    # durations: deaths at 2 (users 1,2), 5 (users 3,5); censors at 6, 3
    # at_risk(2) = 6, at_risk(5) = 3 (user 6 censored at 3 -> dur 3)
    assert set(out) == {2, 5}
    assert (out[2].at_risk, out[2].deaths) == (6, 2)
    assert (out[5].at_risk, out[5].deaths) == (3, 2)
    h2 = math.floor(2 * 1e9 / 6) / 1e9
    h5 = h2 + math.floor(2 * 1e9 / 3) / 1e9
    assert abs(out[2].cum_hazard - h2) < 1e-12
    assert abs(out[5].cum_hazard - h5) < 1e-12


def test_logrank_matches_hand_replay(spark):
    rows, spec = _survival_fixture()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.logrank_purchase_by_parity(spark, d).collect()[0]
    # replay: dur/died per user, grp = user_id % 2
    durs = [(2, True, 1), (2, True, 0), (5, True, 1), (6, False, 0),
            (5, True, 1), (3, False, 0)]
    times = sorted({t for t, died, _ in durs if died})
    o1 = e1 = v1 = 0.0
    for t in times:
        at = [(tt, dd, g) for tt, dd, g in durs if tt >= t]
        n = len(at)
        n1 = sum(1 for *_, g in at if g == 1)
        dthis = [(tt, dd, g) for tt, dd, g in durs if tt == t and dd]
        dcount = len(dthis)
        o1 += sum(1 for *_, g in dthis if g == 1)
        e1 += math.floor(dcount * n1 / n * 1e6 + 0.5) / 1e6
        if n > 1:
            v1 += math.floor(
                dcount * (n1 / n) * (1 - n1 / n) * ((n - dcount) / (n - 1))
                * 1e6 + 0.5
            ) / 1e6
    assert got.o1 == o1
    assert abs(got.e1 - e1) < 1e-9
    assert abs(got.v1 - v1) < 1e-9
    assert abs(got.chi2 - (o1 - e1) ** 2 / v1) < 1e-6


def test_exact_sq_over_n_fp_no_long_clamp(spark):
    """Regression for the ADVICE r9 high finding: FLOOR(double) in Spark
    returns LONG and silently clamps at Long.MAX (9.22e18), so the old
    Kruskal-Wallis/ANOVA cross-group term diverged from the DuckDB
    oracle past ~35k rows. The replacement quotient/remainder
    decomposition must reproduce Python's exact integer
    ``a*a*10**6 // n`` at magnitudes far beyond the clamp, in BOTH
    engines."""
    import duckdb

    cases = [
        (999999999999999, 7),            # term ~1.4e35 — old code clamped at 9.2e18
        (2 * 10**21, 10**11),            # KW shape at N~1e11 (term ~4e37)
        (12345678901234567, 97),
        (5, 3),                          # tiny: floor semantics
        (0, 11),                         # zero numerator
    ]
    df = spark.createDataFrame(
        [(str(a), n) for a, n in cases], "a_s string, n long"
    ).select(F.col("a_s").cast("decimal(38,0)").alias("a"), "n")
    got = {
        (int(r.a), r.n): int(r.term_fp)
        for r in w5._exact_sq_over_n_fp(df, "a", "n").collect()
    }
    con = duckdb.connect()
    for a, n in cases:
        want = a * a * 10**6 // n
        assert got[(a, n)] == want, (a, n)
        dd = con.sql(
            f"""
            WITH x AS (SELECT CAST('{a}' AS HUGEINT) AS a, {n} AS n),
            y AS (SELECT n, a // n AS q1, a % n AS r1, a * 1000000 AS cfp FROM x)
            SELECT CAST(q1 * cfp + q1 * r1 * 1000000
                        + (r1 * r1 * 1000000) // n AS DECIMAL(38,0)) FROM y
            """
        ).fetchone()[0]
        assert int(dd) == want, (a, n)


def test_wave5_single_aggregate_plans(plans):
    """The ANOVA/KW statistics must stay one data-sized aggregate: no
    join on the events-sized side, no data-sized window (windows only
    over DOMAIN-bounded histograms), and partial aggregation pushed
    map-side."""
    for name in ("anova_f_value_by_type", "kruskal_wallis_value_by_type"):
        p = plans(name)
        assert "SortMergeJoin" not in p, name
        assert "partial" in p.lower(), name


def test_hhi_matches_hand_computed_market(spark):
    """Two nations: one monopoly (HHI=1), one 3-supplier market with
    known shares. Built directly from lineitem/supplier/nation parquet."""
    sup = spark.createDataFrame(
        [(1, "s1", 0, 0.0), (2, "s2", 1, 0.0), (3, "s3", 1, 0.0), (4, "s4", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    nat = spark.createDataFrame(
        [(0, "MONO", 0), (1, "TRIO", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    # revenues: s1=10.00; s2=5.00, s3=3.00, s4=2.00 (shares .5/.3/.2)
    li_rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (2, 1, 2, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (3, 1, 3, 1, 1.0, 3.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (4, 1, 4, 1, 1.0, 2.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
    ]
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        sup.write.parquet(os.path.join(d, "supplier.parquet"))
        nat.write.parquet(os.path.join(d, "nation.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {r.scope: r for r in
               w5.hhi_nation_revenue_concentration(spark, d).collect()}
    assert out["MONO"].n_suppliers == 1
    assert out["MONO"].hhi == 1.0 and out["MONO"].hhi_norm == 1.0
    trio = out["TRIO"]
    hhi = 0.5**2 + 0.3**2 + 0.2**2
    assert abs(trio.hhi - hhi) < 1e-9
    assert abs(trio.hhi_norm - (hhi - 1 / 3) / (1 - 1 / 3)) < 1e-9
    assert out["ALL"].n_suppliers == 4


def test_theil_matches_hand_replay(spark):
    """Theil T and L replayed in python with math.log on the same
    fixed-point convention."""
    rows = [
        (i + 1, i + 1, "O", p, dt.datetime(2024, 1, 1), "1-URGENT")
        for i, p in enumerate([1.0, 2.0, 3.0, 10.0])
    ]
    od = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        od.write.parquet(os.path.join(d, "orders.parquet"))
        got = w5.theil_index_revenue(spark, d).collect()[0]
    cents = [100, 200, 300, 1000]
    n, mu = len(cents), sum(cents) / len(cents)
    t_ref = sum(
        math.floor((x / mu) * math.log(x / mu) * 1e9 + 0.5) for x in cents
    ) / 1e9 / n
    l_ref = sum(
        math.floor(math.log(mu / x) * 1e9 + 0.5) for x in cents
    ) / 1e9 / n
    assert got.n == n and got.total_cents == sum(cents)
    assert abs(got.theil_t - round(t_ref, 6)) < 1e-9
    assert abs(got.theil_l - round(l_ref, 6)) < 1e-9


def test_ccf_detects_known_lead(spark):
    """Purchases are exactly clicks shifted one day later -> r = 1.0 at
    lag +1 (clicks lead purchases by one day) on the overlapping days."""
    base = dt.date(2024, 1, 1)
    clicks = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    rows, i = [], 0
    for dd, c in enumerate(clicks):
        day = dt.datetime(2024, 1, 1 + dd, 12)
        for _ in range(c):
            rows.append(_ev(i, day, 1, "click", 1.0)); i += 1
        if dd >= 1:
            for _ in range(clicks[dd - 1]):
                rows.append(_ev(i, day, 1, "purchase", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.lag: r for r in
               w5.ccf_clicks_purchases_daily(spark, d).collect()}
    assert len(out) == 15
    assert out[1].r == 1.0
    assert out[0].r < 1.0


def test_loo_influence_matches_two_group_algebra(spark):
    """With two groups, slope_wo(A) must equal the slope fit on B alone."""
    rows = []
    i = 0
    # group A (view): y = 100x; group B (click): y = 300x + noise-free offset
    for x in range(4):
        rows.append(_ev(i, dt.datetime(2024, 1, 1, x), 1, "view", 1.0 * x)); i += 1
    for x in range(4):
        rows.append(_ev(i, dt.datetime(2024, 1, 1, x), 1, "click", 3.0 * x)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.event_type: r for r in
               w5.loo_group_influence_on_slope(spark, d).collect()}
    assert abs(out["view"].slope_wo - 300.0) < 1e-9   # B alone: 300 cents/hour
    assert abs(out["click"].slope_wo - 100.0) < 1e-9  # A alone
    assert abs(out["view"].delta_slope
               - (out["view"].slope_wo - out["view"].slope_full)) < 1e-9


def test_stratified_ate_adjusts_confounded_hour(spark):
    """Construct confounding: hour 0 has high base value and is mostly
    weekend; hour 1 low value, mostly weekday. True per-stratum effect
    is +100 cents everywhere; the naive diff is inflated."""
    rows, i = [], 0
    # 2024-01-06 is a Saturday, 2024-01-08 a Monday
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    # hour 0: base 10.00; weekend adds 1.00; 3 weekend, 1 weekday rows
    for _ in range(3):
        rows.append(_ev(i, sat, 1, "view", 11.0)); i += 1
    rows.append(_ev(i, mon, 1, "view", 10.0)); i += 1
    # hour 1: base 1.00; weekend adds 1.00; 1 weekend, 3 weekday rows
    rows.append(_ev(i, sat + dt.timedelta(hours=1), 1, "view", 2.0)); i += 1
    for _ in range(3):
        rows.append(_ev(i, mon + dt.timedelta(hours=1), 1, "view", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.stratified_ate_weekend_value(spark, d).collect()[0]
    assert (got.n_treated, got.n_control) == (4, 4)
    assert got.n_strata_used == 2
    assert abs(got.stratified_ate_cents - 100.0) < 1e-6
    # naive: treated mean = (3*1100+200)/4 = 875; control = (1000+3*100)/4 = 325
    assert abs(got.naive_diff_cents - 550.0) < 1e-6


def test_ece_zero_when_folds_identical(spark):
    """If the two folds have identical per-bin rates, ECE must be 0."""
    rows, i = [], 0
    for rep in range(2):
        for v, typ in [(1.0, "purchase"), (1.0, "view"),
                       (400.0, "purchase"), (400.0, "purchase")]:
            # consecutive ids -> one copy per fold, so folds are identical
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            i += 1
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.ece_calibration_value_deciles(spark, d).collect()[0]
    assert got.n_train == 8 and got.n_eval == 8
    assert got.ece == 0.0


def test_average_precision_matches_bruteforce(spark):
    """AP with the documented group-end tie convention, replayed by
    brute force over the sorted rows."""
    vals = [(5.0, True), (5.0, False), (4.0, True), (3.0, False),
            (3.0, True), (2.0, False), (1.0, True), (1.0, False)]
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, i % 24), 1,
            "purchase" if pos else "view", v)
        for i, (v, pos) in enumerate(vals)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.average_precision_purchase_by_value(spark, d).collect()[0]
    # group by score desc: (5: n=2 tp=1), (4: 1/1), (3: 2/1), (2:1/0), (1:2/1)
    groups = {}
    for v, pos in vals:
        g = groups.setdefault(v, [0, 0])
        g[0] += 1
        g[1] += pos
    cn = ct = 0
    ap = 0.0
    for v in sorted(groups, reverse=True):
        n_b, p_b = groups[v]
        cn += n_b
        ct += p_b
        ap += math.floor(p_b * ct / cn * 1e9 + 0.5) / 1e9
    ap /= sum(p for _, p in groups.values())
    assert got.n_pos == 4 and got.n == 8
    assert abs(got.ap - round(ap, 6)) < 1e-9


def test_isotonic_matches_pava_sweep(spark):
    """The minimax identity must equal the classical sequential
    pool-adjacent-violators algorithm (weighted), and be monotone."""
    # craft bins with violations: rates by bin approx [.8, .2, .4, .9, .1]
    spec = [(5.0, 5, 4), (30.0, 5, 1), (55.0, 5, 2), (80.0, 5, 4), (99.0, 5, 1)]
    rows, i = [], 0
    for v, n, pos in spec:
        for j in range(n):
            typ = "purchase" if j < pos else "view"
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = w5.isotonic_purchase_rate_by_value_bin(spark, d).collect()
    got = [(r.n, r.pos, r.raw_rate, r.iso_rate) for r in out]
    # classical weighted PAVA on the same ordered blocks
    blocks = [[n, pos] for _, n, pos in spec]
    stack = []
    for n, p in blocks:
        stack.append([n, p])
        while len(stack) > 1 and (
            stack[-2][1] / stack[-2][0] >= stack[-1][1] / stack[-1][0]
        ):
            n2, p2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
    expected = []
    for n, p in stack:
        expected.extend([p / n] * (n // 5))
    iso = [r[3] for r in got]
    assert len(iso) == 5
    for a, b in zip(iso, expected):
        assert abs(a - b) < 1e-12
    assert all(iso[i] <= iso[i + 1] + 1e-12 for i in range(len(iso) - 1))


def test_zipf_fit_recovers_exact_power_law(spark):
    """A corpus built so count(rank) = round(1000 * rank^-1) fits slope
    ~ -1 with r2 ~ 1 on the fitted ranks."""
    rows = []
    doc_id = 0
    for rnk in range(1, 41):
        c = max(1, round(1000 * rnk ** -1.0))
        text = " ".join([f"tok{rnk:03d}"] * c)
        rows.append((doc_id, text, "en", "src", len(text)))
        doc_id += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = w5.zipf_fit_tokens(spark, d).collect()[0]
    assert got.n_ranks == 40
    assert abs(got.slope + 1.0) < 0.02
    assert got.r2 > 0.999


def test_fdr_bh_matches_textbook_stepup(spark):
    """BH adjustment replayed in python over the query's own raw
    p-values (procedure check, independent of the erf approximation)."""
    import pathlib

    out = w5.fdr_bh_hourly_purchase_rate(spark, f"{TESTDATA_ROOT}/sf0.001").collect()
    ps = sorted((r.p_raw, r.hour) for r in out)
    m = len(ps)
    adj = {}
    running = 1.0
    for i in range(m, 0, -1):
        p, h = ps[i - 1]
        running = min(running, p * m / i)
        adj[h] = min(1.0, running)
    for r in out:
        # SQL ROUND is half-up; python's round() is banker's — emulate
        half_up = math.floor(adj[r.hour] * 1e6 + 0.5) / 1e6
        assert abs(r.p_bh - half_up) < 1e-9
        assert r.rejected == (adj[r.hour] <= 0.05)


def test_holt_winters_matches_python_replay(spark):
    """Full recurrence replayed in python (same init convention) on a
    synthetic two-season series with trend."""
    rows, i = [], 0
    ys = []
    for d in range(21):
        season = [0, 50, -30, 20, -10, 40, -70][d % 7]
        y = 1000 + 10 * d + season
        ys.append((d, y))
        rows.append(
            _ev(i, dt.datetime(2024, 1, 1 + d, 12), 1, "view", y / 100.0)
        )
        i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.holt_winters_forecast_backtest(spark, d).collect()[0]

    a, b, g = 0.3, 0.2, 0.1
    first7 = ys[:7]
    level = sum(y for _, y in first7) / 7.0
    seas = [0.0] * 7
    for dd, y in first7:
        seas[dd % 7] = y - level
    trend, es = 0.0, 0.0
    for dd, y in ys[7:]:
        sd = seas[dd % 7]
        es += abs(y - (level + trend + sd))
        lp = a * (y - sd) + (1 - a) * (level + trend)
        seas[dd % 7] = g * (y - lp) + (1 - g) * sd
        trend = b * (lp - level) + (1 - b) * trend
        level = lp
    assert got.n_days == 21
    assert abs(got.final_level - level) < 1e-9
    assert abs(got.final_trend - trend) < 1e-9
    assert abs(got.mae - es / 14) < 1e-9


def test_km_greenwood_matches_hand_replay(spark):
    rows, spec = _survival_fixture()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.dur_h: r for r in w5.km_greenwood_ci(spark, d).collect()}
    # steps: t=2 (d=2, n=6), t=5 (d=2, n=3)
    s2 = 1.0 * (1 - 2 / 6)
    s5 = s2 * (1 - 2 / 3)
    g2 = math.floor(2 * 1e9 / (6 * 4)) / 1e9
    g5 = g2 + math.floor(2 * 1e9 / (3 * 1)) / 1e9
    z = 1.959963984540054
    assert abs(out[2].surv - s2) < 1e-12
    assert abs(out[5].surv - s5) < 1e-12
    assert abs(out[2].se - s2 * math.sqrt(g2)) < 1e-12
    assert abs(out[5].se - s5 * math.sqrt(g5)) < 1e-12
    assert abs(out[2].lo95 - max(0.0, s2 - z * s2 * math.sqrt(g2))) < 1e-12
    assert abs(out[5].hi95 - min(1.0, s5 + z * s5 * math.sqrt(g5))) < 1e-12


def test_weighted_quantiles_exact_mass_split(spark):
    """Mass ledger: 10.00 x3 (3000c), 20.00 x2 (4000c), 30.00 x1 (3000c)
    -> total 10000c; cum mass 3000/7000/10000 puts q25 at 1000, the
    median at 2000, q75 at 3000 — while the COUNT median would be 2000
    too but the count q75 would still be 2000 (4th of 6 rows)."""
    rows = []
    for i, v in enumerate([10.0, 10.0, 10.0, 20.0, 20.0, 30.0]):
        rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", v))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.weighted_quantiles_value_by_type(spark, d).collect()[0]
    assert got.n == 6 and got.total_cents == 10000
    assert got.wq25 == 1000    # 4*3000 >= 10000
    assert got.wmedian == 2000  # 2*7000 >= 10000
    assert got.wq75 == 3000    # 4*7000 < 30000 -> needs the 30.00 row


def test_cmh_no_association_when_rates_equal(spark):
    """Equal purchase rates for weekend and weekday inside every stratum
    -> sum_a == e_sum and OR_MH == 1."""
    rows, i = [], 0
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    for h in (0, 1):
        for base_ts in (sat, mon):
            ts = base_ts + dt.timedelta(hours=h)
            rows.append(_ev(i, ts, 1, "purchase", 1.0)); i += 1
            for _ in range(3):
                rows.append(_ev(i, ts, 1, "view", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.cmh_weekend_purchase_by_hour(spark, d).collect()[0]
    assert got.n_strata == 2
    assert abs(got.sum_a - got.e_sum) < 1e-6
    assert abs(got.or_mh - 1.0) < 1e-6
    assert got.chi2 < 1e-6


def test_resample_linear_interpolates_interior_gaps(spark):
    """Hours 0 and 3 observed (100 and 400 cents); hours 1-2 must lerp
    to 200/300; an hour before the first observation is 'edge'."""
    rows = [
        _ev(0, dt.datetime(2024, 1, 1, 1), 1, "view", 1.0),
        _ev(1, dt.datetime(2024, 1, 1, 4), 1, "view", 4.0),
        # second type pins the spine start an hour earlier
        _ev(2, dt.datetime(2024, 1, 1, 0), 1, "click", 9.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {
            (r.event_type, r.hour.hour): (r.y_cents, r.method)
            for r in w5.resample_linear_hourly(spark, d).collect()
        }
    assert out[("view", 1)] == (100.0, "obs")
    assert out[("view", 2)] == (200.0, "interp")
    assert out[("view", 3)] == (300.0, "interp")
    assert out[("view", 4)] == (400.0, "obs")
    assert out[("view", 0)] == (None, "edge")
    assert out[("click", 4)] == (None, "edge")


def test_wilson_ci_matches_formula(spark):
    rows = []
    # cohort 0 (even users): 1/4 purchase; cohort 1: 3/4
    for i, (u, typ) in enumerate([(2, "purchase"), (2, "view"), (2, "view"),
                                  (2, "view"), (3, "purchase"), (3, "purchase"),
                                  (3, "purchase"), (3, "view")]):
        rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), u, typ, 1.0))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.grp: r for r in
               w5.wilson_ci_purchase_by_parity(spark, d).collect()}
    z = 1.959963984540054
    for grp, pos in ((0, 1), (1, 3)):
        n, p = 4, pos / 4
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        denom = 1 + z * z / n
        assert abs(out[grp].lo95 - (center - half) / denom) < 1e-12
        assert abs(out[grp].hi95 - (center + half) / denom) < 1e-12
        assert 0.0 <= out[grp].lo95 <= out[grp].rate <= out[grp].hi95 <= 1.0


def test_dispersion_index_zero_for_constant_rate(spark):
    """Exactly one event per hour -> variance 0 -> dispersion 0."""
    rows = [_ev(i, dt.datetime(2024, 1, 1, 0) + dt.timedelta(hours=i), 1,
                "view", 1.0) for i in range(24)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.dispersion_index_hourly_counts(spark, d).collect()[0]
    assert got.n_hours == 24
    assert got.mean_per_hour == 1.0
    assert got.dispersion == 0.0 and got.chi2 == 0.0


def test_granger_detects_planted_lead(spark):
    """purchases(t) = clicks(t-1) exactly (and lagged purchases are
    noise w.r.t. that) -> full model is near-perfect, F is large."""
    clicks = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7]
    rows, i = [], 0
    for dd, c in enumerate(clicks):
        day = dt.datetime(2024, 1, 1 + dd, 12)
        for _ in range(c):
            rows.append(_ev(i, day, 1, "click", 1.0)); i += 1
        if dd >= 1:
            for _ in range(clicks[dd - 1]):
                rows.append(_ev(i, day, 1, "purchase", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.granger_lite_clicks_purchases(spark, d).collect()[0]
    assert got.rss_full < 1e-6          # x2 = lagged clicks predicts exactly
    assert got.rss_restricted > 1.0     # lagged purchases alone do not
    assert got.f_stat > 1000


def test_weekly_periodogram_saturates_on_pure_cycle(spark):
    """Daily revenue = pure 7-day sinusoid (pinned cos values) -> the
    weekly bin holds ~all the variance."""
    cos7 = [1.0, 0.6234898018587336, -0.22252093395631434,
            -0.900968867902419, -0.9009688679024191,
            -0.2225209339563146, 0.6234898018587334]
    rows = []
    for d in range(28):
        y = 100.0 + 50.0 * cos7[d % 7]
        rows.append(_ev(d, dt.datetime(2024, 1, 1 + d % 28, 12)
                        if d < 28 else None, 1, "view", y))
    with tempfile.TemporaryDirectory() as dd:
        _write_events(spark, rows, dd)
        got = w5.weekly_periodogram_power(spark, dd).collect()[0]
    assert got.n_days == 28
    assert abs(got.weekly_power_share - 1.0) < 0.01


# --- hypothesis properties (wave5 math vs brute-force replays) -----------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_W5_SETTINGS = dict(max_examples=6, deadline=None)

_bin_hists = st.lists(
    st.tuples(st.integers(0, 3), st.integers(1, 4)),  # (pos_extra, n>=1)
    min_size=2,
    max_size=8,
)


@settings(**_W5_SETTINGS)
@given(_bin_hists)
@pytest.mark.slow
def test_isotonic_minimax_equals_pava_property(spark, hist):
    """For random per-bin (pos, n) histograms the minimax identity must
    equal the classical weighted PAVA sweep on every bin."""
    # spread bins across the full value range so binning is stable:
    # bin k gets value (k+0.5)/len * 490 (inside distinct 20-bins only
    # if len<=20; we keep <=8 so bins are distinct and ordered)
    K = len(hist)
    rows, i = [], 0
    blocks = []
    for k, (pe, n) in enumerate(hist):
        pos = min(pe, n)
        blocks.append([n, pos])
        v = round((k + 0.5) / K * 490.0, 2)
        for j in range(n):
            typ = "purchase" if j < pos else "view"
            rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = w5.isotonic_purchase_rate_by_value_bin(spark, d).collect()
    # brute PAVA over the same ordered blocks (queries bin by value/20
    # of max; our spread guarantees one block per non-empty bin, ordered)
    stack = []
    for n, p in blocks:
        stack.append([n, p])
        while len(stack) > 1 and (
            stack[-2][1] / stack[-2][0] >= stack[-1][1] / stack[-1][0]
        ):
            n2, p2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
    expected = []
    for n, p in stack:
        expected.extend([p / n] * n)
    got = []
    for r in sorted(out, key=lambda r: r.bin):
        got.extend([r.iso_rate] * r.n)
    assert len(got) == len(expected)
    for a, b in zip(got, expected):
        assert abs(a - b) < 1e-9


_weights = st.lists(st.integers(1, 400), min_size=1, max_size=30)


@settings(**_W5_SETTINGS)
@given(_weights)
def test_weighted_quantiles_match_bruteforce_property(spark, cents):
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", c / 100.0)
        for i, c in enumerate(cents)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.weighted_quantiles_value_by_type(spark, d).collect()[0]
    # mirror the query's FLOOR(value*100) bucket convention, including
    # the c -> c/100.0 -> *100 float round-trip (201 -> 200.99... -> 200)
    svals = sorted(math.floor(c / 100.0 * 100) for c in cents)
    total = sum(svals)

    def brute(kn, kd):  # min v with kd*cum >= kn*total
        cum = 0
        for v in svals:
            cum += v
            if kd * cum >= kn * total:
                return v
        return svals[-1]

    assert got.total_cents == total
    assert got.wq25 == brute(1, 4)
    assert got.wmedian == brute(1, 2)
    assert got.wq75 == brute(3, 4)


_scored = st.lists(
    st.tuples(st.integers(1, 6), st.booleans()), min_size=2, max_size=25
).filter(lambda xs: any(p for _, p in xs))


@settings(**_W5_SETTINGS)
@given(_scored)
def test_average_precision_matches_bruteforce_property(spark, pts):
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, i % 24), 1,
            "purchase" if pos else "view", float(v))
        for i, (v, pos) in enumerate(pts)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.average_precision_purchase_by_value(spark, d).collect()[0]
    groups = {}
    for v, pos in pts:
        g = groups.setdefault(v * 100, [0, 0])
        g[0] += 1
        g[1] += int(pos)
    cn = ct = 0
    ap = 0.0
    for v in sorted(groups, reverse=True):
        n_b, p_b = groups[v]
        cn += n_b
        ct += p_b
        ap += math.floor(p_b * ct / cn * 1e9 + 0.5) / 1e9
    n_pos = sum(p for _, p in groups.values())
    ap /= n_pos
    assert got.n_pos == n_pos
    assert abs(got.ap - math.floor(ap * 1e6 + 0.5) / 1e6) < 2e-6


def _sprt_replay(flags):
    L1, L0, A = 287682072452, -60624621816, 2944438979166
    llr = 0
    for i, pos in enumerate(flags, start=1):
        llr += L1 if pos else L0
        if llr >= A:
            return "accept_h1", i, llr
        if llr <= -A:
            return "accept_h0", i, llr
    return "continue", None, llr


def test_sprt_matches_integer_replay_both_verdicts(spark):
    for flags in ([True] * 15, [False] * 60, [i % 5 == 0 for i in range(200)]):
        rows = [
            _ev(i, dt.datetime(2024, 1, 1, 0) + dt.timedelta(minutes=i), 1,
                "purchase" if pos else "view", 1.0)
            for i, pos in enumerate(flags)
        ]
        with tempfile.TemporaryDirectory() as d:
            _write_events(spark, rows, d)
            got = w5.sprt_purchase_rate_monitor(spark, d).collect()[0]
        verdict, at, llr = _sprt_replay(flags)
        assert got.decision == verdict, flags[:5]
        assert got.decided_at == at
        if at is not None:
            assert abs(got.llr_at_decision - llr / 1e12) < 1e-9


def test_cohens_d_matches_formula(spark):
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    wk = [5.0, 7.0, 6.0]
    wd = [1.0, 3.0, 2.0, 2.0]
    rows = [_ev(i, sat, 1, "view", v) for i, v in enumerate(wk)]
    rows += [_ev(10 + i, mon, 1, "view", v) for i, v in enumerate(wd)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.cohens_d_weekend_value(spark, d).collect()[0]
    a = [v * 100 for v in wk]
    b = [v * 100 for v in wd]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    ssa = sum((x - ma) ** 2 for x in a)
    ssb = sum((x - mb) ** 2 for x in b)
    pooled = math.sqrt((ssa + ssb) / (len(a) + len(b) - 2))
    d_ref = (ma - mb) / pooled
    g_ref = d_ref * (1 - 3 / (4 * (len(a) + len(b)) - 9))
    assert (got.n_treated, got.n_control) == (3, 4)
    assert abs(got.diff_cents - (ma - mb)) < 1e-6
    assert abs(got.cohens_d - d_ref) < 1e-5
    assert abs(got.hedges_g - g_ref) < 1e-5


def test_energy_distance_matches_bruteforce(spark):
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    xs = [100, 300, 300, 700]   # weekend cents
    ys = [200, 200, 500]        # weekday cents
    rows = [_ev(i, sat, 1, "view", v / 100.0) for i, v in enumerate(xs)]
    rows += [_ev(10 + i, mon, 1, "view", v / 100.0) for i, v in enumerate(ys)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.energy_distance_weekend_value(spark, d).collect()[0]
    m, n = len(xs), len(ys)
    exy = sum(abs(x - y) for x in xs for y in ys) / (m * n)
    exx = sum(abs(a - b) for a in xs for b in xs) / (m * m)
    eyy = sum(abs(a - b) for a in ys for b in ys) / (n * n)
    ref = 2 * exy - exx - eyy
    assert (got.n_weekend, got.n_weekday) == (m, n)
    assert abs(got.energy_distance_cents - ref) < 1e-6


def _write_docs(spark, rows, d):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))


def test_heaps_law_linear_vocab_growth(spark):
    """Every doc introduces exactly 2 brand-new tokens -> V(n) = 2n,
    so beta ~ 1 and ln_k ~ ln(2)."""
    rows = [
        (i, f"a{i:04d} b{i:04d}", "en", "s", 10) for i in range(100)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        got = w5.heaps_law_fit_tokens(spark, d).collect()[0]
    assert got.n_checkpoints >= 15
    assert abs(got.beta - 1.0) < 0.01
    assert abs(got.ln_k - math.log(2)) < 0.02


def test_heaps_law_saturated_vocab_is_flat(spark):
    """A single repeated token -> vocabulary stays 1 -> beta ~ 0."""
    rows = [(i, "same same", "en", "s", 9) for i in range(50)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        got = w5.heaps_law_fit_tokens(spark, d).collect()[0]
    assert abs(got.beta) < 1e-9


def test_token_burstiness_separates_uniform_from_bursty(spark):
    """'flat' appears once in every doc (D -> 0, sub-Poisson);
    'burst' appears 10 times in a single doc (D >> 1)."""
    rows = []
    for i in range(10):
        text = "flat" + (" burst" * 10 if i == 0 else "")
        rows.append((i, text, "en", "s", len(text)))
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = {r.token: r for r in
               w5.token_burstiness_top_terms(spark, d).collect()}
    flat, burst = out["flat"], out["burst"]
    assert (flat.df, flat.tf) == (10, 10)
    assert flat.burstiness == 0.0  # constant 1 per doc: zero variance
    assert (burst.df, burst.tf) == (1, 10)
    # moments: E[c]=1, E[c^2]=10 -> D = (10-1)/1 = 9
    assert abs(burst.burstiness - 9.0) < 1e-9
    assert burst.mean_tf_when_present == 10.0


def test_sprt_prefix_sum_is_range_partitioned(plans):
    """The SPRT's data-sized stage must be the RANGE-partitioned
    distributed prefix sum — no single-partition window over events."""
    p = plans("sprt_purchase_rate_monitor")
    final = p.split("== Initial Plan ==")[0]
    # the ranged frame is materialized by the primitive's localCheckpoint
    # (the range exchange happens before the checkpoint), so the visible
    # data-sized window must be the per-partition local cumsum —
    # partitioned by pid — and the boundary pick a TakeOrdered(1)
    assert "windowspecdefinition(pid" in final
    assert "TakeOrderedAndProject(limit=1" in final


def test_wave5_histogram_stats_have_no_smj(plans):
    """The histogram-backed statistics keep joins broadcast-shaped and
    aggregation partial (map-side combined)."""
    for name in (
        "energy_distance_weekend_value",
        "weighted_quantiles_value_by_type",
        "average_precision_purchase_by_value",
        "cmh_weekend_purchase_by_hour",
    ):
        p = plans(name).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in p, name
        assert "partial" in p.lower(), name


def test_heaps_checkpoints_are_broadcast(plans):
    """The 20-checkpoint evaluation must reach the doc scan as a
    broadcast nested-loop (20-row spine), never a shuffle join."""
    p = plans("heaps_law_fit_tokens").split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def _write_embeddings(spark, vecs, d):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))


def test_cka_identical_halves_saturate(spark):
    """Second half == first half exactly -> all three Frobenius blocks
    coincide -> CKA == 1."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 32) * 0.3
    vecs = np.hstack([base, base])
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, vecs, d)
        got = w5.cka_embedding_halves(spark, d).collect()[0]
    assert got.n_vectors == 40
    assert abs(got.cka - 1.0) < 1e-4
    assert abs(got.frob_xx - got.frob_yy) < 1e-4


def test_cka_matches_numpy_reference(spark):
    """CKA on independent random halves matches the numpy feature-space
    formula ||Cxy||^2 / (||Cxx|| ||Cyy||) to fixed-point tolerance."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 64) * 0.4
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, vecs, d)
        got = w5.cka_embedding_halves(spark, d).collect()[0]
    # float32 round-trip (parquet stores float), then the query's math
    v32 = vecs.astype("float32").astype("float64")
    n = v32.shape[0]
    c = (v32 - v32.mean(axis=0)).T @ (v32 - v32.mean(axis=0)) / n / n
    xx = (c[:32, :32] ** 2).sum()
    yy = (c[32:, 32:] ** 2).sum()
    xy = (c[:32, 32:] ** 2).sum()
    ref = xy / math.sqrt(xx * yy)
    assert abs(got.cka - ref) < 5e-3
    assert 0.0 <= got.cka <= 1.0


def test_effective_rank_extremes(spark):
    """Isotropic data -> effective rank near dim; rank-1 data (all
    vectors on one line, mean removed) -> effective rank near 1."""
    import numpy as np

    rng = np.random.RandomState(3)
    iso = rng.randn(200, 64) * 0.2
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, iso, d)
        got_iso = w5.effective_rank_embeddings(spark, d).collect()[0]
    assert got_iso.effective_rank > 40  # isotropic: PR ~ n_dim-ish
    assert got_iso.anisotropy < 0.1

    direction = rng.randn(64)
    direction /= np.linalg.norm(direction)
    coef = rng.randn(200, 1) * 0.5
    line = coef @ direction[None, :]
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, line, d)
        got_line = w5.effective_rank_embeddings(spark, d).collect()[0]
    assert got_line.effective_rank < 1.5


def test_effective_rank_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(9)
    vecs = rng.randn(80, 64) * np.linspace(1.0, 0.05, 64)[None, :] * 0.5
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(spark, vecs, d)
        got = w5.effective_rank_embeddings(spark, d).collect()[0]
    v32 = vecs.astype("float32").astype("float64")
    n = v32.shape[0]
    c = (v32 - v32.mean(axis=0)).T @ (v32 - v32.mean(axis=0)) / n / n
    pr = np.trace(c) ** 2 / (c**2).sum()
    mean_sq = (v32.mean(axis=0) ** 2).sum()
    e_norm_sq = (v32**2).sum() / n
    assert abs(got.effective_rank - pr) < 0.05
    assert abs(got.anisotropy - mean_sq / e_norm_sq) < 1e-3


def test_rmst_matches_hand_integration(spark):
    """On the shared fixture: steps at t=2 (S->2/3) and t=5 (S->2/9);
    RMST(168) = 2*1 + 3*(2/3) + 163*(2/9) with the query's fixed-point
    per-piece convention."""
    rows, spec = _survival_fixture()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.rmst_to_purchase(spark, d).collect()[0]
    s1 = 1 - 2 / 6
    s2 = s1 * (1 - 2 / 3)
    a1 = math.floor((5 - 2) * s1 * 1e9 + 0.5) / 1e9
    a2 = math.floor((168 - 5) * s2 * 1e9 + 0.5) / 1e9
    ref = 2 + a1 + a2
    assert got.tau_h == 168 and got.n_steps == 2
    assert abs(got.rmst_h - round(ref, 6)) < 1e-9


def test_msprt_matches_python_replay(spark):
    """ln Lambda trajectory and the always-valid p replayed in python
    on a stream with an elevated rate (p ~ 0.5 >> p0 = 0.15)."""
    flags = [i % 2 == 0 for i in range(60)]
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, 0) + dt.timedelta(minutes=i), 1,
            "purchase" if pos else "view", 1.0)
        for i, pos in enumerate(flags)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.msprt_always_valid_pvalue(spark, d).collect()[0]
    p0, q0, t2 = 0.15, 0.1275, 0.01
    s = 0
    best, arg = -1e18, None
    for i, pos in enumerate(flags, start=1):
        s += pos
        ln_lam = 0.5 * math.log(q0 / (q0 + i * t2)) + (
            (s - i * p0) ** 2 * t2 / (2 * q0 * (q0 + i * t2))
        )
        if ln_lam > best:
            best, arg = ln_lam, i
    assert got.n_total == 60
    assert abs(got.max_ln_lambda - round(best, 6)) < 1e-9
    assert got.argmax_i == arg
    assert abs(got.p_always_valid - round(min(1.0, math.exp(-best)), 6)) < 2e-6
    assert got.p_always_valid < 0.05  # the elevated rate is detected


def test_qte_separates_tail_effect(spark):
    """Treatment shifts ONLY the upper tail: q25/q50 equal across arms,
    q75 differs — exactly what QTE should report and ATE would blur."""
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    ctrl = [1.0, 2.0, 3.0, 4.0]
    # type-1 q75 with n=4 picks the 3rd order statistic, so move IT
    treat = [1.0, 2.0, 8.0, 9.0]
    rows = [_ev(i, mon, 1, "view", v) for i, v in enumerate(ctrl)]
    rows += [_ev(10 + i, sat, 1, "view", v) for i, v in enumerate(treat)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.qte_weekend_value(spark, d).collect()[0]
    assert (got.n_treated, got.n_control) == (4, 4)
    assert got.qte25 == 0 and got.qte50 == 0
    assert got.qte75 == 500  # 900 - 400 cents


def test_trimmed_mean_drops_exact_tail_counts(spark):
    """n=10, 10% trim -> drop exactly the min and max rows; replay the
    kept-interval arithmetic by hand."""
    vals = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 4.0, 5.0, 100.0]
    rows = [_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", v)
            for i, v in enumerate(vals)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.trimmed_mean_value_by_type(spark, d).collect()[0]
    cents = sorted(round(v * 100) for v in vals)
    kept = cents[1:-1]  # lo = 10*1//10 = 1 from each side
    assert got.n == 10 and got.n_kept == 8
    assert abs(got.trimmed_mean_cents - sum(kept) / len(kept)) < 1e-6


def test_fwl_matches_two_stage_regression(spark):
    """FWL closed form == explicit residual-on-residual OLS replayed in
    python on a confounded fixture (same data as the stratified-ATE
    test, where the true within-stratum effect is +100 cents)."""
    rows, i = [], 0
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    pts = []
    for _ in range(3):
        rows.append(_ev(i, sat, 1, "view", 11.0)); pts.append((0, 1, 1100)); i += 1
    rows.append(_ev(i, mon, 1, "view", 10.0)); pts.append((0, 0, 1000)); i += 1
    rows.append(_ev(i, sat + dt.timedelta(hours=1), 1, "view", 2.0)); pts.append((1, 1, 200)); i += 1
    for _ in range(3):
        rows.append(_ev(i, mon + dt.timedelta(hours=1), 1, "view", 1.0)); pts.append((1, 0, 100)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.fwl_weekend_effect_hour_fe(spark, d).collect()[0]
    # python two-stage: demean y and w within each stratum, then OLS
    from collections import defaultdict
    by_h = defaultdict(list)
    for h, w, y in pts:
        by_h[h].append((w, y))
    num = den = 0.0
    for h, rows_h in by_h.items():
        wbar = sum(w for w, _ in rows_h) / len(rows_h)
        ybar = sum(y for _, y in rows_h) / len(rows_h)
        for w, y in rows_h:
            num += (w - wbar) * (y - ybar)
            den += (w - wbar) ** 2
    assert abs(got.fwl_effect_cents - num / den) < 1e-4
    # constant within-stratum effect: FWL == the true +100
    assert abs(got.fwl_effect_cents - 100.0) < 1e-4


def test_theil_decomposition_identity(spark):
    """between + within must equal the direct global Theil-T on the same
    customers (fixed-point granularity)."""
    sf_dir = f"{TESTDATA_ROOT}/sf0.001"
    dec = w5.theil_decomposition_by_nation(spark, sf_dir).collect()[0]
    assert dec.theil_between >= -1e-9
    assert dec.theil_within >= 0
    # direct replay of global Theil-T over the same positive revenues
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "nation", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    rows = con.execute("""
        SELECT CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT) AS r
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """).fetchall()
    rs = [r[0] for r in rows if r[0] > 0]
    n, mu = len(rs), sum(rs) / len(rs)
    t_direct = sum((x / mu) * math.log(x / mu) for x in rs) / n
    assert abs((dec.theil_between + dec.theil_within) - t_direct) < 1e-4


def test_mi_independence_and_identity_extremes(spark):
    """Independent type x hour -> MI ~ 0; type determined by hour -> MI
    == marginal entropy (NMI == 1)."""
    rows, i = [], 0
    # independent: every (type, hour) cell equally filled
    for typ in ("view", "click"):
        for h in range(4):
            for _ in range(5):
                rows.append(_ev(i, dt.datetime(2024, 1, 1, h), 1, typ, 1.0))
                i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        ind = w5.mi_type_hour_dependence(spark, d).collect()[0]
    assert abs(ind.mi_nats) < 1e-6 and abs(ind.nmi) < 1e-6

    rows, i = [], 0
    # deterministic: view only at hour 0, click only at hour 1
    for typ, h in (("view", 0), ("click", 1)):
        for _ in range(10):
            rows.append(_ev(i, dt.datetime(2024, 1, 1, h), 1, typ, 1.0))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        det = w5.mi_type_hour_dependence(spark, d).collect()[0]
    assert abs(det.mi_nats - math.log(2)) < 1e-6
    assert abs(det.nmi - 1.0) < 1e-6


def test_kendall_w_perfect_agreement(spark):
    """Two types with identical hourly revenue RANKINGS -> W == 1 (the
    zero-filled hours rank below the active ones for both judges)."""
    rows, i = [], 0
    for typ in ("view", "click"):
        for h in range(24):
            # strictly increasing revenue by hour, same order both types
            v = (h + 1) * 1.0
            rows.append(_ev(i, dt.datetime(2024, 1, 1, h), 1, typ, v))
            i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.kendall_w_hourly_revenue_ranking(spark, d).collect()[0]
    assert (got.n_hours, got.n_judges) == (24, 2)
    assert abs(got.kendall_w - 1.0) < 1e-9


@settings(**_W5_SETTINGS)
@given(st.lists(st.integers(1, 300), min_size=3, max_size=40))
def test_trimmed_mean_matches_bruteforce_property(spark, cents):
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", c / 100.0)
        for i, c in enumerate(cents)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.trimmed_mean_value_by_type(spark, d).collect()[0]
    svals = sorted(math.floor(c / 100.0 * 100) for c in cents)
    lo = len(svals) // 10
    kept = svals[lo:len(svals) - lo]
    assert got.n_kept == len(kept)
    assert abs(got.trimmed_mean_cents
               - round(sum(kept) / len(kept), 6)) < 1e-9


@settings(**_W5_SETTINGS)
@given(
    st.lists(st.integers(1, 200), min_size=2, max_size=25),
    st.lists(st.integers(1, 200), min_size=2, max_size=25),
)
def test_qte_matches_type1_quantiles_property(spark, treat, ctrl):
    sat, mon = dt.datetime(2024, 1, 6, 0), dt.datetime(2024, 1, 8, 0)
    rows = [_ev(i, sat, 1, "view", c / 100.0) for i, c in enumerate(treat)]
    rows += [_ev(1000 + i, mon, 1, "view", c / 100.0)
             for i, c in enumerate(ctrl)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.qte_weekend_value(spark, d).collect()[0]

    def q(vals, num, den):  # min v with den*rank >= num*n (type-1)
        s = sorted(math.floor(c / 100.0 * 100) for c in vals)
        n = len(s)
        for k, v in enumerate(s, start=1):
            if den * k >= num * n:
                return v
        return s[-1]

    assert got.qte25 == q(treat, 1, 4) - q(ctrl, 1, 4)
    assert got.qte50 == q(treat, 1, 2) - q(ctrl, 1, 2)
    assert got.qte75 == q(treat, 3, 4) - q(ctrl, 3, 4)


def test_abc_xyz_hand_classified(spark):
    """Three parts: one steady cash cow (A/X), one erratic mid seller
    (B or C with high CV), one single-week part (Z by convention)."""
    rows = []
    lid = 0

    def line(pk, price, qty, day):
        nonlocal lid
        lid += 1
        rows.append((lid, pk, 1, 1, float(qty), float(price), 0.0, 0.0,
                     "N", "O", dt.datetime(2024, 1, 1) + dt.timedelta(days=day)))

    # part 1: 80.00 total, 10/wk for 4 weeks -> CV 0, A/X
    for wkd in (0, 7, 14, 21):
        line(1, 20.0, 10, wkd)
    # part 2: 15.00 total, weekly qty 1 vs 19 -> CV ~ 1.27 -> Z
    line(2, 7.5, 1, 0)
    line(2, 7.5, 19, 7)
    # part 3: 5.00 in one single week -> Z (nw < 2)
    line(3, 5.0, 5, 0)
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {(r.abc, r.xyz): r.n_parts
               for r in w5.abc_xyz_parts(spark, d).collect()}
    # shares: p1 80%, cum 80% -> A; p2 cum 95% -> B; p3 -> C
    assert out == {("A", "X"): 1, ("B", "Z"): 1, ("C", "Z"): 1}


def test_order_to_ship_latency_quantile_picks(spark):
    od = spark.createDataFrame(
        [(1, 1, "O", 1.0, dt.datetime(2024, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    rows = [
        (1, 1, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O",
         dt.datetime(2024, 1, 1) + dt.timedelta(days=d))
        for i, d in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100], start=1)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        od.write.parquet(os.path.join(d, "orders.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = w5.order_to_ship_latency_quantiles(spark, d).collect()[0]
    assert got.n_lines == 10
    assert got.p50_days == 5    # 2*5 >= 10
    assert got.p90_days == 9    # 10*9 >= 90
    assert got.p99_days == 100  # 100*cc >= 990 needs the last row
    assert got.max_days == 100


def test_return_rate_wilson_containment(spark):
    """Brand with 1/4 returns: rate and the pinned-z Wilson bounds
    match the shared formula; bounds bracket the rate inside [0,1]."""
    pt = spark.createDataFrame(
        [(1, "widget", "Brand#1", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    rows = [
        (i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "R" if i == 1 else "N", "O",
         dt.datetime(2024, 1, 1))
        for i in range(1, 5)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        pt.write.parquet(os.path.join(d, "part.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = w5.return_rate_by_brand_wilson(spark, d).collect()[0]
    z = 1.959963984540054
    n, p = 4, 0.25
    center = p + z * z / (2 * n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    assert (got.n, got.r) == (4, 1)
    assert abs(got.lo95 - (center - half) / denom) < 1e-12
    assert abs(got.hi95 - (center + half) / denom) < 1e-12
    assert 0.0 <= got.lo95 <= got.rate <= got.hi95 <= 1.0


def test_price_elasticity_recovers_planted_slope(spark):
    """Weekly demand constructed as q = round(1000 * price^-2) ->
    elasticity ~ -2."""
    pt = spark.createDataFrame(
        [(1, "widget", "Brand#1", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    rows, lid = [], 0
    for wk in range(12):
        price = 1.0 + 0.25 * wk       # dollars per unit
        q = max(1, round(1000 * price ** -2.0))
        lid += 1
        rows.append(
            (lid, 1, 1, 1, float(q), price * q, 0.0, 0.0, "N", "O",
             dt.datetime(2024, 1, 1) + dt.timedelta(days=7 * wk))
        )
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        pt.write.parquet(os.path.join(d, "part.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = w5.price_elasticity_by_brand(spark, d).collect()[0]
    assert got.n_weeks == 12
    assert abs(got.elasticity + 2.0) < 0.05


def test_mad_matches_hand_computed(spark):
    """vals [1,2,3,4,100]: median 3.00, deviations [200,100,0,100,9700]
    -> MAD = 100 cents (robust against the 100.00 outlier)."""
    rows = [_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", v)
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.mad_value_by_type(spark, d).collect()[0]
    assert got.n == 5
    assert got.median_cents == 300
    assert got.mad_cents == 100


def test_tukey_fences_hand_fixture(spark):
    """vals [1..8, 100]: q1(type-1, n=9: 4cc>=9 -> 3rd)=3.00,
    q3 (4cc>=27 -> 7th)=7.00, IQR=400; high fence 700+600=1300 ->
    only 100.00 is an outlier; low fence 300-600<0 -> none."""
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    rows = [_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, "view", v)
            for i, v in enumerate(vals)]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.tukey_fence_outliers_by_type(spark, d).collect()[0]
    assert (got.q1, got.q3, got.iqr) == (300, 700, 400)
    assert got.n_low_outliers == 0
    assert got.n_high_outliers == 1


def test_seasonal_naive_exact_mae(spark):
    """Daily revenue 100*(d+1) cents for 14 days: every lag-7 error is
    exactly 700 cents, 7 forecasts."""
    rows = [
        _ev(d, dt.datetime(2024, 1, 1 + d, 12), 1, "view", (d + 1) * 1.0)
        for d in range(14)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w5.seasonal_naive_backtest(spark, d).collect()[0]
    assert got.n_forecasts == 7
    assert got.mae_snaive == 700.0
