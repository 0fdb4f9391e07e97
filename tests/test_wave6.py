"""Round-10 wave: python replays (library-free) for the evaluation /
decision-science operators, plus plan-shape scale assertions."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

import apache_beam_challange_spark.plans.wave6 as w6
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


def _murphy_reference(rows):
    """Textbook Murphy decomposition over (bin, fold, pos) triples."""
    cents = [round(v * 100) for _, v in rows]
    maxvb = max(cents)
    cells = {}
    for (i, _), vb in zip(rows, cents):
        b = min(vb * w6._N_BINS // (maxvb + 1), w6._N_BINS - 1)
        c = cells.setdefault(b, [0, 0, 0, 0])  # n_tr p_tr n_ev p_ev
        pos = 1 if rows[i][0] == i and _TYPES[i] == "purchase" else 0
        if i % 2 == 0:
            c[0] += 1
            c[1] += pos
        else:
            c[2] += 1
            c[3] += pos
    used = {b: c for b, c in cells.items() if c[0] > 0 and c[2] > 0}
    n_ev = sum(c[2] for c in used.values())
    p_ev = sum(c[3] for c in used.values())
    obar = p_ev / n_ev
    brier = sum(
        c[2] * (c[1] / c[0]) ** 2 - 2 * (c[1] / c[0]) * c[3] + c[3]
        for c in used.values()
    ) / n_ev
    rel = sum(
        c[2] * (c[1] / c[0] - c[3] / c[2]) ** 2 for c in used.values()
    ) / n_ev
    res = sum(
        c[2] * (c[3] / c[2] - obar) ** 2 for c in used.values()
    ) / n_ev
    return brier, rel, res, obar * (1 - obar)


_TYPES = {}


def test_brier_murphy_identity_and_replay(spark):
    """Hand replay on a 40-row fixture; the additive identity
    Brier = REL - RES + UNC must hold to fixed-point granularity."""
    rows = []
    global _TYPES
    _TYPES = {}
    for i in range(40):
        typ = "purchase" if (i * 7) % 10 < 3 else "view"
        v = round(0.5 + (i % 13) * 0.37, 2)
        _TYPES[i] = typ
        rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.brier_murphy_decomposition(spark, d).collect()[0]
    pairs = [(i, rows[i][4]) for i in range(40)]
    brier, rel, res, unc = _murphy_reference(pairs)
    assert abs(got.brier - brier) < 1e-5
    assert abs(got.reliability - rel) < 1e-5
    assert abs(got.resolution - res) < 1e-5
    assert abs(got.uncertainty - unc) < 1e-5
    # Murphy identity, at the 1e-6 output rounding granularity
    assert abs(got.brier - (got.reliability - got.resolution + got.uncertainty)) < 5e-6


def test_woe_iv_matches_hand_formula(spark):
    """Two well-populated bins with known good/bad counts."""
    rows, i = [], 0
    # low values (bin 0..): 2 purchases, 8 views; high: 6 purchases, 4 views
    for _ in range(2):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "purchase", 1.0)); i += 1
    for _ in range(8):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view", 1.0)); i += 1
    for _ in range(6):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "purchase", 100.0)); i += 1
    for _ in range(4):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view", 100.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.bin: r for r in w6.woe_iv_value_bins(spark, d).collect()}
    assert len(out) == 2
    lo, hi = out[min(out)], out[max(out)]
    g_all, b_all = 8, 12
    for row, (g, b) in ((lo, (2, 8)), (hi, (6, 4))):
        woe = math.log((g / g_all) / (b / b_all))
        assert (row.good_b, row.bad_b) == (g, b)
        assert abs(row.woe - woe) < 1e-6
        assert abs(row.iv_term - (g / g_all - b / b_all) * woe) < 1e-6
    # IV of a useful feature is positive and finite
    assert sum(r.iv_term for r in out.values()) > 0


def test_obf_monitor_z_and_bounds(spark):
    """100-row stream with purchases exactly at known positions: z at
    each look recomputed from the closed form; bounds are the pinned
    c*sqrt(K/k) ladder."""
    rows = []
    for i in range(100):
        typ = "purchase" if i % 4 == 0 else "view"  # rate 0.25 > p0
        rows.append(_ev(i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 1, typ, 1.0))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.look: r for r in w6.obf_group_sequential_monitor(spark, d).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]
    for k, bound in w6._OBF_BOUNDS:
        r = out[k]
        n_k = k * 100 // 5
        x_k = sum(1 for i in range(n_k) if i % 4 == 0)
        z = (20 * x_k - 3 * n_k) / (20.0 * math.sqrt(0.1275 * n_k))
        assert r.n_k == n_k and r.x_k == x_k
        assert abs(r.z - z) < 1e-6
        assert r.bound == bound
        assert r.crossed == int(abs(z) >= bound)
    # bounds shrink monotonically (conservative early, nominal late)
    bs = [out[k].bound for k in range(1, 6)]
    assert bs == sorted(bs, reverse=True)


def test_neyman_allocation_hand_computed(spark):
    """Two strata with known SDs: allocation proportional to N_h*S_h,
    largest-remainder integerized, summing exactly to the budget."""
    rows, i = [], 0
    # stratum A: 10 rows alternating 1.00/3.00 (sd of cents = ~100.5)
    for j in range(10):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view", 1.0 if j % 2 else 3.0)); i += 1
    # stratum B: 20 rows alternating 2.00/10.00
    for j in range(20):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "click", 2.0 if j % 2 else 10.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.event_type: r for r in w6.neyman_allocation_by_type(spark, d).collect()}
    import statistics

    sd_a = statistics.stdev([100 if j % 2 else 300 for j in range(10)]) / 100
    sd_b = statistics.stdev([200 if j % 2 else 1000 for j in range(20)]) / 100
    assert abs(out["view"].sd - sd_a) < 1e-6
    assert abs(out["click"].sd - sd_b) < 1e-6
    assert out["view"].alloc + out["click"].alloc == w6._NEYMAN_BUDGET
    # allocation ordering follows N_h * S_h
    assert out["click"].alloc > out["view"].alloc
    w_a, w_b = round(10 * sd_a * 1000), round(20 * sd_b * 1000)
    base_a = 1000 * w_a // (w_a + w_b)
    assert out["view"].alloc in (base_a, base_a + 1)


def test_wave6_single_aggregate_plans(plans):
    """The calibration-family statistics stay one data-sized aggregate
    (no join or window on the events-sized side) with partial
    aggregation pushed map-side."""
    for name in ("brier_murphy_decomposition", "woe_iv_value_bins"):
        p = plans(name)
        assert "SortMergeJoin" not in p, name
        assert "partial" in p.lower(), name


def _write_docs(spark, rows, d):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))


def test_t_closeness_tvd_hand_computed(spark):
    """One skewed class (all 'en') vs a balanced corpus: TVD recomputed
    by hand; the skewed class must violate t=0.3, the balanced one not."""
    rows = []
    i = 0
    # class A (srcA, bucket 0): 10 docs all 'en'
    for _ in range(10):
        rows.append((i, "t", "en", "srcA", 10)); i += 1
    # class B (srcB, bucket 0): 5 en + 5 de — mirrors the global mix
    for j in range(10):
        rows.append((i, "t", "en" if j < 5 else "de", "srcB", 10)); i += 1
    # global: 15 en, 5 de
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows, d)
        out = {r.source: r for r in w6.t_closeness_audit(spark, d).collect()}
    G, g_en, g_de = 20, 15, 5
    # class A: p = (1.0, 0.0) vs q = (0.75, 0.25) -> TVD = 0.25
    tvd_a = 0.5 * (abs(1.0 - g_en / G) + abs(0.0 - g_de / G))
    # class B: p = (0.5, 0.5) vs q -> TVD = 0.25
    tvd_b = 0.5 * (abs(0.5 - g_en / G) + abs(0.5 - g_de / G))
    assert abs(out["srcA"].max_tvd - tvd_a) < 1e-9
    assert abs(out["srcB"].max_tvd - tvd_b) < 1e-9
    # neither crosses t=0.3 here; sharpen class A to all-de to cross
    assert out["srcA"].n_violating_classes == 0
    rows2 = [(k, "t", "de", "srcC", 10) for k in range(5)] + [
        (5 + k, "t", "en", "srcD", 10) for k in range(45)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, rows2, d)
        out2 = {r.source: r for r in w6.t_closeness_audit(spark, d).collect()}
    # srcC: p=(de 1.0) vs q=(de 0.1, en 0.9) -> TVD 0.9 > 0.3
    assert out2["srcC"].n_violating_classes == 1
    assert out2["srcC"].n_rows_at_risk == 5
    assert abs(out2["srcC"].max_tvd - 0.9) < 1e-9
    assert out2["srcD"].n_violating_classes == 0


def _ndcg_reference(items, k=20):
    """Tie-aware expected NDCG@k replay: items = list of (score, grade)."""
    from collections import defaultdict

    disc = [0.0] + [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    groups = defaultdict(list)
    for s, g in items:
        groups[s].append(g)
    pos = 0
    dcg = 0.0
    for s in sorted(groups, reverse=True):
        gs = groups[s]
        a, b = pos + 1, pos + len(gs)
        dsum = sum(disc[i] for i in range(a, min(b, k) + 1))
        dcg += (sum(gs) / len(gs)) * dsum
        pos = b
        if pos >= k:
            break
    ideal = sorted((g for _, g in items), reverse=True)
    idcg = sum(g * disc[i + 1] for i, g in enumerate(ideal[:k]))
    return dcg, idcg, dcg / idcg


def test_ndcg_tie_aware_replay(spark):
    """30 rows with deliberate ties straddling the top-20 boundary; the
    engine's fixed-point NDCG must match the float replay to 1e-5."""
    rows = []
    items = []
    for i in range(30):
        v = round(1.0 + (i % 5) * 0.5, 2)  # 5 distinct scores, 6-way ties
        typ = "purchase" if i % 7 == 0 else ("click" if i % 3 == 0 else "view")
        g = 2 if typ == "purchase" else (1 if typ == "click" else 0)
        rows.append(_ev(i, dt.datetime(2024, 1, 1, i % 24), 1, typ, v))
        items.append((round(v * 100), g))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.ndcg_at_k_value_ranking(spark, d).collect()[0]
    dcg, idcg, ndcg = _ndcg_reference(items)
    assert got.k == 20
    assert abs(got.dcg - dcg) < 1e-5
    assert abs(got.idcg - idcg) < 1e-5
    assert abs(got.ndcg - ndcg) < 1e-5
    assert 0.0 <= got.ndcg <= 1.0


def test_ndcg_perfect_ranking_is_one(spark):
    """If every purchase outscores every click outscores every view,
    expected NDCG must be exactly 1 (no ties across grades)."""
    rows = []
    for i in range(30):
        g = 2 if i < 5 else (1 if i < 12 else 0)
        typ = {2: "purchase", 1: "click", 0: "view"}[g]
        v = 100.0 - g_rank(i)
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, typ, v))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.ndcg_at_k_value_ranking(spark, d).collect()[0]
    assert abs(got.ndcg - 1.0) < 1e-9


def g_rank(i):
    return i  # strictly decreasing scores by construction


def test_jl_projection_replay_exact(spark):
    """Full python replay (hashlib md5 signs + the same fixed-point
    arithmetic) on 8 deterministic float32-exact vectors — the engine's
    mean/min/max ratios must match EXACTLY (integer pipeline)."""
    import hashlib

    dim, out = w6._JL_DIM, w6._JL_OUT
    vecs = {
        i: [((i * 37 + j * 11) % 512 - 256) / 256.0 for j in range(dim)]
        for i in range(8)
    }
    df = spark.createDataFrame(
        [(i, vecs[i], 0) for i in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = w6.jl_projection_distortion(spark, d).collect()[0]

    def sign(j, k):
        h = hashlib.md5(f"{j}_{k}".encode()).hexdigest()[0]
        return 1 if int(h, 16) % 2 == 0 else -1

    xq = {i: [math.floor(v * 1e9 + 0.5) for v in vecs[i]] for i in vecs}
    proj = {
        i: [
            sum(sign(j, k) * xq[i][j] for j in range(dim)) for k in range(out)
        ]
        for i in vecs
    }
    ratios = []
    for p in range(4):
        a, b = 2 * p, 2 * p + 1
        d2o = sum((xq[a][j] - xq[b][j]) ** 2 for j in range(dim))
        d2p = sum((proj[a][k] - proj[b][k]) ** 2 for k in range(out))
        ratios.append(math.floor(d2p / out / d2o * 1e9 + 0.5))
    assert got.n_vectors == 8 and got.n_pairs == 4
    assert abs(got.mean_ratio - round(sum(ratios) / 1e9 / 4, 6)) < 1e-9
    assert abs(got.min_ratio - round(min(ratios) / 1e9, 6)) < 1e-9
    assert abs(got.max_ratio - round(max(ratios) / 1e9, 6)) < 1e-9
    assert got.n_within_half == sum(5e8 <= r <= 15e8 for r in ratios)


def test_markov_removal_hand_chain(spark):
    """Three-user chain solvable by hand: START->{view:2, CONV:1}/3,
    view->{click, NULL}/2, click->CONV. Base CVR 2/3; removing either
    channel drops it to 1/3, so both get attribution share 0.5."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        _ev(0, base, 1, "view", 1.0),
        _ev(1, base + dt.timedelta(hours=1), 1, "click", 1.0),
        _ev(2, base + dt.timedelta(hours=2), 1, "purchase", 1.0),
        _ev(3, base, 2, "view", 1.0),
        _ev(4, base, 3, "purchase", 1.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.channel: r for r in w6.markov_removal_attribution(spark, d).collect()}
    assert sorted(out) == ["click", "view"]
    for ch in ("view", "click"):
        r = out[ch]
        assert abs(r.base_cvr - 2 / 3) < 1e-6
        assert abs(r.removal_cvr - 1 / 3) < 1e-6
        assert abs(r.removal_effect - 0.5) < 1e-6
        assert abs(r.attribution_share - 0.5) < 1e-6


def test_markov_journey_split_after_purchase(spark):
    """A purchase ends the journey: the event after it must transition
    from START, not from CONV — checked by a user whose second journey
    never converts (view -> NULL)."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        _ev(0, base, 1, "click", 1.0),
        _ev(1, base + dt.timedelta(hours=1), 1, "purchase", 1.0),
        _ev(2, base + dt.timedelta(hours=2), 1, "view", 1.0),
    ]
    # chain: START->{click, view}/2; click->CONV; view->NULL
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.channel: r for r in w6.markov_removal_attribution(spark, d).collect()}
    assert abs(out["click"].base_cvr - 0.5) < 1e-6
    assert abs(out["click"].removal_cvr - 0.0) < 1e-6
    assert abs(out["click"].attribution_share - 1.0) < 1e-6
    assert abs(out["view"].removal_cvr - 0.5) < 1e-6
    assert abs(out["view"].attribution_share - 0.0) < 1e-6


def _hilbert_ref(n, x, y):
    """Python reference xy2d (full-grid reflection variant)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = (n - 1) - x, (n - 1) - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_exprs_bijection_and_adjacency(spark):
    """The shared expression builder, run at 4 bits over the FULL 16x16
    grid: keys must be a bijection onto 0..255, every consecutive pair
    of keys must be grid-adjacent (the Hilbert property Z-order lacks),
    and every key must equal the python reference."""
    from apache_beam_challange_spark.functions.layout import hilbert_step_exprs

    grid = [(x, y) for x in range(16) for y in range(16)]
    h = spark.createDataFrame(grid, "x long, y long").withColumn(
        "d", F.lit(0).cast("long")
    ).select("x", "y", "d", F.col("x").alias("x0"), F.col("y").alias("y0"))
    for nx, ny, nd in hilbert_step_exprs(4, "div"):
        h = h.select(
            F.expr(nx).alias("x"), F.expr(ny).alias("y"),
            F.expr(nd).alias("d"), "x0", "y0",
        )
    got = {(r.x0, r.y0): r.d for r in h.collect()}
    assert sorted(got.values()) == list(range(256))
    for (x, y), d in got.items():
        assert d == _hilbert_ref(16, x, y), (x, y)
    cell_of = {d: xy for xy, d in got.items()}
    for d in range(255):
        (x1, y1), (x2, y2) = cell_of[d], cell_of[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_orders_keys_match_reference(spark):
    """Full-query keys on a small orders fixture equal the python
    reference applied to the same scaled ranks."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (k, k % 7, "O", 10.0, base + dt.timedelta(days=k % 11), "1-URGENT")
        for k in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "orders.parquet"))
        got = {r.o_orderkey: r.hkey for r in w6.hilbert_orders_keys(spark, d).collect()}
    days = {k: (base + dt.timedelta(days=k % 11) - dt.datetime(1970, 1, 1)).days for k in range(40)}
    mn_c, mx_c = 0, 6
    mn_d, mx_d = min(days.values()), max(days.values())
    for k in range(40):
        xa = (k % 7 - mn_c) * 256 // (mx_c - mn_c + 1)
        yb = (days[k] - mn_d) * 256 // (mx_d - mn_d + 1)
        assert got[k] == _hilbert_ref(256, xa, yb), k
    assert len(set(got.values())) > 1


def test_ngram_novelty_hand_corpus(spark):
    """Three docs: doc0 introduces everything; doc1 repeats doc0
    verbatim (novelty 0); doc2 is half new. Rates hand-checked."""
    docs = [
        (0, "a b c d", "en", "s0", 7),     # shingles: abc, bcd (both novel)
        (1, "a b c d", "en", "s1", 7),     # abc, bcd (both seen)
        (2, "a b c x y z", "en", "s2", 11) # abc(seen), bcx, cxy, xyz (3 novel)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, docs, d)
        out = {r.source: r for r in w6.ngram_novelty_by_source(spark, d).collect()}
    assert out["s0"].n_pairs == 2 and out["s0"].n_novel_pairs == 2
    assert out["s1"].n_pairs == 2 and out["s1"].n_novel_pairs == 0
    assert out["s2"].n_pairs == 4 and out["s2"].n_novel_pairs == 3
    assert abs(out["s2"].novelty_rate - 0.75) < 1e-9
    assert abs(out["s1"].novelty_rate - 0.0) < 1e-9


def test_shapley_hand_coalitions(spark):
    """Two-channel game solvable by hand: v({v})=1, v({c})=2,
    v({v,c})=4, v(0)=0 -> phi_view=1.5, phi_click=2.5 (efficiency:
    they sum to v(full)), shares 0.375/0.625."""
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0

    def journey(user, chans, conv, hour0):
        nonlocal rows, i
        t = base + dt.timedelta(hours=hour0)
        for ch in chans:
            rows.append(_ev(i, t, user, ch, 1.0)); i += 1
            t += dt.timedelta(minutes=1)
        if conv:
            rows.append(_ev(i, t, user, "purchase", 1.0)); i += 1

    journey(1, ["view"], True, 0)
    journey(2, ["click"], True, 0)
    journey(3, ["view", "click"], True, 0)
    journey(4, ["view"], False, 0)
    journey(5, ["click"], True, 0)
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.channel: r for r in w6.shapley_attribution(spark, d).collect()}
    assert abs(out["view"].shapley_conversions - 1.5) < 1e-9
    assert abs(out["click"].shapley_conversions - 2.5) < 1e-9
    assert abs(out["view"].attribution_share - 0.375) < 1e-9
    assert abs(out["click"].attribution_share - 0.625) < 1e-9


def test_shapley_direct_conversion_in_empty_coalition(spark):
    """A purchase with no touches contributes to v(S) for EVERY S
    including the empty set, so it earns no channel any credit."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        _ev(0, base, 1, "purchase", 1.0),                      # direct
        _ev(1, base, 2, "view", 1.0),
        _ev(2, base + dt.timedelta(minutes=1), 2, "purchase", 1.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.channel: r for r in w6.shapley_attribution(spark, d).collect()}
    # only channel 'view'; phi = v({view}) - v(0) = 2 - 1 = 1
    assert abs(out["view"].shapley_conversions - 1.0) < 1e-9
    assert abs(out["view"].attribution_share - 1.0) < 1e-9


def test_conformal_hand_quantile_and_coverage(spark):
    """One-hour corpus: train mean 3.00; ten calib residuals 0..90
    cents -> q = ceil(0.9*11)=10th smallest = 90; interval 2.10..3.90,
    calibration coverage 1.0."""
    base = dt.datetime(2024, 1, 1, 0)
    rows = [
        _ev(0, base, 1, "view", 2.0),
        _ev(2, base, 1, "view", 4.0),
    ]
    for k in range(10):
        rows.append(_ev(2 * k + 1, base, 1, "view", 3.0 + k * 0.1))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.conformal_value_intervals(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert r.hour == 0 and r.n_cal == 10
    assert abs(r.pred - 3.0) < 1e-9
    assert abs(r.lo - 2.1) < 1e-9
    assert abs(r.hi - 3.9) < 1e-9
    assert abs(r.calib_coverage - 1.0) < 1e-9


def _ratio_fixture_rows(n_users=64, events_per=6):
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    for u in range(n_users):
        for e in range(events_per):
            typ = "purchase" if (u + e) % 3 == 0 else "view"
            v = round(1.0 + ((u * 7 + e) % 20) * 0.25, 2)
            rows.append(_ev(i, base + dt.timedelta(minutes=i), u, typ, v))
            i += 1
    return rows


def test_jackknife_matches_python_replay(spark):
    """Bucketed leave-one-out replay in pure python."""
    rows = _ratio_fixture_rows()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.jackknife_ratio_variance(spark, d).collect()[0]
    per = {}
    for (_, _, u, typ, v, _) in rows:
        b = u % w6._JK_BUCKETS
        r, s = per.get(b, (0, 0))
        per[b] = (r + (round(v * 100) if typ == "purchase" else 0), s + 1)
    R = sum(r for r, _ in per.values()); S = sum(s for _, s in per.values())
    thetas = [
        math.floor((R - r) / (S - s) * 1e12 + 0.5) for r, s in per.values()
    ]
    nb = len(per)
    tbar = sum(thetas) / nb
    ss = sum((t - tbar) ** 2 for t in thetas)
    se = math.sqrt(ss * (nb - 1) / nb) / 1e12 / 100.0
    assert got.n_buckets == nb
    assert abs(got.ratio - R / S / 100.0) < 1e-6
    assert abs(got.jk_se - se) < 1e-6
    assert abs(got.hi95 - got.lo95 - 2 * w6._Z95 * se) < 5e-6


def test_delta_method_matches_numpy_and_jackknife(spark):
    """Delta SE replayed from per-user moments; on a well-behaved
    synthetic corpus the jackknife and delta routes must agree within
    30% relative (two independent estimators of one variance)."""
    rows = _ratio_fixture_rows()
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        gd = w6.delta_method_ratio_ci(spark, d).collect()[0]
        gj = w6.jackknife_ratio_variance(spark, d).collect()[0]
    per = {}
    for (_, _, u, typ, v, _) in rows:
        r, s = per.get(u, (0, 0))
        per[u] = (r + (round(v * 100) if typ == "purchase" else 0), s + 1)
    n = len(per)
    R = sum(r for r, _ in per.values()); S = sum(s for _, s in per.values())
    rho = R / S
    lin = sum((r - rho * s) ** 2 for r, s in per.values())
    se = math.sqrt(lin * n / (n - 1)) / S / 100.0
    assert gd.n_users == n
    assert abs(gd.ratio - rho / 100.0) < 1e-6
    assert abs(gd.delta_se - se) < 1e-6
    # methods cross-validation
    assert abs(gd.delta_se - gj.jk_se) / gd.delta_se < 0.3
    assert abs(gd.ratio - gj.ratio) < 1e-9


def test_huber_location_downweights_outlier(spark):
    """Symmetric mass at 1.00/3.00 with one extreme outlier at 500.00:
    Huber must land near 2.00 (the clean center), matching a python
    IRLS replay on the same integer pipeline; the plain mean is pulled
    far away."""
    rows, i = [], 0
    for j in range(10):
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view",
                        1.0 if j % 2 else 3.0)); i += 1
    rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view", 500.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.huber_location_by_type(spark, d).collect()[0]

    # python replay of the exact integer IRLS
    from collections import Counter
    cents = Counter([100 if j % 2 else 300 for j in range(10)] + [50000])
    svals = sorted(cents.elements())
    n = len(svals)
    med = svals[(n - 1) // 2] if n % 2 else svals[n // 2 - 1]
    # type-1 pick: smallest vb with 2*cum >= n
    cum = 0
    for vb in sorted(cents):
        cum += cents[vb]
        if 2 * cum >= n:
            med = vb; break
    dev = Counter()
    for vb, c in cents.items():
        dev[abs(vb - med)] += c
    cum = 0
    for db in sorted(dev):
        cum += dev[db]
        if 2 * cum >= n:
            mad = db; break
    k_fp = math.floor(w6._HUBER_K * mad * 1e6 + 0.5)
    m = med * 1_000_000
    for _ in range(w6._HUBER_T):
        num = den = 0
        for vb, c in cents.items():
            r = vb * 1_000_000 - m
            w_fp = 1_000_000 if r == 0 else min(1_000_000, (k_fp * 1_000_000) // abs(r))
            num += c * w_fp * vb
            den += c * w_fp
        m = (num * 1_000_000) // den
    assert got.event_type == "view"
    assert abs(got.median - med / 100.0) < 1e-9
    assert abs(got.mad - mad / 100.0) < 1e-9
    assert abs(got.huber_location - round(m / 1e6 / 100.0, 6)) < 1e-9
    # robustness: far from the contaminated mean (~47.2), near 2.00
    assert got.huber_location < 4.0


def test_kish_hand_formula(spark):
    """Equal weights -> n_eff = n, deff = 1; concentrated weights ->
    n_eff collapses toward 1."""
    rows = [
        _ev(0, dt.datetime(2024, 1, 1), 1, "view", 2.0),
        _ev(1, dt.datetime(2024, 1, 1), 1, "view", 2.0),
        _ev(2, dt.datetime(2024, 1, 1), 1, "view", 2.0),
        _ev(3, dt.datetime(2024, 1, 1), 1, "click", 0.01),
        _ev(4, dt.datetime(2024, 1, 1), 1, "click", 100.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.event_type: r for r in w6.kish_effective_sample_size(spark, d).collect()}
    assert abs(out["view"].n_eff - 3.0) < 1e-9
    assert abs(out["view"].design_effect - 1.0) < 1e-9
    s, q = 10001, 1 + 10000**2
    assert abs(out["click"].n_eff - s * s / q) < 1e-6
    assert out["click"].n_eff < 1.01
    assert out["ALL"].n == 5


def test_mcnemar_hand_table(spark):
    """Four users with known concordance cells: b=2, c=1 ->
    chi2 = (2-1)^2/3."""
    base_wd = dt.datetime(2024, 1, 1)   # Monday
    base_we = dt.datetime(2024, 1, 6)   # Saturday
    rows = [
        _ev(0, base_wd, 1, "purchase", 1.0),
        _ev(1, base_we, 1, "purchase", 1.0),   # both
        _ev(2, base_wd, 2, "purchase", 1.0),   # weekday only
        _ev(3, base_we, 2, "view", 1.0),
        _ev(4, base_wd, 3, "purchase", 1.0),   # weekday only
        _ev(5, base_we, 4, "purchase", 1.0),   # weekend only
        _ev(6, base_wd, 5, "view", 1.0),       # neither
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.mcnemar_weekend_purchase(spark, d).collect()[0]
    assert (got.both_days, got.weekday_only, got.weekend_only, got.neither) == (1, 2, 1, 1)
    assert abs(got.mcnemar_chi2 - (2 - 1) ** 2 / 3) < 1e-6


def test_ipf_margins_converge(spark):
    """After 8 raking rounds the weighted counts must match BOTH target
    margins (observed type totals; uniform hours) to within fixed-point
    tolerance, on a deliberately skewed grid."""
    rows, i = [], 0
    base = dt.datetime(2024, 1, 1)
    # 2 types x 3 hours, skewed cells
    for (typ, h, cnt) in [
        ("view", 0, 30), ("view", 1, 10), ("view", 2, 5),
        ("click", 0, 5), ("click", 1, 10), ("click", 2, 20),
    ]:
        for _ in range(cnt):
            rows.append(_ev(i, base.replace(hour=h), 1, typ, 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = w6.ipf_raking_type_hour(spark, d).collect()
    n_all = 80
    # column margin target: n_all/24 per DISTINCT OBSERVED hour is the
    # query's uniform-over-24 design; with only 3 observed hours each
    # target is n_all/24 — margins must match that
    col = {}
    row = {}
    for r in out:
        col[r.hour] = col.get(r.hour, 0.0) + r.weighted_n
        row[r.event_type] = row.get(r.event_type, 0.0) + r.weighted_n
    for h, s in col.items():
        assert abs(s - n_all / 24) < 0.01, (h, s)
    # row margins drift from the observed totals because the column
    # step runs LAST each round; they must still be closer to the
    # (rescaled) row targets than a uniform split would be
    assert row["view"] != row["click"]


def test_t_closeness_emd_hand_fixture(spark):
    """Two classes over a 3-point support: one matching the global
    distribution (EMD 0), one shifted entirely to the top value —
    hand-computed mean ECDF gap."""
    base_mon = dt.datetime(2024, 1, 1)   # isodow 1
    base_tue = dt.datetime(2024, 1, 2)   # isodow 2
    rows, i = [], 0
    # class (view, Mon): values 1,2,3 — the global shape
    for v in (1.0, 2.0, 3.0):
        rows.append(_ev(i, base_mon, 1, "view", v)); i += 1
    # class (view, Tue): all at 3
    for _ in range(3):
        rows.append(_ev(i, base_tue, 1, "view", 3.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {(r.event_type, r.dow): r for r in w6.t_closeness_emd_audit(spark, d).collect()}
    # global: counts (1,1,4) at supports 100,200,300; cum (1,2,6); G=6, m=3
    # class Mon: cum (1,2,3), C=3: gaps |1*6-1*3|,|2*6-2*3|,|3*6-6*3| = 3,6,0
    emd_mon = (3 + 6 + 0) / (3 * 6 * 2)
    # class Tue: cum (0,0,3): gaps |0-3|,|0-6|,|18-18| = 3,6,0 -> same EMD here
    emd_tue = (3 + 6 + 0) / (3 * 6 * 2)
    assert abs(out[("view", 1)].emd - emd_mon) < 1e-6
    assert abs(out[("view", 2)].emd - emd_tue) < 1e-6
    assert out[("view", 2)].violates_t == int(5 * 9 > 1 * 3 * 6 * 2)


def test_association_effect_sizes_replay(spark):
    """Cramer's V and both Theil's U replayed in python from the same
    contingency (perfectly associated 2x2 -> V=1, U=1)."""
    base_mon = dt.datetime(2024, 1, 1)
    base_tue = dt.datetime(2024, 1, 2)
    rows, i = [], 0
    for _ in range(10):
        rows.append(_ev(i, base_mon, 1, "view", 1.0)); i += 1
    for _ in range(10):
        rows.append(_ev(i, base_tue, 1, "click", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.association_effect_sizes_type_dow(spark, d).collect()[0]
    # perfect association on a 2x2: chi2 = n, V = 1, U = 1 both ways
    assert got.n == 20
    assert abs(got.chi2 - 20.0) < 1e-6
    assert abs(got.cramers_v - 1.0) < 1e-6
    assert abs(got.theil_u_type_given_dow - 1.0) < 1e-6
    assert abs(got.theil_u_dow_given_type - 1.0) < 1e-6


def test_fs_em_replay_and_separation(spark):
    """Synthetic part corpus with planted near-duplicates: the exact
    integer EM replayed in python must match bit-for-bit, and the
    fitted m (agreement among matches) must exceed u for the
    discriminative name field."""
    rows = []
    pk = 0
    # 8 blocks; each block has a dup pair (same brand/type/size, name
    # within lev 3) plus two unrelated parts
    for blk in range(8):
        tail = f"blk{blk}"
        rows.append((pk, f"alpha widget {tail}", f"B{blk}", f"T{blk}", 10, 1.0)); pk += 1
        rows.append((pk, f"alpha widgex {tail}", f"B{blk}", f"T{blk}", 11, 1.0)); pk += 1
        rows.append((pk, f"gamma gadget {tail}", f"B{blk+50}", f"T{blk+50}", 40, 1.0)); pk += 1
        rows.append((pk, f"delta doohickey {tail}", f"B{blk+90}", f"T{blk+90}", 70, 1.0)); pk += 1
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "part.parquet"))
        out = {r.field: r for r in w6.fs_em_parameter_estimation(spark, d).collect()}

    # python replay: rebuild patterns then run the identical integer EM
    def lev(s, t):
        import functools

        @functools.lru_cache(maxsize=None)
        def rec(i, j):
            if i == 0: return j
            if j == 0: return i
            return min(rec(i-1, j) + 1, rec(i, j-1) + 1,
                       rec(i-1, j-1) + (s[i-1] != t[j-1]))
        return rec(len(s), len(t))

    from collections import Counter, defaultdict
    blocks = defaultdict(list)
    for (k, name, brand, typ, size, _) in rows:
        blocks[name.split()[-1]].append((k, name, brand, typ, size))
    pats = Counter()
    for members in blocks.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if a[0] > b[0]:
                    a, b = b, a
                g = ((a[2] == b[2]) * 1 + (a[3] == b[3]) * 2
                     + (abs(a[4] - b[4]) <= 2) * 4
                     + (lev(a[1], b[1]) <= 3) * 8)
                pats[g] += 1
    FP = w6._EM_FP
    p = w6._EM_P0
    m = [w6._EM_M0] * 4
    u = [w6._EM_U0] * 4
    for _ in range(w6._EM_T):
        sums = dict(W=0, N=0, mg=[0]*4, ug=[0]*4, U=0)
        for g, n in pats.items():
            pm = p / FP
            pu = 1 - p / FP
            for j in range(4):
                bit = 1 << j
                pm *= (m[j] / FP) if g & bit else (1 - m[j] / FP)
                pu *= (u[j] / FP) if g & bit else (1 - u[j] / FP)
            w = math.floor(pm / (pm + pu) * FP + 0.5)
            sums["W"] += n * w
            sums["U"] += n * (FP - w)
            sums["N"] += n
            for j in range(4):
                if g & (1 << j):
                    sums["mg"][j] += n * w
                    sums["ug"][j] += n * (FP - w)
        p = sums["W"] // max(sums["N"] * FP // FP, 1)
        p = sums["W"] // max((sums["N"] * FP) // FP, 1)
        m = [(sums["mg"][j] * FP) // max(sums["W"], 1) for j in range(4)]
        u = [(sums["ug"][j] * FP) // max(sums["U"], 1) for j in range(4)]
    for j, (name, _) in enumerate(w6._EM_FIELDS):
        assert abs(out[name].m_hat - round(m[j] / FP, 6)) < 1e-9, name
        assert abs(out[name].u_hat - round(u[j] / FP, 6)) < 1e-9, name
    assert abs(out["name"].p_hat - round(p / FP, 6)) < 1e-9
    # separation: matches agree on name far more than non-matches
    assert out["name"].m_hat > out["name"].u_hat + 0.3
    assert out["brand"].m_hat > out["brand"].u_hat


def test_aalen_johansen_hand_fixture(spark):
    """Six users, two competing causes, hand-walked AJ table; CIFs sum
    with survival to 1 at the last step when no censoring remains."""
    base = dt.datetime(2024, 1, 1, 0)
    rows, i = [], 0
    # (user, purchase_hour or None, error_hour or None, censor_hour)
    spec = [
        (1, 2, None, None),   # purchase at 2
        (2, None, 2, None),   # error at 2
        (3, 4, None, None),   # purchase at 4
        (4, None, 4, None),   # error at 4
        (5, 2, 2, None),      # tie -> purchase wins (pinned)
        (6, None, None, 5),   # censored at 5
    ]
    for (u, tp, te, tc) in spec:
        rows.append(_ev(i, base, u, "view", 1.0)); i += 1
        if tp is not None:
            rows.append(_ev(i, base + dt.timedelta(hours=tp), u, "purchase", 1.0)); i += 1
        if te is not None:
            rows.append(_ev(i, base + dt.timedelta(hours=te), u, "error", 1.0)); i += 1
        if tc is not None:
            rows.append(_ev(i, base + dt.timedelta(hours=tc), u, "view", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.dur_h: r for r in w6.aalen_johansen_cif(spark, d).collect()}
    # steps: t=2 (n=6, d_p=2 incl. the tie, d_e=1), t=4 (n=3, d_p=1, d_e=1)
    r2 = out[2]
    assert (r2.at_risk, r2.d_purchase, r2.d_error) == (6, 2, 1)
    assert abs(r2.surv - (1 - 3 / 6)) < 1e-12
    assert abs(r2.cif_purchase - 2 / 6) < 1e-9
    assert abs(r2.cif_error - 1 / 6) < 1e-9
    r4 = out[4]
    assert (r4.at_risk, r4.d_purchase, r4.d_error) == (3, 1, 1)
    assert abs(r4.cif_purchase - (2 / 6 + 0.5 * 1 / 3)) < 1e-9
    assert abs(r4.cif_error - (1 / 6 + 0.5 * 1 / 3)) < 1e-9
    # CIFs + survival account for all probability mass at the last step
    assert abs(r4.cif_purchase + r4.cif_error + r4.surv - 1.0) < 1e-9


def test_markov_entropy_rate_deterministic_chain_is_zero(spark):
    """A strictly alternating A->B->A chain has H(next|state)=0 for
    both states, so every contribution is 0."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        typ = "view" if i % 2 == 0 else "click"
        rows.append(_ev(i, base + dt.timedelta(minutes=i), 1, typ, 1.0))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.state: r for r in w6.markov_entropy_rate(spark, d).collect()}
    assert sorted(out) == ["click", "view"]
    for r in out.values():
        assert abs(r.h_state) < 1e-9
        assert abs(r.h_contrib) < 1e-9
        assert abs(r.pi - 0.5) < 1e-3  # power iteration converges to 1/2


def test_markov_entropy_rate_known_chain(spark):
    """A state with a 50/50 split contributes ln(2) conditional
    entropy, weighted by its stationary mass."""
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    # user streams engineered so 'view' -> view/click equally,
    # 'click' -> view always (per-user sequences below):
    for u, seq in enumerate([
        ["view", "view", "click", "view", "view", "click", "view"],
        ["view", "click", "view", "view", "click", "view", "view"],
    ]):
        for j, typ in enumerate(seq):
            rows.append(_ev(i, base + dt.timedelta(minutes=j), 100 + u, typ, 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.state: r for r in w6.markov_entropy_rate(spark, d).collect()}
    # transition counts: view->view 4, view->click 4, click->view 4
    assert abs(out["view"].h_state - math.log(2)) < 1e-6
    assert abs(out["click"].h_state) < 1e-9
    # stationary: pi_view = 2/3, pi_click = 1/3
    assert abs(out["view"].pi - 2 / 3) < 1e-3
    assert abs(out["view"].h_contrib - (2 / 3) * math.log(2)) < 1e-3


def test_good_turing_hand_counts(spark):
    """Corpus with known count-of-counts: 3 singletons, 1 doubleton,
    1 tripleton -> N=8, V=5, p_unseen=3/8, Chao1 = 5 + 3*2/(2*2)."""
    docs = [
        (0, "a b c d d", "en", "s0", 9),
        (1, "e e e d", "en", "s0", 7),
    ]
    # counts: a1 b1 c1 d3 e3 -> n1=3, n2=0, n3=2
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, docs, d)
        got = w6.good_turing_chao1_vocab(spark, d).collect()[0]
    assert (got.n_tokens, got.v_types, got.n1, got.n2) == (9, 5, 3, 0)
    assert abs(got.p_unseen - 3 / 9) < 1e-6
    assert abs(got.chao1 - (5 + 3 * 2 / (2 * 1))) < 1e-6
    assert got.gt_r2 is None          # n2 = 0 -> honest NULL
    assert abs(got.gt_r1 - 0.0) < 1e-9  # 2*n2/n1 = 0


@pytest.mark.slow
def test_audio_dft_matches_numpy_fft(spark):
    """The relational fixed-point DFT's dominant bin and power share
    must agree with numpy's FFT on the same closed-form samples — an
    INDEPENDENT spectral reference (not the oracle's mirror)."""
    import numpy as np

    docs = [(d, "t", "en", "s0", 5) for d in range(12, 40)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, docs, d)
        out = {r.doc_id: r for r in w6.audio_dominant_frequency(spark, d).collect()}
    N = w6._DFT_N
    for doc_id in range(12, 40):
        n = doc_id % 50 + 20
        if n < N:
            assert doc_id not in out
            continue
        i = np.arange(N)
        s = ((doc_id * 31 + i * 17) % 2001 - 1000).astype(np.float64)
        spec = np.fft.fft(s)
        p = np.abs(spec[1:N // 2]) ** 2
        kbest = int(np.argmax(p)) + 1
        r = out[doc_id]
        assert r.dom_bin == kbest, (doc_id, r.dom_bin, kbest)
        assert abs(r.power_share - p[kbest - 1] / p.sum()) < 1e-5
        rate = 8000 + (doc_id % 3) * 4000
        assert abs(r.dom_freq_hz - kbest * rate / N) < 1e-6


def _dct_hash_ref(doc_id, brightness=0):
    """Pure-python replay of the exact integer DCT-hash pipeline on the
    closed-form pixels (optionally brightness-shifted)."""
    w, h = doc_id % 13 + 4, doc_id % 7 + 3
    cells = {}
    for y in range(h):
        for x in range(w):
            g = sum(
                (doc_id * 7 + y * 31 + x * 5 + c * 11) % 256 for c in range(3)
            ) + brightness
            key = ((x * 4) // w, (y * 3) // h)
            s, c = cells.get(key, (0, 0))
            cells[key] = (s + g, c + 1)
    means = {k: (s * 10**6) // c for k, (s, c) in cells.items()}
    CU = {(u, cx): v for u, cx, v in w6._DCT_CU}
    CV = {(v, cy): c for v, cy, c in w6._DCT_CV}
    coef = {}
    for u in range(4):
        for v in range(3):
            if u == 0 and v == 0:
                continue
            coef[(u, v)] = sum(
                m * CU[(u, cx)] * CV[(v, cy)]
                for (cx, cy), m in means.items()
            )
    ordered = sorted(coef.items(), key=lambda kv: (kv[1], kv[0]))
    med = ordered[5][1]
    return sum(
        (1 << (u * 3 + v - 1))
        for (u, v), a in coef.items()
        if a > med
    )


def test_image_dct_phash_replay_and_brightness_invariance(spark):
    """Engine hashes equal the exact integer replay; and because only
    the DC coefficient sees a uniform brightness shift, the replayed
    hash is brightness-invariant (the property average-hash lacks)."""
    docs = [(d, "t", "en", "s0", 5) for d in range(24)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, docs, d)
        out = {r.doc_id: r.dct_hash for r in w6.image_dct_phash(spark, d).collect()}
    for doc_id in range(24):
        ref = _dct_hash_ref(doc_id)
        assert out[doc_id] == ref, doc_id
        # a uniform shift moves every pooled mean by exactly the same
        # fixed-point constant ((s+kc)*1e6 div c = s*1e6 div c + k*1e6),
        # and every non-DC cosine row sums to zero, so the shift cancels
        # EXACTLY out of each hashed coefficient
        assert _dct_hash_ref(doc_id, brightness=60) == ref, doc_id


def test_platt_scaling_recovers_sigmoid(spark):
    """Corpus whose per-bin purchase rates follow an exact logistic in
    the bin index: Newton must recover slope/intercept close to the
    generating values, and avg log-loss must beat the base-rate model.
    Replayed bit-for-bit in python."""
    rows, i = [], 0
    # generator: p(bin) = sigma(0.5*bin - 4); bins from value bins
    for b in range(20):
        p = 1 / (1 + math.exp(-(0.5 * b - 4)))
        n_pos = round(p * 50)
        for k in range(50):
            typ = "purchase" if k < n_pos else "view"
            v = (b * 25 + 10) / 100.0  # lands in bin b (maxvb ~ 485+10)
            rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, typ, v)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.platt_scaling_value_purchase(spark, d).collect()[0]

    # python replay of the exact fixed-point Newton on the same cells
    cents = [round(r[4] * 100) for r in rows]
    maxvb = max(cents)
    from collections import defaultdict
    cells = defaultdict(lambda: [0, 0])
    for r, vb in zip(rows, cents):
        b = min(vb * 20 // (maxvb + 1), 19)
        cells[b][0] += 1
        cells[b][1] += 1 if r[3] == "purchase" else 0
    FP = w6._PLATT_FP
    a_fp = b_fp = 0
    for _ in range(w6._PLATT_T):
        g1 = g2 = h11 = h12 = h22 = 0.0
        for b, (n_b, y_b) in cells.items():
            p = 1 / (1 + math.exp(-(a_fp / FP * b + b_fp / FP)))
            resid = y_b - n_b * p
            wgt = n_b * p * (1 - p)
            g1 += resid * b; g2 += resid
            h11 += wgt * b * b; h12 += wgt * b; h22 += wgt
        det = h11 * h22 - h12 * h12
        a_fp += math.floor((h22 * g1 - h12 * g2) / det * FP + 0.5)
        b_fp += math.floor((h11 * g2 - h12 * g1) / det * FP + 0.5)
    assert abs(got.a - round(a_fp / FP, 6)) < 1e-9
    assert abs(got.b - round(b_fp / FP, 6)) < 1e-9
    # recovers the generating curve (binned rounding adds a little bias)
    assert abs(got.a - 0.5) < 0.1
    assert abs(got.b - (-4.0)) < 0.6
    # beats the constant base-rate predictor
    n = len(rows)
    pos = sum(1 for r in rows if r[3] == "purchase")
    pbar = pos / n
    base_ll = -(pos * math.log(pbar) + (n - pos) * math.log(1 - pbar)) / n
    assert got.avg_log_loss < base_ll


def test_sbg_recovers_planted_geometric(spark):
    """Users churn geometrically with rate ~1/3 (a near-degenerate Beta
    basin): the fitted curve must project S(t) ~ (2/3)^t and the exact
    integer grid search must match a python replay of the likelihood
    on the same cells."""
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    # horizon ~12 weeks; user u lives L_u full weeks then stops.
    lives = [0, 0, 0, 1, 1, 2, 0, 1, 3, 2, 0, 4, 1, 0, 2, 5, 0, 1, 0, 3]
    for u, L in enumerate(lives):
        rows.append(_ev(i, base, 100 + u, "view", 1.0)); i += 1
        if L > 0:
            rows.append(
                _ev(i, base + dt.timedelta(weeks=L), 100 + u, "view", 1.0)
            ); i += 1
    # one anchor user pinning the horizon at 12 weeks
    rows.append(_ev(i, base, 999, "view", 1.0)); i += 1
    rows.append(_ev(i + 1, base + dt.timedelta(weeks=12), 999, "view", 1.0))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.sbg_retention_fit(spark, d).collect()[0]

    # python replay: rebuild cells and the exact grid search
    import math as m
    cells = {}
    data_end = 12
    for L in lives + [12]:
        life, horizon = L, data_end
        if horizon < 1:
            continue
        t = life + 1 if life < horizon else life
        ch = 1 if life < horizon else 0
        if t >= 1:
            c, s_ = cells.get(t, (0, 0))
            cells[t] = (c + ch, s_ + (1 - ch))
    tm = max(cells)
    best = None
    for aq in range(1, 21):
        for bq in range(1, 21):
            lnp = lns = 0
            ll = 0
            lnp_c = lns_c = 0
            for i2 in range(1, tm + 1):
                lns_c += m.floor(
                    m.log((bq + 4 * (i2 - 1)) / (aq + bq + 4 * (i2 - 1)))
                    * 1e9 + 0.5)
                if i2 == 1:
                    lnp_c += m.floor(m.log(aq / (aq + bq)) * 1e9 + 0.5)
                else:
                    lnp_c += m.floor(
                        m.log((bq + 4 * (i2 - 2)) / (aq + bq + 4 * (i2 - 1)))
                        * 1e9 + 0.5)
                if i2 in cells:
                    c, s_ = cells[i2]
                    ll += c * lnp_c + s_ * lns_c
            key = (-ll, aq, bq)
            if best is None or key < best[0]:
                best = (key, aq, bq, ll)
    _, aq, bq, ll = best
    assert abs(got.alpha - aq / 4) < 1e-9
    assert abs(got.beta - bq / 4) < 1e-9
    assert abs(got.log_lik - round(ll / 1e9, 6)) < 1e-9
    # the projected curve behaves like a survival curve
    assert 1 > got.s1 > got.s2 > got.s3 > got.s4 > 0
    # churn-heavy corpus -> S(1) well below 1 and near the empirical
    # first-period survival
    emp_s1 = sum(1 for L in lives + [12] if L >= 1) / 21
    assert abs(got.s1 - emp_s1) < 0.25


def test_qini_hand_fixture_with_planted_uplift(spark):
    """High-value rows have weekend uplift, low-value rows none: the
    top decile's uplift and the final cumulative Qini recomputed by
    hand."""
    wd = dt.datetime(2024, 1, 1)   # Monday
    we = dt.datetime(2024, 1, 6)   # Saturday
    rows, i = [], 0
    # high value (10.00): 10 treated (6 convert), 10 control (1 converts)
    for k in range(10):
        rows.append(_ev(i, we, 1, "purchase" if k < 6 else "view", 10.0)); i += 1
    for k in range(10):
        rows.append(_ev(i, wd, 1, "purchase" if k < 1 else "view", 10.0)); i += 1
    # low value (1.00): 10 treated, 10 control, 2 conversions each
    for k in range(10):
        rows.append(_ev(i, we, 1, "purchase" if k < 2 else "view", 1.0)); i += 1
    for k in range(10):
        rows.append(_ev(i, wd, 1, "purchase" if k < 2 else "view", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.decile: r for r in w6.qini_uplift_deciles(spark, d).collect()}
    top = out[min(out)]
    bot = out[max(out)]
    assert (top.n_t, top.y_t, top.n_c, top.y_c) == (10, 6, 10, 1)
    assert abs(top.uplift - 0.5) < 1e-9
    assert abs(bot.uplift - 0.0) < 1e-9
    # final cumulative Qini: Yt=8, Yc=3, Nt=Nc=20 -> 8 - 3 = 5
    last = out[max(out)]
    assert abs(last.qini_cum - 5.0) < 1e-9


def test_wave6_scale_posture_plans(plans):
    """Scale-shape pins for the round-10 wave: the histogram-family
    queries keep the events side join-free; the JL projection's sign
    matrix arrives by broadcast; Qini never sorts raw rows."""
    for name in (
        "ndcg_at_k_value_ranking",
        "qini_uplift_deciles",
        "conformal_value_intervals",
        "kish_effective_sample_size",
    ):
        p = plans(name)
        assert "SortMergeJoin" not in p, name
        assert "partial" in p.lower(), name
    jl = plans("jl_projection_distortion")
    assert "BroadcastHashJoin" in jl or "BroadcastNestedLoopJoin" in jl
    # the DFT's twiddle/bin spines are broadcast, never shuffled against
    # the sample stream
    dft = plans("audio_dominant_frequency")
    assert "BroadcastHashJoin" in dft


def test_assortativity_extremes(spark):
    """A star graph is maximally DISassortative; edges between
    equal-degree nodes are degree-regular (NULL variance)."""
    # star: hub part 1 co-purchased with 2..5; each leaf pair must NOT
    # form its own edge, so give each (hub, leaf) pair two shared orders
    rows = []
    ok = 0
    for leaf in (2, 3, 4, 5):
        for rep in range(2):
            ok += 1
            rows.append((ok * 10, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         dt.datetime(2024, 1, 1)))
            rows.append((ok * 10, leaf, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         dt.datetime(2024, 1, 1)))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = w6.graph_degree_assortativity(spark, d).collect()[0]
    # star K(1,4): every edge joins degree 4 with degree 1 -> r = -1
    assert got.m_edges == 4
    assert abs(got.assortativity - (-1.0)) < 1e-9


def test_evalue_hand_table(spark):
    """Known 2x2: weekend 2/10 vs weekday 1/10 -> RR 2, E-value
    2 + sqrt(2)."""
    wd = dt.datetime(2024, 1, 1)   # Monday
    we = dt.datetime(2024, 1, 6)   # Saturday
    rows, i = [], 0
    for k in range(10):
        rows.append(_ev(i, we, 1, "purchase" if k < 2 else "view", 1.0)); i += 1
    for k in range(10):
        rows.append(_ev(i, wd, 1, "purchase" if k < 1 else "view", 1.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.evalue_sensitivity_weekend(spark, d).collect()[0]
    assert (got.n1, got.a, got.n0, got.c) == (10, 2, 10, 1)
    assert abs(got.risk_ratio - 2.0) < 1e-9
    assert abs(got.e_value - (2 + math.sqrt(2))) < 1e-6
    assert got.rr_lo95 < 2.0 < got.rr_hi95


def test_gumbel_fit_hand_moments(spark):
    """Two weeks with known daily purchase revenues: block maxima, MoM
    parameters, and the 20-block return level recomputed by hand."""
    base = dt.datetime(2024, 1, 1)  # Monday, epoch week boundary-safe
    rows, i = [], 0
    # week A days: revenues 100, 300 cents -> max 300
    for (d_off, cents) in ((0, 100), (1, 300)):
        rows.append(_ev(i, base + dt.timedelta(days=d_off), 1, "purchase",
                        cents / 100.0)); i += 1
    # week B days: revenues 500, 200 -> max 500
    for (d_off, cents) in ((7, 500), (8, 200)):
        rows.append(_ev(i, base + dt.timedelta(days=d_off), 1, "purchase",
                        cents / 100.0)); i += 1
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.gumbel_block_maxima_fit(spark, d).collect()[0]
    import statistics
    mx = [300, 500]
    mean, sd = statistics.mean(mx), statistics.stdev(mx)
    beta = sd * w6._EVT_SQRT6_PI
    mu = mean - w6._EVT_GAMMA * beta
    assert got.n_blocks == 2
    assert abs(got.block_max_mean - mean / 100) < 1e-6
    assert abs(got.beta - beta / 100) < 1e-6
    assert abs(got.mu - mu / 100) < 1e-6
    assert abs(got.return_level_20 - (mu + w6._EVT_RL20 * beta) / 100) < 1e-6
    assert got.return_level_20 > got.block_max_mean


def test_hill_recovers_pareto_tail(spark):
    """Values drawn from an exact Pareto(alpha=2) inverse-CDF grid:
    the Hill estimate must land near 2, and the threshold/count
    conventions must match a python replay."""
    rows = []
    n = 2000
    for i in range(n):
        u = (i + 0.5) / n
        v = round(1.0 / math.sqrt(1 - u), 2)  # Pareto alpha=2, x_m=1
        rows.append(_ev(i, dt.datetime(2024, 1, 1), 1, "view", v))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = w6.hill_tail_index(spark, d).collect()[0]
    # python replay with the same histogram conventions
    from collections import Counter
    # mirror the engine's FLOOR(value*100) bucketing on the same doubles
    cents = Counter(math.floor(r[4] * 100) for r in rows)
    order = sorted(cents, reverse=True)
    cum = 0
    x_k1 = None
    for vb in order:
        cum += cents[vb]
        if cum >= w6._HILL_K + 1:
            x_k1 = vb
            break
    top = {vb: c for vb, c in cents.items() if vb > x_k1}
    k_used = sum(top.values())
    h = sum(
        c * math.floor(math.log(vb / x_k1) * 1e9 + 0.5)
        for vb, c in top.items()
    )
    assert got.k_used == k_used
    assert abs(got.threshold - x_k1 / 100) < 1e-9
    assert abs(got.hill_gamma - round(h / 1e9 / k_used, 6)) < 1e-9
    assert abs(got.tail_index - 2.0) < 0.45  # Hill noise at k~100


def test_funnel_latency_hand_fixture(spark):
    """Three users with hand-placed funnel steps; picks verified
    against the duration list."""
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    # u1: view@0, click@2h, purchase@5h -> lat1=2, lat2=3
    for (h, t) in ((0, "view"), (2, "click"), (5, "purchase")):
        rows.append(_ev(i, base + dt.timedelta(hours=h), 1, t, 1.0)); i += 1
    # u2: click@1h BEFORE view@3h, then click@7h -> lat1 = 4 (click must
    # be at-or-after the first view)
    for (h, t) in ((1, "click"), (3, "view"), (7, "click")):
        rows.append(_ev(i, base + dt.timedelta(hours=h), 2, t, 1.0)); i += 1
    # u3: view only -> contributes to neither step
    rows.append(_ev(i, base, 3, "view", 1.0))
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = {r.step: r for r in w6.funnel_step_latency_quantiles(spark, d).collect()}
    vc = out["view_to_click"]
    assert vc.n_users == 2
    assert vc.p50_h == 2 and vc.max_h == 4   # lats {2, 4}
    cp = out["click_to_purchase"]
    assert cp.n_users == 1
    assert cp.p50_h == cp.p90_h == cp.max_h == 3


def test_huber_driver_solve_matches_spark_irls(spark):
    """r13: the huber IRLS moved to a driver solve over the domain-bounded
    cent histogram; the original in-Spark route stays as the wide-domain
    fallback. Both must return IDENTICAL rows (same exact-integer
    trajectory, same final rounding expressions)."""
    sf_dir = f"{TESTDATA_ROOT}/sf0.001"
    got = sorted(
        tuple(r) for r in w6.huber_location_by_type(spark, sf_dir).collect()
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    want = sorted(
        tuple(r)
        for r in w6._huber_irls_spark(spark, hist.localCheckpoint()).collect()
    )
    assert got == want


def test_huber_wide_domain_falls_back(spark, monkeypatch):
    """ADVICE r13 (medium): the driver-solve guard must bound the collect
    itself (collect_bounded's limit(cap+1)) and a domain wider than the
    cap must route to the in-Spark IRLS with identical output rows."""
    rows = [
        _ev(i, dt.datetime(2024, 1, 1, 0, 0, i % 60), i, "view", float(i))
        for i in range(1, 40)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        want = [
            tuple(r) for r in w6.huber_location_by_type(spark, d).collect()
        ]
        calls: list[int] = []
        orig = w6._huber_irls_spark
        monkeypatch.setattr(
            w6,
            "_huber_irls_spark",
            lambda s, h: (calls.append(1), orig(s, h))[1],
        )
        monkeypatch.setattr(w6, "_DOMAIN_CAP", 5)
        got = [
            tuple(r) for r in w6.huber_location_by_type(spark, d).collect()
        ]
    assert calls, "wide domain must route to _huber_irls_spark"
    assert got == want


def test_huber_negative_bucket_falls_back(spark, monkeypatch):
    """ADVICE r13 (low): the driver solve's `//` replay of Spark's div is
    only valid for nonnegative buckets; any negative cent bucket must
    route to the sign-safe in-Spark IRLS."""
    rows = [
        _ev(i, dt.datetime(2024, 1, 1), 1, "view", v)
        for i, v in enumerate([1.0, 2.0, 3.0, -3.7, 2.5])
    ]
    calls: list[int] = []
    orig = w6._huber_irls_spark
    monkeypatch.setattr(
        w6,
        "_huber_irls_spark",
        lambda s, h: (calls.append(1), orig(s, h))[1],
    )
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        out = w6.huber_location_by_type(spark, d).collect()
    assert calls, "negative bucket must route to _huber_irls_spark"
    assert len(out) == 1 and out[0].n == 5


def test_huber_null_value_falls_back(spark, monkeypatch):
    """ADVICE r14 (low): a NULL ``value`` makes a NULL cent bucket, which
    the driver solve cannot replay (``int(NaN)``); it must route to the
    in-Spark IRLS and return exactly that route's rows."""
    vals = [1.0, 2.0, None, 3.0, 2.5, None, 40.0]
    rows = [
        _ev(i, dt.datetime(2024, 1, 1), 1, "view" if i % 3 else "click", v)
        for i, v in enumerate(vals)
    ]
    calls: list[int] = []
    orig = w6._huber_irls_spark
    monkeypatch.setattr(
        w6,
        "_huber_irls_spark",
        lambda s, h: (calls.append(1), orig(s, h))[1],
    )
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = sorted(tuple(r) for r in w6.huber_location_by_type(spark, d).collect())
        hist = (
            spark.read.parquet(os.path.join(d, "events.parquet"))
            .groupBy(
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("vb"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        want = sorted(tuple(r) for r in orig(spark, hist.localCheckpoint()).collect())
    assert calls, "NULL bucket must route to _huber_irls_spark"
    assert got == want
