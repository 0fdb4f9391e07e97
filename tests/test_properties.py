"""Property-based tests (hypothesis): algebraic invariants of the engine's
operators over generated inputs — complementing the example-based and
oracle-based suites."""

from __future__ import annotations

import pytest

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.geo import haversine_km
from apache_beam_challange_spark.operators.joins import full_outer_zero_fill
from apache_beam_challange_spark.operators.relational import group_count, top_k
from apache_beam_challange_spark.operators.skew import salted_group_count

SETTINGS = dict(max_examples=10, deadline=None)

lat = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)
lon = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)


@settings(**SETTINGS)
@given(lat, lon, lat, lon)
def test_haversine_symmetric_nonneg(spark, lat1, lon1, lat2, lon2):
    df = spark.createDataFrame([(lat1, lon1, lat2, lon2)], ["a", "b", "c", "d"])
    r = df.select(
        haversine_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("ab"),
        haversine_km(F.col("c"), F.col("d"), F.col("a"), F.col("b")).alias("ba"),
        haversine_km(F.col("a"), F.col("b"), F.col("a"), F.col("b")).alias("self"),
    ).collect()[0]
    assert r["ab"] >= 0.0
    assert abs(r["ab"] - r["ba"]) < 1e-9
    assert r["self"] == 0.0
    assert r["ab"] <= 20039.0  # half the mean circumference + slack


keys = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 3)), min_size=1, max_size=60
)


@settings(**SETTINGS)
@given(keys)
def test_group_count_partitions_total(spark, rows):
    df = spark.createDataFrame(rows, ["k1", "k2"])
    counts = group_count(df, ["k1", "k2"], alias="n").collect()
    assert sum(r["n"] for r in counts) == len(rows)
    assert all(r["n"] >= 1 for r in counts)


@settings(**SETTINGS)
@given(keys, st.integers(1, 8))
@pytest.mark.slow
def test_topk_is_sorted_prefix(spark, rows, k):
    df = spark.createDataFrame(rows, ["k1", "k2"])
    counts = group_count(df, ["k1", "k2"], alias="n")
    order = [F.col("n").desc()]
    tie = ("k1", "k2")
    full = counts.orderBy(*order, *[F.col(c) for c in tie]).collect()
    top = top_k(counts, k, order=order, tiebreak=tie).collect()
    assert top == full[:k]


@settings(**SETTINGS)
@given(keys)
@pytest.mark.slow
def test_salted_count_equals_plain_count(spark, rows):
    df = spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(rows)], ["k1", "k2", "uid"]
    )
    plain = {
        (r["k1"], r["k2"]): r["n"]
        for r in group_count(df, ["k1", "k2"], alias="n").collect()
    }
    salted = {
        (r["k1"], r["k2"]): r["n"]
        for r in salted_group_count(df, ["k1", "k2"], "uid", n_salts=4).collect()
    }
    assert plain == salted


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=20),
)
@pytest.mark.slow
def test_zero_fill_join_covers_key_union(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, ["k", "a"]).dropDuplicates(["k"])
    right = spark.createDataFrame(right_rows, ["k", "b"]).dropDuplicates(["k"])
    out = full_outer_zero_fill(left, right, on=["k"], fill={"a": 0, "b": 0})
    got_keys = {r["k"] for r in out.collect()}
    want = {k for k, _ in left_rows} | {k for k, _ in right_rows}
    assert got_keys == want
    assert all(
        r["a"] is not None and r["b"] is not None for r in out.collect()
    )


member_keys = st.lists(st.integers(0, 10_000), min_size=1, max_size=40)
probe_keys = st.lists(st.integers(0, 10_000), min_size=1, max_size=40)


@settings(**SETTINGS)
@given(member_keys, probe_keys)
@pytest.mark.slow
def test_bloom_filter_never_false_negative(spark, members, probes):
    """The Bloom guarantee: a true member ALWAYS passes the filter (false
    positives allowed, false negatives never) — for any member/probe sets,
    every probe that is also a member must hit all k bits."""
    from apache_beam_challange_spark.plans.curation import (
        _BLOOM_K,
        _bloom_positions,
    )

    mdf = spark.createDataFrame([(k,) for k in set(members)], ["key"])
    pdf = spark.createDataFrame([(k,) for k in set(probes)], ["key"])
    bits = mdf.select(
        F.explode(_bloom_positions(F.col("key"))).alias("pos")
    ).distinct()
    hits = (
        pdf.select(
            "key", F.posexplode(_bloom_positions(F.col("key"))).alias("i", "pos")
        )
        .join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count_distinct("i").alias("n_hits"))
    )
    passed = {
        r["key"] for r in hits.filter(F.col("n_hits") == _BLOOM_K).collect()
    }
    true_members = set(members) & set(probes)
    assert true_members <= passed


def _sessionize_reference(rows, gap_s=600):
    """Pure-Python gaps-and-islands twin of batch_sessionize_events."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, ts, eid in rows:
        by_user[uid].append((ts, eid))
    out = []
    for uid, evs in by_user.items():
        evs.sort()
        start, end, n = evs[0][0], evs[0][0], 1
        for (ts, _), (prev_ts, _) in zip(evs[1:], evs[:-1]):
            if ts - prev_ts >= gap_s:
                out.append((uid, start, end, n))
                start, end, n = ts, ts, 1
            else:
                end, n = ts, n + 1
        out.append((uid, start, end, n))
    return sorted(out)


session_rows = st.lists(
    st.tuples(
        st.integers(0, 3),          # user_id
        st.integers(0, 5_000),      # seconds offset
    ),
    min_size=1,
    max_size=50,
    unique=True,
)


@settings(**SETTINGS)
@given(session_rows)
def test_sessionize_matches_reference(spark, rows):
    """Sessionization over arbitrary event times equals the pure-Python
    gaps-and-islands fold: sessions partition each user's events, split
    exactly at gaps >= 10 min."""
    import datetime as dt

    from apache_beam_challange_spark.plans.curation import (
        batch_sessionize_events,  # noqa: F401 (import proves registration)
    )
    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    data = [
        (uid, base + dt.timedelta(seconds=off), i)
        for i, (uid, off) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, ["user_id", "ts", "event_id"])
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("ts") - F.lag("ts").over(order_w)
            >= F.expr("INTERVAL 10 MINUTES"),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            order_w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = sorted(
        (
            r["user_id"],
            r["session_start"].timestamp() - base.replace(
                tzinfo=dt.timezone.utc
            ).timestamp(),
            r["session_end"].timestamp() - base.replace(
                tzinfo=dt.timezone.utc
            ).timestamp(),
            r["n_events"],
        )
        for r in numbered.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    want = [
        (uid, float(s), float(e), n)
        for uid, s, e, n in _sessionize_reference(
            [(uid, off, i) for i, (uid, off) in enumerate(rows)]
        )
    ]
    assert got == sorted(want)


# --- round-5 traindata operators -------------------------------------------


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=40,
    )
)
@pytest.mark.slow
def test_triangle_stats_match_brute_force(spark, raw_pairs):
    """Degree-ordered triangle counting equals the O(n^3) brute force on
    random graphs (self-loops dropped, edges canonicalized)."""
    from apache_beam_challange_spark.operators.graph import triangle_stats

    edges = {(min(a, b), max(a, b)) for a, b in raw_pairs if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    r = triangle_stats(df).collect()[0]
    nodes = sorted({n for e in edges for n in e})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if b not in adj[a]:
                continue
            for c in nodes[nodes.index(b) + 1 :]:
                if c in adj[a] and c in adj[b]:
                    tri += 1
    wedges = sum(len(adj[n]) * (len(adj[n]) - 1) // 2 for n in nodes)
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (
        len(nodes),
        len(edges),
        tri,
        wedges,
    )


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 2000), min_size=2, max_size=40))
@pytest.mark.slow
def test_cusum_rewrite_equals_fold_on_random_series(spark, xs):
    """The prefix-min CUSUM rewrite equals the sequential recurrence on
    arbitrary integer series (scaled drift = x*H - T)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i, x in enumerate(xs):
        for _ in range(x):
            rows.append((eid, base + dt.timedelta(hours=i), 1, "view", 1.0, "{}"))
            eid += 1
    if eid == 0:
        return
    import tempfile

    import __spark_entry__ as entrymod

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = sorted(
            entrymod.all_queries()["cusum_hourly_changepoints"](spark, d).collect(),
            key=lambda r: r.hour,
        )
    present = [x for x in xs if x > 0]
    t, h = sum(present), len(present)
    s = 0
    for r in out:
        s = max(0, s + (r.n_events * h - t))
        assert r.cusum_scaled == s


@settings(**SETTINGS)
@given(
    st.lists(st.integers(1, 300), min_size=1, max_size=30),
    st.integers(1, 4),
)
def test_packing_prefix_sum_invariants(spark, tok_counts, n_shards):
    """Concat-and-chunk accounting on random doc lengths: boundary-split
    docs counted exactly (vs a python replay of the same layout)."""
    from pyspark.sql import Window

    rows = [(i, i % n_shards, n) for i, n in enumerate(tok_counts)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, n_tok long")
    B = 256
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = df.select(
        "shard",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("off"),
    )
    got = {
        r.shard: r.n_split
        for r in placed.groupBy("shard")
        .agg(
            F.sum(
                F.when(
                    F.expr(f"off div {B}") != F.expr(f"(off + n_tok - 1) div {B}"),
                    1,
                ).otherwise(0)
            ).alias("n_split")
        )
        .collect()
    }
    expect: dict = {}
    offs: dict = {}
    for i, n in enumerate(tok_counts):
        sh = i % n_shards
        off = offs.get(sh, 0)
        expect[sh] = expect.get(sh, 0) + (1 if off // B != (off + n - 1) // B else 0)
        offs[sh] = off + n
    assert got == expect


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0,
        max_size=50,
    ),
    st.integers(2, 3),
)
def test_k_core_matches_python_peel_on_random_graphs(spark, raw_pairs, k):
    from apache_beam_challange_spark.operators.graph import k_core

    edges = {(min(a, b), max(a, b)) for a, b in raw_pairs if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {(r.node, r.core_degree) for r in k_core(df, k=k).collect()}
    cur = set(edges)
    while True:
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in cur if u in keep and v in keep}
        if nxt == cur:
            break
        cur = nxt
    expect: dict = {}
    for u, v in cur:
        expect[u] = expect.get(u, 0) + 1
        expect[v] = expect.get(v, 0) + 1
    assert got == set(expect.items())


# --- adamic_adar on random graphs -------------------------------------------

aa_pairs = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
)


@settings(**SETTINGS)
@given(aa_pairs)
@pytest.mark.slow
def test_adamic_adar_matches_python_reference(spark, raw_pairs):
    """AA scores on random small graphs equal a brute-force Python
    recompute: predicted pairs are exactly the non-adjacent pairs with a
    common neighbor, each scored sum(1/ln(deg z))."""
    import math

    from apache_beam_challange_spark.operators.graph import adamic_adar

    edges = {(min(a, b), max(a, b)) for a, b in raw_pairs if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {
        (r.u, r.v): (r.n_common, r.aa_score)
        for r in adamic_adar(df).collect()
    }
    nbrs: dict[int, set] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    nodes = sorted(nbrs)
    expect = {}
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in edges:
                continue
            common = nbrs[u] & nbrs[v]
            if common:
                score = sum(1.0 / math.log(len(nbrs[z])) for z in common)
                expect[(u, v)] = (len(common), score)
    assert set(got) == set(expect)
    for k, (n, s) in expect.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 1e-9


# --- islands merge on random position sets ----------------------------------

positions = st.lists(st.integers(1, 60), min_size=1, max_size=30, unique=True)


@settings(**SETTINGS)
@given(positions)
def test_island_merge_matches_interval_union(spark, ps):
    """The stacked-window gaps-and-islands construction (the
    duplicate_span_islands core) must produce exactly the union of
    merged [p, p+7] intervals a Python sweep computes."""
    from pyspark.sql import Window

    n = 8
    pos = spark.createDataFrame([(1, p) for p in ps], "doc_id long, p long")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("p") + (n - 1)).over(w_prev)
    flagged = pos.select(
        "doc_id",
        "p",
        F.when(prev_end.isNull() | (F.col("p") > prev_end + 1), 1)
        .otherwise(0)
        .alias("ni"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged.select("doc_id", "p", F.sum("ni").over(w_run).alias("isl"))
        .groupBy("doc_id", "isl")
        .agg(F.min("p").alias("s"), F.max(F.col("p") + (n - 1)).alias("e"))
        .orderBy("s")
        .collect()
    )
    # Python reference: merge touching/overlapping [p, p+7] intervals
    expect = []
    for p in sorted(ps):
        if expect and p <= expect[-1][1] + 1:
            expect[-1][1] = max(expect[-1][1], p + n - 1)
        else:
            expect.append([p, p + n - 1])
    assert [(r.s, r.e) for r in spans] == [tuple(x) for x in expect]


# --- containment vs Jaccard -------------------------------------------------

docpair = st.tuples(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12),
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12),
)


@settings(**SETTINGS)
@given(docpair)
@pytest.mark.slow
def test_containment_dominates_jaccard(spark, pair):
    """For any doc pair: containment >= Jaccard (min(|A|,|B|) <= |A u B|),
    and both match their set-arithmetic definitions."""
    from apache_beam_challange_spark.operators.dedup import (
        containment_on_candidates,
        jaccard_on_candidates,
    )

    t1, t2 = pair
    docs = spark.createDataFrame(
        [(1, " ".join(t1)), (2, " ".join(t2))], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "doc_id_1 long, doc_id_2 long")
    a, b = set(t1), set(t2)
    inter = len(a & b)
    if inter == 0:
        # the documented contract: zero-overlap pairs drop only when
        # min_containment > 0 (the inner-join-oracle equivalence)
        assert (
            containment_on_candidates(docs, cand, min_containment=1e-9).count()
            == 0
        )
        return
    crow = containment_on_candidates(docs, cand, min_containment=0.0).collect()[0]
    jrow = jaccard_on_candidates(docs, cand, min_jaccard=0.0).collect()[0]
    assert crow.n_inter == inter
    assert crow.containment == round(inter / min(len(a), len(b)), 6)
    assert jrow.jaccard == round(inter / len(a | b), 6)
    assert crow.containment >= jrow.jaccard - 1e-9


# --- round-7 operators over generated inputs ---------------------------------

masses = st.lists(
    st.tuples(st.integers(1, 10**9)), min_size=1, max_size=6, unique=True
)


@settings(**SETTINGS)
@given(masses, st.integers(1, 100_000))
@pytest.mark.slow
def test_hamilton_apportionment_quota_rule(spark, rows, budget):
    """Largest-remainder invariants on generated weight tables: allocs
    sum EXACTLY to the budget and every alloc is within 1 of its
    real-valued quota (the quota rule Hamilton's method satisfies)."""
    from apache_beam_challange_spark.plans.curation import hamilton_apportion

    weighted = spark.createDataFrame(
        [(f"k{i}", 1, m[0], m[0]) for i, m in enumerate(rows)],
        "lang string, n_docs long, chars long, weight_micro long",
    )
    out = hamilton_apportion(weighted, budget).collect()
    tot_w = sum(m[0] for m in rows)
    assert sum(r.alloc for r in out) == budget
    for r in out:
        quota = budget * r.weight_micro / tot_w
        assert quota - 1 < r.alloc < quota + 1


def test_hamilton_apportionment_exact_past_double_precision(spark):
    """ADVICE r7 regression pin: n_floor must be exact when
    budget*weight_micro exceeds 2^53 (where the old double round-trip
    could truncate k-epsilon to k-1). The weights are constructed so
    budget*w1 = k*tot - 1 (~3.5e17, far past 2^53): the true floor is
    k-1 while a naively rounded double quotient lands on k. Both the
    engine route and the portable oracle's estimate+correction spelling
    must match Python's exact integer arithmetic."""
    from apache_beam_challange_spark.plans.curation import hamilton_apportion

    budget = 10_000
    tot = (1 << 45) + 1
    # budget * w1 === -1 (mod tot)  ->  num1 is one below a multiple
    w1 = ((tot - 1) * pow(budget, -1, tot)) % tot
    w2 = tot - w1
    assert 0 < w1 < tot and w2 > 0
    weighted = spark.createDataFrame(
        [("a", 1, w1, w1), ("b", 1, w2, w2)],
        "lang string, n_docs long, chars long, weight_micro long",
    )
    out = {r.lang: r.alloc for r in hamilton_apportion(weighted, budget).collect()}
    floors = {"a": (budget * w1) // tot, "b": (budget * w2) // tot}
    rems = {"a": (budget * w1) % tot, "b": (budget * w2) % tot}
    leftover = budget - sum(floors.values())
    order = sorted(floors, key=lambda k: (-rems[k], k))
    want = {
        k: floors[k] + (1 if i < leftover else 0) for i, k in enumerate(order)
    }
    assert out == want
    assert budget * max(w1, w2) > 2**53  # the regime the pin is about


ids_and_vals = st.lists(
    st.tuples(st.integers(0, 10**6), st.integers(-5, 5)),
    min_size=1,
    max_size=80,
    unique_by=lambda t: t[0],
)


@settings(**SETTINGS)
@given(ids_and_vals)
@pytest.mark.slow
def test_global_row_ids_match_python_sort(spark, rows):
    """The distributed numbering equals the driver-side sort rank for
    ANY generated key table — duplicates in the first sort column break
    ties on the unique key, empty range partitions are harmless."""
    from apache_beam_challange_spark.plans.coverage import assign_global_row_ids

    df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice long")
    got = {
        r.o_orderkey: r.global_id
        for r in assign_global_row_ids(
            df, order_cols=["o_totalprice", "o_orderkey"], keep="o_orderkey"
        ).collect()
    }
    want = {
        k: i + 1
        for i, (k, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == want


vecs_strategy = st.lists(
    st.lists(
        st.integers(-100, 100).map(float), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=10,
)


@settings(**SETTINGS)
@given(vecs_strategy)
def test_mips_topk_matches_numpy_on_generated_vectors(spark, vec_rows):
    """Exact MIPS over generated integer-valued vectors (dot products
    exact in both engines) equals the numpy argsort, including the
    rounded-score/vec_id tie-break."""
    import numpy as np

    from apache_beam_challange_spark.plans.mips import mips_topk

    emb = spark.createDataFrame(
        [(i, f"v{i}", v) for i, v in enumerate(vec_rows)],
        "vec_id long, label string, embedding array<double>",
    )
    got = [r.vec_id for r in mips_topk(emb, [0], 5).collect()]
    q = np.asarray(vec_rows[0])
    scored = sorted(
        ((round(float(np.asarray(v) @ q), 6), i) for i, v in enumerate(vec_rows) if i != 0),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert got == [i for _, i in scored]


def test_global_row_ids_survive_composed_projection(spark, sf_dir):
    """Regression for the round-8 exchange-reuse bug: numbering a
    PROJECTED input (computed column + extra column, the
    quantile-normalization shape) must still yield a permutation of
    1..N — before the localCheckpoint fix this plan compiled the
    counts and numbering branches into two independently-sampled range
    exchanges and produced duplicate/skipped ids."""
    from pyspark.sql import functions as F

    from apache_beam_challange_spark.plans.coverage import assign_global_row_ids

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("vu"),
    )
    ids = [
        r.global_id
        for r in assign_global_row_ids(
            ev, ["vu", "event_id"], "event_id"
        ).collect()
    ]
    assert sorted(ids) == list(range(1, len(ids) + 1))


# --- VERDICT r8 #5: the exchange-reuse lesson as a COMPOSITION contract ------
#
# The round-8 bug (duplicate/skipped global ids when the numbering
# primitive was composed over a projected input) was found by accident
# of composition; these tests make the contract composition-proof: for
# EVERY upstream shape — projection with a computed column, filter,
# broadcast join, union — both range-shuffle primitives
# (assign_global_row_ids and its prefix-sum generalization
# distributed_prefix_sum) must (a) agree exactly with the driver-side
# Python fold and (b) compile to a plan whose two branches read the ONE
# materialized range exchange: zero `Exchange rangepartitioning`, two
# `Scan ExistingRDD`.

import pytest


def _shaped(spark, shape):
    """A (DataFrame, expected_rows) pair for one upstream shape; rows are
    (k, v) with k unique. Values/keys chosen so every shape keeps a
    non-trivial, duplicate-valued, negative-and-positive distribution."""
    base = [(i, (i * 37) % 11 - 5) for i in range(97)]
    df = spark.createDataFrame(base, "k long, raw long")
    if shape == "projection":
        out = df.select("k", (F.col("raw") * 3 + 1).alias("v"))
        rows = [(k, r * 3 + 1) for k, r in base]
    elif shape == "filter":
        out = df.filter(F.col("raw") % 2 == 0).select(
            "k", F.col("raw").alias("v")
        )
        rows = [(k, r) for k, r in base if r % 2 == 0]
    elif shape == "join":
        dim = spark.createDataFrame(
            [(m, m * 100) for m in range(11)], "m long, boost long"
        )
        out = (
            df.join(F.broadcast(dim), df.raw + 5 == dim.m)
            .select("k", (F.col("raw") + F.col("boost")).alias("v"))
        )
        rows = [(k, r + (r + 5) * 100) for k, r in base]
    elif shape == "union":
        out = (
            df.filter(F.col("raw") < 0)
            .union(df.filter(F.col("raw") >= 0))
            .select("k", F.col("raw").alias("v"))
        )
        rows = base
    else:  # pragma: no cover
        raise AssertionError(shape)
    return out, rows


def _serve_plan(df) -> str:
    # AQE's toString repeats the tree under "== Initial Plan ==";
    # count nodes in the final section only.
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


@pytest.mark.parametrize("shape", ["projection", "filter", "join", "union"])
def test_numbering_composes_exact_and_single_range_exchange(spark, shape):
    from apache_beam_challange_spark.plans.coverage import assign_global_row_ids

    df, rows = _shaped(spark, shape)
    out = assign_global_row_ids(df, ["v", "k"], "k")
    got = {r.k: r.global_id for r in out.collect()}
    want = {
        k: i + 1 for i, (k, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == want
    p = _serve_plan(out)
    assert "Exchange rangepartitioning" not in p
    assert p.count("Scan ExistingRDD") == 2


@pytest.mark.parametrize("shape", ["projection", "filter", "join", "union"])
def test_prefix_sum_composes_exact_and_single_range_exchange(spark, shape):
    from apache_beam_challange_spark.plans.coverage import distributed_prefix_sum

    df, rows = _shaped(spark, shape)
    out = distributed_prefix_sum(df, [F.col("v").desc(), F.col("k")], "v")
    got = {r.k: (r.cum, r.total) for r in out.collect()}
    total = sum(v for _, v in rows)
    want, acc = {}, 0
    for k, v in sorted(rows, key=lambda t: (-t[1], t[0])):
        acc += v
        want[k] = (acc, total)
    assert got == want
    p = _serve_plan(out)
    assert "Exchange rangepartitioning" not in p
    assert p.count("Scan ExistingRDD") == 2


# --- round-10 wave6 invariants -------------------------------------------------


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.booleans()),  # (channel-set seed, conv)
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.slow
def test_shapley_efficiency_axiom_random_journeys(spark, journeys):
    """Shapley values must sum to v(full) - v(empty) (efficiency) on
    random journey corpora, and shares must sum to 1 when any channel
    has positive credit."""
    import datetime as dt

    from apache_beam_challange_spark.plans.wave6 import shapley_attribution

    chans = ["view", "click", "signup"]
    base = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    for u, (seed, conv) in enumerate(journeys):
        touched = [chans[j] for j in range(3) if seed & (1 << j)]
        t = base
        for ch in touched:
            rows.append((i, t, u, ch, 1.0, "")); i += 1
            t += dt.timedelta(minutes=1)
        if conv:
            rows.append((i, t, u, "purchase", 1.0, "")); i += 1
    if not rows:
        return
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = shapley_attribution(spark, d).collect()
    if not out:
        return
    total_phi = sum(r.shapley_conversions for r in out)
    # efficiency: v(full) = all conversions; v(empty) = conversions of
    # journeys with NO touches
    v_full = sum(1 for (seed, conv) in journeys if conv)
    v_empty = sum(1 for (seed, conv) in journeys if conv and seed == 0)
    # channels absent from the data carry no rows; present-channel phis
    # still satisfy efficiency because absent channels have phi = 0
    assert abs(total_phi - (v_full - v_empty)) < 1e-6
    shares = [r.attribution_share for r in out if r.attribution_share is not None]
    if shares:
        assert abs(sum(shares) - 1.0) < 1e-5


@settings(**SETTINGS)
@given(
    st.lists(st.integers(0, 255), min_size=1, max_size=40, unique=True)
)
def test_hilbert_key_bijective_on_random_cells(spark, cells):
    """Random (x, y) cells at 4 bits: engine keys equal the python
    reference and are pairwise distinct (injectivity sample)."""
    from apache_beam_challange_spark.functions.layout import hilbert_step_exprs
    from tests.test_wave6 import _hilbert_ref

    pts = [(c % 16, c // 16) for c in cells]
    h = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", F.lit(0).cast("long").alias("d"),
        F.col("x").alias("x0"), F.col("y").alias("y0"),
    )
    for nx, ny, nd in hilbert_step_exprs(4, "div"):
        h = h.select(
            F.expr(nx).alias("x"), F.expr(ny).alias("y"),
            F.expr(nd).alias("d"), "x0", "y0",
        )
    got = {(r.x0, r.y0): r.d for r in h.collect()}
    assert len(set(got.values())) == len(pts)
    for (x, y), d in got.items():
        assert d == _hilbert_ref(16, x, y)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 2), st.integers(1, 30)),
        min_size=2,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@pytest.mark.slow
def test_ipf_row_margins_match_after_column_last_round_swap(spark, cells):
    """IPF column margins (the LAST step each round) must match the
    uniform-over-24 target for every observed hour, on random grids."""
    import datetime as dt
    import os
    import tempfile

    from apache_beam_challange_spark.plans.wave6 import ipf_raking_type_hour

    types = ["view", "click"]
    rows, i = [], 0
    base = dt.datetime(2024, 1, 1)
    for (t_ix, h, cnt) in cells:
        for _ in range(cnt):
            rows.append(
                (i, base.replace(hour=h), 1, types[t_ix], 1.0, "")
            ); i += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = ipf_raking_type_hour(spark, d).collect()
    n_all = len(rows)
    col = {}
    for r in out:
        col[r.hour] = col.get(r.hour, 0.0) + r.weighted_n
    for h, s in col.items():
        assert abs(s - n_all / 24) < 0.02, (h, s, n_all)
