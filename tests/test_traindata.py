"""Round-5 traindata family: sequence packing, PII redaction, LOCF
resampling, triangle counting, SQ8 quantized ANN, BPE pair statistics.

The oracle gate verifies exact values against DuckDB; these tests pin the
*semantic invariants* (packing arithmetic, detector coverage, LOCF carry,
closed-form triangle counts on known graphs, SQ8 recall floor) and the
physical-plan properties the 100 TB posture depends on.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from apache_beam_challange_spark.operators.graph import triangle_stats
from conftest import TESTDATA_ROOT

QS = entrymod.all_queries()


# --- triangle_stats on known graphs ----------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame([(u, v) for u, v in pairs], "u long, v long")


def _tri_row(spark, pairs):
    return triangle_stats(_edges(spark, pairs)).collect()[0]


def test_triangle_k3(spark):
    r = _tri_row(spark, [(1, 2), (1, 3), (2, 3)])
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (3, 3, 1, 3)
    assert r.clustering_coeff == 1.0


def test_triangle_path_has_none(spark):
    r = _tri_row(spark, [(1, 2), (2, 3), (3, 4)])
    assert r.n_triangles == 0
    assert r.n_wedges == 2  # one wedge at node 2, one at node 3


def test_triangle_k4(spark):
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    r = _tri_row(spark, k4)
    assert r.n_triangles == 4
    assert r.n_wedges == 4 * 3  # 4 nodes x C(3,2)
    assert r.clustering_coeff == 1.0


def test_triangle_star_zero_coeff(spark):
    r = _tri_row(spark, [(1, 2), (1, 3), (1, 4), (1, 5)])
    assert r.n_triangles == 0
    assert r.n_wedges == 6  # C(4,2) at the hub
    assert r.clustering_coeff == 0.0


def test_triangle_two_components(spark):
    # K3 plus a disjoint edge: counts must not bleed across components.
    r = _tri_row(spark, [(1, 2), (1, 3), (2, 3), (10, 11)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 4, 1)


# --- sequence packing -------------------------------------------------------


def test_packing_arithmetic_invariants(spark, sf_dir):
    rows = QS["sequence_packing_by_shard"](spark, sf_dir).collect()
    assert rows
    total_docs = 0
    for r in rows:
        total_docs += r.n_docs
        assert r.n_sequences == math.ceil(r.n_tokens / 256)
        assert r.pad_tokens == r.n_sequences * 256 - r.n_tokens
        assert 0 <= r.pad_tokens < 256
        # a doc can split only if the shard spans >1 sequence
        assert r.n_split_docs <= max(r.n_sequences - 1, 0)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total_docs == n_docs


def test_packing_single_shuffle(spark, sf_dir):
    """Window and aggregate share the (lang, shard) partitioning — the
    whole packing accounting must be ONE hash shuffle."""
    p = (
        QS["sequence_packing_by_shard"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") == 1


# --- PII redaction ----------------------------------------------------------


def test_pii_detectors_cover_every_doc(spark, sf_dir):
    """Each constructed contact tail carries exactly one email, one phone,
    one IPv4 — the detectors must find all of them, and redaction must
    strictly shrink every document."""
    rows = QS["pii_redaction_counts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_emails == r.n_docs
        assert r.n_phones == r.n_docs
        assert r.n_ips == r.n_docs
        assert r.chars_redacted > 0


def test_pii_regexes_on_handcrafted_text(spark):
    from apache_beam_challange_spark.plans.traindata import (
        _EMAIL_RE,
        _IP_RE,
        _PHONE_RE,
    )

    df = spark.createDataFrame(
        [("reach me at jo.doe+spam@mail.example.org or +1-415-0199 via 192.168.0.1",)],
        "s string",
    )
    got = df.select(
        F.regexp_count("s", F.lit(_EMAIL_RE)).alias("e"),
        F.regexp_count("s", F.lit(_PHONE_RE)).alias("p"),
        F.regexp_count("s", F.lit(_IP_RE)).alias("i"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("s", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
            ),
            _IP_RE,
            "<IP>",
        ).alias("red"),
    ).collect()[0]
    assert (got.e, got.p, got.i) == (1, 1, 1)
    assert got.red == "reach me at <EMAIL> or <PHONE> via <IP>"


# --- LOCF resampling --------------------------------------------------------


def test_locf_dense_spine_and_carry(spark, sf_dir):
    df = QS["resample_locf_hourly"](spark, sf_dir)
    rows = df.collect()
    types = {r.event_type for r in rows}
    hours = sorted({r.hour for r in rows})
    # dense grid: every (type, hour) cell exactly once
    assert len(rows) == len(types) * len(hours)
    span = (hours[-1] - hours[0]).total_seconds() / 3600 + 1
    assert len(hours) == span
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.hour)
        prev = None
        seen_obs = False
        for r in series:
            if r.is_gap == 0:
                seen_obs = True
                assert r.value_locf is not None
            elif seen_obs:
                # gap after first observation: value carried unchanged
                assert r.value_locf == prev
            else:
                # leading gap: honestly NULL
                assert r.value_locf is None
            prev = r.value_locf


# --- SQ8 --------------------------------------------------------------------


def test_sq8_recall_floor(spark, sf_dir):
    exact = {r.vec_id for r in QS["cosine_topk_vec0"](spark, sf_dir).collect()}
    sq8 = {r.vec_id for r in QS["sq8_topk_vec0"](spark, sf_dir).collect()}
    assert len(sq8) == 20
    assert len(exact & sq8) / 20 >= 0.90


def test_sq8_shortlist_is_topk_not_global_sort(spark, sf_dir):
    p = (
        QS["sq8_topk_vec0"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


# --- BPE pair counts --------------------------------------------------------


def test_bpe_pairs_match_manual_count(spark, sf_dir):
    texts = [
        r.text for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    wf: dict = {}
    for t in texts:
        for tok in t.split(" "):
            wf[tok] = wf.get(tok, 0) + 1
    manual: dict = {}
    for tok, f_ in wf.items():
        for i in range(len(tok) - 1):
            p = tok[i : i + 2]
            manual[p] = manual.get(p, 0) + f_
    expect = sorted(manual.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r.pair, r.n_occurrences)
        for r in QS["bpe_pair_counts"](spark, sf_dir).collect()
    ]
    assert got == expect


# --- prefix-filter exact similarity join ------------------------------------


def test_prefix_filter_equals_brute_force(spark, sf_dir):
    """The PPJoin-style prefix filter must be EXACT: identical pair set
    and Jaccard values to the all-pairs brute force over shingle sets."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    sets = {}
    for r in docs:
        toks = r.text.split(" ")
        n = max(len(toks) - 2, 1)
        sets[r.doc_id] = {" ".join(toks[i : i + 3]) for i in range(n)}
    ids = sorted(sets)
    expect = set()
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            s1, s2 = sets[d1], sets[d2]
            inter = len(s1 & s2)
            if inter and inter / (len(s1) + len(s2) - inter) >= 0.5:
                expect.add((d1, d2, round(inter / (len(s1) + len(s2) - inter), 6)))
    got = {
        (r.doc_id_1, r.doc_id_2, round(r.jaccard, 6))
        for r in QS["prefix_filter_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must contain at least one near-dup pair"


# --- weighted sampling ------------------------------------------------------


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """The A-Res keys are deterministic md5 arithmetic — an independent
    python computation must produce the identical top-25."""
    import hashlib
    import math as m

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    keyed = []
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        u = (h % 1000003 + 1) / 1000004.0
        keyed.append((m.log(u) / r.n_chars, r.doc_id))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expect = [doc_id for _, doc_id in keyed[:25]]
    got = [r.doc_id for r in QS["weighted_doc_sample"](spark, sf_dir).collect()]
    assert got == expect


def test_weighted_sample_prefers_heavy_rows(spark):
    """With one row weighted 1000x the rest, a top-1 draw must pick it for
    the overwhelming majority of hash seeds — sanity that the weight
    actually steers the sample (exactness is pinned by the oracle)."""
    import hashlib
    import math as m

    wins = 0
    for seed in range(200):
        best, best_k = None, -m.inf
        for doc_id, w in [(seed * 7 + i, 1000 if i == 0 else 1) for i in range(10)]:
            h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
            u = (h % 1000003 + 1) / 1000004.0
            k = m.log(u) / w
            if k > best_k:
                best, best_k = doc_id, k
        if best == seed * 7:
            wins += 1
    assert wins > 180  # heavy row wins ~ w/(w+9) = 99.1% of trials


# --- entity clustering ------------------------------------------------------


def test_entity_clusters_invariants(spark, sf_dir):
    rows = QS["entity_part_clusters"](spark, sf_dir).collect()
    names = {r.p_name for r in rows}
    n_names = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_name")
        .distinct()
        .count()
    )
    assert len(rows) == len(names) == n_names
    by_canon: dict = {}
    for r in rows:
        assert r.canonical_name <= r.p_name  # canonical = lexicographic min
        assert r.is_canonical == (r.p_name == r.canonical_name)
        by_canon.setdefault(r.canonical_name, []).append(r)
    for canon, members in by_canon.items():
        assert canon in {m_.p_name for m_ in members}
        for m_ in members:
            assert m_.cluster_size == len(members)


# --- Z-order layout ---------------------------------------------------------


def test_zorder_key_interleaves_bits(spark):
    from apache_beam_challange_spark.functions.layout import zorder_key

    df = spark.createDataFrame(
        [(0b1010, 0b0101), (0, 0), (255, 255), (1, 0), (0, 1)], "a long, b long"
    )
    got = [r.z for r in df.select(zorder_key(F.col("a"), F.col("b")).alias("z")).collect()]
    def morton(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z
    assert got == [morton(a, b) for a, b in [(0b1010, 0b0101), (0, 0), (255, 255), (1, 0), (0, 1)]]


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """A z-sorted write must give narrow per-row-group ranges on BOTH
    dimensions, where a single-column sort is narrow on one and spans the
    full domain on the other."""
    import pyarrow.parquet as pq
    import glob as g

    from apache_beam_challange_spark.functions.layout import (
        scale_to_bits,
        zorder_key,
    )

    # sf0.001's 1.5k orders fit in ~3 row groups even at a 16 KiB block
    # size — too few to measure clustering; use the sf0.01 table (15k rows)
    orders = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("day"),
    )
    b = orders.agg(
        F.min("o_custkey").alias("mn_c"), F.max("o_custkey").alias("mx_c"),
        F.min("day").alias("mn_d"), F.max("day").alias("mx_d"),
    )
    keyed = orders.crossJoin(F.broadcast(b)).select(
        "o_orderkey", "o_custkey", "day",
        zorder_key(
            scale_to_bits(F.col("o_custkey"), F.col("mn_c"), F.col("mx_c")),
            scale_to_bits(F.col("day"), F.col("mn_d"), F.col("mx_d")),
        ).alias("zkey"),
    )
    small = {"parquet.block.size": 16 * 1024}
    zpath, cpath = str(tmp_path / "z"), str(tmp_path / "c")
    keyed.orderBy("zkey").coalesce(1).write.options(**small).parquet(zpath)
    keyed.orderBy("o_custkey", "day").coalesce(1).write.options(**small).parquet(cpath)

    def ranges(path, col):
        out = []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    def avg_width(rs):
        return sum(mx - mn for mn, mx in rs) / len(rs)

    assert len(ranges(zpath, "day")) > 3, "need several row groups"
    full_day = avg_width([(min(mn for mn, _ in ranges(cpath, "day")),
                           max(mx for _, mx in ranges(cpath, "day")))])
    # custkey-sorted: day ranges span nearly the whole domain per row group
    assert avg_width(ranges(cpath, "day")) > full_day * 0.5
    # z-sorted: BOTH dims clustered well below the single-sort's bad dim
    assert avg_width(ranges(zpath, "day")) < avg_width(ranges(cpath, "day")) / 2
    assert avg_width(ranges(zpath, "o_custkey")) < full_custkey_width(ranges(cpath, "o_custkey")) * 0.5


def full_custkey_width(rs):
    return max(mx for _, mx in rs) - min(mn for mn, _ in rs)


# --- sliding HLL merge ------------------------------------------------------


def test_hll_sliding_estimate_tracks_exact(spark, sf_dir):
    """64 registers give ~13% standard error; every 7-day window estimate
    must land within 40% of the exact distinct count (loose bound — the
    exact values are pinned by the oracle, this guards the estimator
    shape), and windows covering more days must never see the exact
    count shrink."""
    rows = QS["hll_sliding_distinct_users"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert abs(r.hll_estimate - r.exact_users) / r.exact_users < 0.40


# --- interval overlap join --------------------------------------------------


def test_interval_overlap_is_equi_join(spark, sf_dir):
    p = (
        QS["sessions_overlapping_error_hours"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p
    # the ONLY nested-loop allowed is the 1-row total-errors scalar attach;
    # the session x hour overlap itself must be a hash equi-join
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_interval_overlap_matches_theta_join(spark, sf_dir):
    """The bucketed (explode-to-hours) rewrite must equal the naive theta
    join computed row-by-row in python."""
    import datetime as dt

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    ev.sort(key=lambda r: (r.user_id, r.ts, r.event_id))
    sessions = []
    for r in ev:
        if (
            sessions
            and sessions[-1][0] == r.user_id
            and (r.ts - sessions[-1][2]).total_seconds() < 600
        ):
            sessions[-1][2] = r.ts
        else:
            sessions.append([r.user_id, r.ts, r.ts])
    hours: dict = {}
    for r in ev:
        if r.event_type == "error":
            h = r.ts.replace(minute=0, second=0, microsecond=0)
            hours[h] = hours.get(h, 0) + 1
    total, nh = sum(hours.values()), len(hours)
    hot = {h for h, n in hours.items() if n * nh > total}
    expect: dict = {}
    for h in hot:
        hs, users = 0, set()
        for u, s, e in sessions:
            if s < h + dt.timedelta(hours=1) and e >= h:
                hs += 1
                users.add(u)
        if hs:
            expect[h] = (hs, len(users))
    got = {
        r.hour: (r.n_sessions, r.n_users)
        for r in QS["sessions_overlapping_error_hours"](spark, sf_dir).collect()
    }
    assert got == expect


# --- incremental MinHash signature maintenance ------------------------------


def test_minhash_append_equals_rebuild(spark, sf_dir, tmp_path):
    from apache_beam_challange_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_append_signatures,
        minhash_stored_signatures,
        minhash_write_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)
    delta = docs.filter(F.col("doc_id") >= 400)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    minhash_write_signatures(old, inc)
    minhash_append_signatures(delta, inc)
    minhash_write_signatures(docs, full)

    def sig_set(df):
        return {(r.doc_id, r.hash_idx, r.min_hash) for r in df.collect()}

    assert sig_set(minhash_stored_signatures(spark, inc)) == sig_set(
        spark.read.parquet(full)
    )

    # crash-retry: double-append duplicates rows; the reader neutralizes
    # them and the downstream band pairing is unchanged
    minhash_append_signatures(delta, inc)
    pairs_inc = {
        (r.doc_id_1, r.doc_id_2)
        for r in lsh_candidate_pairs(
            minhash_stored_signatures(spark, inc), materialize=False
        ).collect()
    }
    pairs_full = {
        (r.doc_id_1, r.doc_id_2)
        for r in lsh_candidate_pairs(
            spark.read.parquet(full), materialize=False
        ).collect()
    }
    assert pairs_inc == pairs_full
    assert pairs_full, "fixture must contain near-dup pairs"


# --- streaming OHLC ---------------------------------------------------------


def test_streaming_ohlc_equals_batch(spark, sf_dir):
    got = {
        r.window_start: (r.open, r.high, r.low, r.close, r.n_events)
        for r in QS["streaming_ohlc_hourly"](spark, sf_dir).collect()
    }
    expect = {
        r.hour: (r.open, r.high, r.low, r.close, r.n_events)
        for r in QS["ohlc_hourly_value_bars"](spark, sf_dir).collect()
    }
    assert got == expect


# --- CUSUM changepoints -----------------------------------------------------


def test_cusum_prefix_min_rewrite_equals_sequential_fold(spark, sf_dir):
    """The window rewrite S_t = P_t - min(0, min P) must equal the
    textbook sequential recurrence S_t = max(0, S_{t-1} + (x_t - k)),
    folded in python over the same scaled integers."""
    rows = sorted(
        QS["cusum_hourly_changepoints"](spark, sf_dir).collect(),
        key=lambda r: r.hour,
    )
    t = sum(r.n_events for r in rows)
    h = len(rows)
    s = 0
    for r in rows:
        s = max(0, s + (r.n_events * h - t))
        assert r.cusum_scaled == s
        assert r.alarm == (1 if s > 12 * t else 0)


def test_cusum_alarm_fires_on_injected_shift(spark):
    """A series with a sustained level shift must alarm after the shift,
    never before (validates the detector on a known changepoint)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), 1, "view", 1.0, "{}")
        for i in range(48)
    ]
    # hours 0-35 run at 10 events/h, 36-47 at 40: inject by replication
    data = []
    eid = 0
    for i, ts, *_ in rows:
        n = 10 if i < 36 else 40
        for _ in range(n):
            data.append((eid, ts, 1, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = sorted(
            QS["cusum_hourly_changepoints"](spark, d).collect(),
            key=lambda r: r.hour,
        )
    alarms = [i for i, r in enumerate(out) if r.alarm == 1]
    assert alarms, "sustained shift must eventually alarm"
    assert min(alarms) >= 36, "no alarm before the injected changepoint"


# --- perceptual hash --------------------------------------------------------


def test_phash_matches_numpy_reference(spark, sf_dir):
    """The decoded-pixel phash must equal an independent numpy
    recomputation from the generator formula (not via the codec)."""
    import numpy as np

    rows = QS["multimodal_image_phash"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:50]:
        w, h = r.doc_id % 13 + 4, r.doc_id % 7 + 3
        assert (r.width, r.height) == (w, h)
        y = np.arange(h)[:, None, None]
        x = np.arange(w)[None, :, None]
        c = np.arange(3)[None, None, :]
        px = (r.doc_id * 7 + y * 31 + x * 5 + c * 11) % 256
        gray = px.sum(axis=2)
        total, n_px = int(gray.sum()), h * w
        gy = np.arange(h) * 4 // h
        gx = np.arange(w) * 4 // w
        expect = 0
        for cy in range(4):
            for cx in range(4):
                cell = gray[np.ix_(gy == cy, gx == cx)]
                if cell.size and int(cell.sum()) * n_px > total * cell.size:
                    expect |= 1 << (cy * 4 + cx)
        assert r.phash16 == expect


def test_phash_identical_images_collide(spark):
    """Two byte-identical images must share a phash; a structurally
    different image (inverted gradient) must not collide with both."""
    from apache_beam_challange_spark.operators.multimodal import (
        _bmp_phash16,
        encode_bmp,
    )

    a = _bmp_phash16(encode_bmp(7))
    b = _bmp_phash16(encode_bmp(7))
    assert a == b
    other = _bmp_phash16(encode_bmp(123))
    assert (a["width"], a["height"]) != (other["width"], other["height"]) or a[
        "phash16"
    ] != other["phash16"]


# --- split leakage guard ----------------------------------------------------


def test_split_leakage_counts_match_manual(spark, sf_dir):
    """Leakage cells must equal the manual composition of the verified
    candidate pairs and the verified split assignment."""
    import hashlib

    from apache_beam_challange_spark.operators.dedup import lsh_candidate_pairs
    from apache_beam_challange_spark.plans.extensions import minhash_sigs_at_rest

    def split_of(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    pairs = lsh_candidate_pairs(
        minhash_sigs_at_rest(spark, sf_dir), rows_per_band=2
    ).collect()
    expect: dict = {}
    for r in pairs:
        a, b = split_of(r.doc_id_1), split_of(r.doc_id_2)
        if a != b:
            key = (min(a, b), max(a, b))
            expect[key] = expect.get(key, 0) + 1
    got = {
        (r.split_1, r.split_2): r.n_leaked_pairs
        for r in QS["split_leakage_pairs"](spark, sf_dir).collect()
    }
    assert got == expect


# --- OLS trend slopes -------------------------------------------------------


def test_trend_slope_matches_numpy_on_fixture(spark, sf_dir):
    import numpy as np

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    daily: dict = {}
    for r in ev:
        daily.setdefault(r.event_type, {}).setdefault(r.ts.date(), 0)
        daily[r.event_type][r.ts.date()] += 1
    d0 = min(d for per in daily.values() for d in per)
    got = {r.event_type: r.slope for r in QS["daily_trend_slopes"](spark, sf_dir).collect()}
    for et, per in daily.items():
        x = np.array([(d - d0).days for d in per], dtype=float)
        y = np.array([per[d] for d in per], dtype=float)
        slope = np.polyfit(x, y, 1)[0]
        assert abs(got[et] - slope) < 1e-6


def test_trend_slope_exact_on_synthetic_line(spark, tmp_path):
    """y = 3x + 7 must give slope exactly 3.0."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = []
    eid = 0
    for day in range(10):
        for _ in range(3 * day + 7):
            data.append(
                (eid, base + dt.timedelta(days=day), 1, "view", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    rows = QS["daily_trend_slopes"](spark, d).collect()
    assert len(rows) == 1 and rows[0].slope == 3.0


# --- JL random projection ---------------------------------------------------


def test_jl_recall_floor(spark, sf_dir):
    """JL is the honest dimensionality-reduction ABLATION (see its
    docstring): 0.75 measured on this fixture, floor 0.70 — the serving
    routes (multitable LSH / IVFPQ / SQ8) hold the >=0.80 floors."""
    exact = {r.vec_id for r in QS["cosine_topk_vec0"](spark, sf_dir).collect()}
    jl = {r.vec_id for r in QS["rp_jl_topk_vec0"](spark, sf_dir).collect()}
    assert len(jl) == 20
    assert len(exact & jl) / 20 >= 0.70


def test_jl_shortlist_is_topk(spark, sf_dir):
    p = (
        QS["rp_jl_topk_vec0"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in p


# --- session co-visitation PMI ----------------------------------------------


def test_covisit_pmi_matches_manual(spark, sf_dir):
    import math as m

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    ev.sort(key=lambda r: (r.user_id, r.ts, r.event_id))
    members = set()
    sess_count = 0
    cur_user, last_ts, sid = None, None, -1
    for r in ev:
        if r.user_id != cur_user or (r.ts - last_ts).total_seconds() >= 600:
            if r.user_id != cur_user:
                sid = -1
            cur_user = r.user_id
            sid += 1
            sess_count += 1
        last_ts = r.ts
        members.add((r.user_id, sid, r.event_type))
    singles: dict = {}
    pair_counts: dict = {}
    by_sess: dict = {}
    for u, s, t in members:
        singles[t] = singles.get(t, 0) + 1
        by_sess.setdefault((u, s), []).append(t)
    for types in by_sess.values():
        types.sort()
        for i, a in enumerate(types):
            for b in types[i + 1 :]:
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + 1
    got = {
        (r.et_1, r.et_2): (r.n_sessions_together, r.pmi)
        for r in QS["session_covisit_pmi"](spark, sf_dir).collect()
    }
    assert set(got) == set(pair_counts)
    for (a, b), c_ab in pair_counts.items():
        n, pmi = got[(a, b)]
        assert n == c_ab
        expect = round(m.log(c_ab * sess_count / (singles[a] * singles[b])), 6)
        assert abs(pmi - expect) < 1e-9


# --- timed conversion funnel ------------------------------------------------


def test_timed_conversion_semantics(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # user 1: click then purchase 30 min later -> converts
        (0, base, 1, "click"),
        (1, base + dt.timedelta(minutes=30), 1, "purchase"),
        # user 2: purchase with no prior click -> no conversion
        (2, base, 2, "purchase"),
        # user 3: click then purchase 2h later -> outside window
        (3, base, 3, "click"),
        (4, base + dt.timedelta(hours=2), 3, "purchase"),
        # user 4: click, view, purchase 50 min after the click -> converts
        (5, base, 4, "click"),
        (6, base + dt.timedelta(minutes=10), 4, "view"),
        (7, base + dt.timedelta(minutes=50), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in rows],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = QS["timed_conversion_counts"](spark, d).collect()
    assert len(out) == 1
    assert (out[0].n_conversions, out[0].n_users) == (2, 2)


# --- spatial grid density ---------------------------------------------------


def test_grid_density_invariants(spark, sf_dir):
    from apache_beam_challange_spark.sources.catalog import rides, stations

    out = QS["station_grid_density"](spark, sf_dir).collect()
    n_st = stations(spark, sf_dir).count()
    n_rd = (
        rides(spark, sf_dir).filter(F.col("start_station_id").isNotNull()).count()
    )
    assert sum(r.n_stations for r in out) == n_st
    assert sum(r.n_rides for r in out) == n_rd
    for r in out:
        # centroid lies inside its cell rectangle
        assert r.cell_y * 0.02 - 1e-9 <= r.centroid_lat <= (r.cell_y + 1) * 0.02
        assert r.cell_x * 0.03 - 1e-9 <= r.centroid_lon <= (r.cell_x + 1) * 0.03


# --- bigram LM surprise -----------------------------------------------------


def test_bigram_surprise_matches_python_lm(spark, sf_dir):
    """The fixed-point bigram LM must equal a python add-one-smoothed
    reference (same 1e-9 per-term quantization)."""
    import math as m

    texts = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    c12: dict = {}
    c1: dict = {}
    vocab = set()
    for toks in texts.values():
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    V = len(vocab)

    def fp(x):
        return m.floor(m.log(x) * 1e9 + 0.5)

    scores = {}
    for d, toks in texts.items():
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            continue
        s = sum(fp(c12[(a, b)] + 1) - fp(c1[a] + V) for a, b in bgs)
        scores[d] = (round(s / 1e9 / len(bgs), 6), len(bgs))
    expect = sorted(scores.items(), key=lambda kv: (kv[1][0], kv[0]))[:20]
    got = [
        (r.doc_id, (r.avg_logprob, r.n_bigrams))
        for r in QS["bigram_surprise_docs"](spark, sf_dir).collect()
    ]
    assert got == expect


# --- percentile normalization -----------------------------------------------


def test_percentile_rank_properties(spark, sf_dir):
    rows = QS["quality_percentile_by_lang"](spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        assert 0.0 <= r.pct_rank <= 1.0
        by_lang.setdefault(r.lang, []).append(r.pct_rank)
    for lang, pcts in by_lang.items():
        pcts.sort()
        # every stratum is normalized onto the same [0, 1] lattice
        assert pcts[0] == 0.0 and pcts[-1] == 1.0
        n = len(pcts)
        assert pcts == [round(i / (n - 1), 6) for i in range(n)]


# --- MMR diversified re-ranking ---------------------------------------------


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR's selected set must be (a) headed by the plain cosine argmax,
    (b) 10 distinct candidates from the top-50 pool, and (c) strictly
    less self-similar than the plain top-10 (the point of MMR)."""
    import itertools

    from apache_beam_challange_spark.functions.vector import as_double, cosine
    from apache_beam_challange_spark.operators.similarity import knn_join_exact
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plain = [r.vec_id for r in knn_join_exact(emb, [0], 50).collect()]
    mmr_rows = sorted(
        QS["mmr_diversified_topk_vec0"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    sel = [r.vec_id for r in mmr_rows]
    assert len(sel) == len(set(sel)) == 10
    assert sel[0] == plain[0]
    assert set(sel) <= set(plain)
    assert [r.rank for r in mmr_rows] == list(range(1, 11))

    def max_pairwise(ids):
        sub = emb.filter(F.col("vec_id").isin(ids)).select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        a = sub.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
        b = sub.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
        rows = (
            a.crossJoin(b)
            .filter(F.col("a") < F.col("b"))
            .select(cosine(F.col("va"), F.col("vb")).alias("s"))
            .collect()
        )
        return max(r.s for r in rows)

    assert max_pairwise(sel) <= max_pairwise(plain[:10])


def test_triangle_empty_graph_returns_zeros(spark):
    df = spark.createDataFrame([], "u long, v long")
    r = triangle_stats(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (0, 0, 0, 0)
    assert r.clustering_coeff == 0.0


# --- data-quality verification ----------------------------------------------


def test_dq_report_passes_on_clean_fixture(spark, sf_dir):
    rows = {r.constraint: r for r in QS["dq_verification_report"](spark, sf_dir).collect()}
    assert len(rows) == 5
    assert all(r.passed == 1 for r in rows.values())
    assert rows["completeness(o_custkey) = 1.0"].metric == 1.0
    assert rows["uniqueness(o_orderkey) = 1.0"].metric == 1.0
    assert rows["referential_integrity(o_custkey -> c_custkey)"].metric == 0.0


def test_dq_report_fails_on_injected_violations(spark, tmp_path):
    """Duplicate keys, NULL custkeys, a negative price, and an orphan FK
    must each flip exactly their own constraint."""
    import shutil

    d = str(tmp_path / "sf")
    shutil.copytree(f"{TESTDATA_ROOT}/sf0.001", d)
    orders = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/orders.parquet")
    first = orders.limit(1)
    bad = (
        orders.unionAll(first)  # duplicate o_orderkey
        .unionAll(
            first.select(
                (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
                F.lit(None).cast("long").alias("o_custkey"),  # NULL custkey
                "o_orderstatus",
                F.lit(-5.0).alias("o_totalprice"),  # negative price
                "o_orderdate",
                "o_orderpriority",
            )
        )
        .unionAll(
            first.select(
                (F.col("o_orderkey") + 2 * 10**9).alias("o_orderkey"),
                F.lit(10**9).alias("o_custkey"),  # orphan FK
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            )
        )
    )
    import os

    os.remove(os.path.join(d, "orders.parquet"))  # single file in testdata
    bad.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    rows = {r.constraint: r for r in QS["dq_verification_report"](spark, d).collect()}
    assert rows["size(orders) > 0"].passed == 1
    assert rows["completeness(o_custkey) = 1.0"].passed == 0
    assert rows["uniqueness(o_orderkey) = 1.0"].passed == 0
    assert rows["min(o_totalprice) >= 0"].passed == 0
    assert rows["referential_integrity(o_custkey -> c_custkey)"].passed == 0
    assert rows["referential_integrity(o_custkey -> c_custkey)"].metric == 1.0


# --- spatial radius join ----------------------------------------------------


def test_radius_join_equals_brute_force(spark, sf_dir):
    """The 3x3 neighborhood join must find EXACTLY the brute-force
    all-pairs within-radius set (cells >= radius => recall 1.0)."""
    import math as m

    from apache_beam_challange_spark.sources.catalog import stations

    pts = {
        r.id: (r.latitude, r.longitude)
        for r in stations(spark, sf_dir).collect()
    }

    def hav(a, b):
        la1, lo1 = pts[a]
        la2, lo2 = pts[b]
        h = (
            m.sin(m.radians(la2 - la1) / 2) ** 2
            + m.cos(m.radians(la1))
            * m.cos(m.radians(la2))
            * m.sin(m.radians(lo2 - lo1) / 2) ** 2
        )
        return round(2 * 6371.0088 * m.asin(m.sqrt(h)), 6)

    ids = sorted(pts)
    expect = {
        (a, b, hav(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hav(a, b) <= 2.0
    }
    got = {
        (r.id_1, r.id_2, r.distance_km)
        for r in QS["stations_within_radius_pairs"](spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must contain within-radius pairs"


# --- k-core -----------------------------------------------------------------


def test_k_core_known_graphs(spark):
    from apache_beam_challange_spark.operators.graph import k_core

    def core(pairs, k=2):
        df = spark.createDataFrame(pairs, "u long, v long")
        return {
            (r.node, r.core_degree) for r in k_core(df, k=k).collect()
        }

    # triangle with a pendant: the pendant (and nothing else) peels away
    assert core([(1, 2), (1, 3), (2, 3), (3, 4)]) == {(1, 2), (2, 2), (3, 2)}
    # pure path: 2-core is empty (peels from both ends to nothing)
    assert core([(1, 2), (2, 3), (3, 4), (4, 5)]) == set()
    # K4: everything survives with degree 3
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert core(k4) == {(n, 3) for n in range(1, 5)}
    # 3-core of K4 survives; 3-core of a triangle does not
    assert core(k4, k=3) == {(n, 3) for n in range(1, 5)}
    assert core([(1, 2), (1, 3), (2, 3)], k=3) == set()


def test_k_core_matches_python_peel(spark, sf_dir):
    from apache_beam_challange_spark.operators.dedup import lsh_candidate_pairs
    from apache_beam_challange_spark.plans.extensions import minhash_sigs_at_rest

    pairs = [
        (r.doc_id_1, r.doc_id_2)
        for r in lsh_candidate_pairs(
            minhash_sigs_at_rest(spark, sf_dir), rows_per_band=2
        ).collect()
    ]
    edges = set(pairs)
    while True:
        deg: dict = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= 2}
        nxt = {(u, v) for u, v in edges if u in keep and v in keep}
        if nxt == edges:
            break
        edges = nxt
    expect_deg: dict = {}
    for u, v in edges:
        expect_deg[u] = expect_deg.get(u, 0) + 1
        expect_deg[v] = expect_deg.get(v, 0) + 1
    got = {
        (r.doc_id, r.core_degree)
        for r in QS["near_dup_k_core"](spark, sf_dir).collect()
    }
    assert got == set(expect_deg.items())


# --- review-fix regressions (older modules) ---------------------------------


def test_salted_group_count_rejects_salting_by_key(spark):
    import pytest as _pytest

    from apache_beam_challange_spark.operators.skew import salted_group_count

    df = spark.createDataFrame([(1, 2)], "k long, other long")
    with _pytest.raises(ValueError, match="grouping keys"):
        salted_group_count(df, keys=["k"], salt_col="k")
    # non-key salt still works
    out = salted_group_count(df, keys=["k"], salt_col="other").collect()
    assert [(r.k, r.n) for r in out] == [(1, 1)]


def test_connected_components_ignores_phantom_endpoints(spark):
    """Edge endpoints absent from the vertex table may relay
    connectivity but must not appear in the output — the contract the
    LSS twin already had."""
    from apache_beam_challange_spark.operators.graph import (
        connected_components,
        connected_components_lss,
    )

    vertices = spark.createDataFrame([(1,), (2,), (5,)], "doc_id long")
    # 1-3-2 connected only through phantom node 3; 5 isolated
    edges = spark.createDataFrame(
        [(1, 3), (3, 2)], "doc_id_1 long, doc_id_2 long"
    )
    got = {
        (r.node, r.component)
        for r in connected_components(vertices, edges).collect()
    }
    assert {n for n, _ in got} == {1, 2, 5}  # no phantom node 3
    assert got == {(1, 1), (2, 1), (5, 5)}  # relay still connects 1 and 2


# --- CDC with tombstones ----------------------------------------------------


def test_cdc_tombstone_semantics(spark, tmp_path):
    """A key whose LATEST change is a tombstone must vanish; a tombstone
    followed by a reinsert must survive with the new row."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1)
    rows = [
        # user 1: upsert then tombstone -> absent
        (0, base, 1, "view", 1.0, "{}"),
        (1, base + dt.timedelta(minutes=1), 1, "error", 0.0, "{}"),
        # user 2: tombstone then reinsert -> present with the new row
        (2, base, 2, "error", 0.0, "{}"),
        (3, base + dt.timedelta(minutes=1), 2, "click", 7.0, "{}"),
        # user 3: upserts only -> latest wins
        (4, base, 3, "view", 1.0, "{}"),
        (5, base + dt.timedelta(minutes=2), 3, "purchase", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r.user_id: (r.last_event_type, r.last_value)
        for r in QS["cdc_snapshot_with_deletes"](spark, d).collect()
    }
    assert got == {2: ("click", 7.0), 3: ("purchase", 9.0)}


# --- plan-quality assertions for the late-round queries ---------------------


def _plan(spark, sf_dir, name):
    return (
        QS[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_cdc_snapshot_single_shuffle(spark, sf_dir):
    """Latest-wins + tombstone must stay ONE key-partitioned window —
    the tombstone filter reuses the ranked row, no second pass."""
    p = _plan(spark, sf_dir, "cdc_snapshot_with_deletes")
    assert p.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_radius_join_is_hash_join(spark, sf_dir):
    """The 3x3 neighborhood join must be a hash equi-join on the cell
    key — never a geometry theta join."""
    p = _plan(spark, sf_dir, "stations_within_radius_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_hll_sliding_stays_on_register_rows(spark, sf_dir):
    """After the materialized (day, user) distinct, every later stage
    operates on register/day-count rows — the raw events table must
    never be re-scanned per consumer (this assertion caught the
    pre-checkpoint plan running FIVE fact scans)."""
    p = _plan(spark, sf_dir, "hll_sliding_distinct_users")
    assert p.count("FileScan parquet") <= 1


def test_dq_report_single_fact_scan_per_arm(spark, sf_dir):
    """All four scan constraints fold in ONE aggregation pass over
    orders; only the FK anti-join adds a second orders scan."""
    p = _plan(spark, sf_dir, "dq_verification_report")
    orders_scans = sum(
        1 for l in p.splitlines() if "FileScan parquet" in l and "orders" in l
    )
    assert orders_scans <= 2
    assert "CartesianProduct" not in p


# --- content-defined chunking -----------------------------------------------


def test_cdc_chunks_match_python_rolling_hash(spark, sf_dir):
    """The closed-form window hash must equal the classic INCREMENTAL
    rolling update (the identity CDC rests on), and the chunk accounting
    must match a python reference end-to-end."""
    import hashlib

    from apache_beam_challange_spark.plans.traindata import (
        _RK_B,
        _RK_DIV,
        _RK_L,
        _RK_P,
    )

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    seen = set()
    tot = uniq = n_chunks = 0
    for r in rows:
        text = r.text
        n = len(text)
        cuts = []
        if n >= _RK_L:
            # incremental Rabin-Karp update, not the closed form
            h = 0
            for j in range(_RK_L):
                h = (h * _RK_B + ord(text[j])) % _RK_P
            bl = pow(_RK_B, _RK_L - 1, _RK_P)
            s = 1
            while True:
                if h % _RK_DIV == 0 and s + _RK_L - 1 < n:
                    cuts.append(s + _RK_L - 1)
                if s > n - _RK_L:
                    break
                if s + _RK_L - 1 < n:
                    h = (
                        (h - ord(text[s - 1]) * bl) * _RK_B + ord(text[s + _RK_L - 1])
                    ) % _RK_P
                s += 1
        cuts = sorted(set(cuts))
        prev = 0
        for c in cuts + [n]:
            chunk = text[prev:c]
            prev = c
            n_chunks += 1
            tot += len(chunk)
            k = hashlib.md5(chunk.encode()).hexdigest()
            if k not in seen:
                seen.add(k)
                uniq += len(chunk)
    got = QS["cdc_chunk_dedup_stats"](spark, sf_dir).collect()[0]
    assert (got.n_chunks, got.total_chars, got.unique_chars) == (
        n_chunks,
        tot,
        uniq,
    )
    assert got.n_unique_chunks == len(seen)
    assert got.dedup_ratio == round(uniq / tot, 6)


def test_group_kfold_partitions_users_and_mass(spark, sf_dir):
    """The fold function partitions USERS (group-aware by construction:
    fold is a pure function of user_id), every event lands in exactly
    one fold, and the reported shares sum to 1."""
    from apache_beam_challange_spark.plans.traindata import (
        _KFOLD_K,
        group_kfold_split_audit,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    rows = group_kfold_split_audit(spark, sf_dir).collect()
    assert 0 < len(rows) <= _KFOLD_K
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert sum(r["n_users"] for r in rows) == ev.select("user_id").distinct().count()
    assert abs(sum(r["events_share"] for r in rows) - 1.0) < 1e-9
    assert all(0.0 <= r["max_mix_dev"] <= 1.0 for r in rows)


def test_kcore_matches_true_fixed_point(spark, sf_dir):
    """The pinned 12-round peel must equal the TRUE k-core (peel to
    convergence, however many rounds) computed by a pure-Python replay
    — proving the round budget reaches the fixed point, not an
    arbitrary prefix of the peel."""
    import pandas as pd
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import (
        _KCORE_K,
        _KCORE_W,
        kcore_part_graph,
    )

    li = pq.read_table(
        sf_dir + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pandas()
    basket = li.drop_duplicates()
    m = basket.merge(basket, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    w = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = set(w[w >= _KCORE_W].index)
    while True:
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        nxt = {(u, v) for u, v in edges if u in keep and v in keep}
        if nxt == edges:
            break
        edges = nxt
    expect_deg: dict[int, int] = {}
    for u, v in edges:
        expect_deg[u] = expect_deg.get(u, 0) + 1
        expect_deg[v] = expect_deg.get(v, 0) + 1
    rows = kcore_part_graph(spark, sf_dir).collect()
    assert {r["l_partkey"]: r["core_degree"] for r in rows} == expect_deg
    assert all(r["core_degree"] >= _KCORE_K for r in rows)


def test_quantile_normalize_matches_pandas_replay(spark, sf_dir):
    """Exact replay: global sorted table, within-type mid-ranks, the
    floor position map — plus the invariants (range-bounded, rank
    order preserved within type)."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import (
        quantile_normalize_values,
    )

    t = pq.read_table(
        sf_dir + "/events.parquet", columns=["event_id", "event_type", "value"]
    ).to_pandas()
    t["vu"] = np.floor(t["value"].to_numpy() * 10000 + 0.5).astype(np.int64)
    g = t.sort_values(["vu", "event_id"]).reset_index(drop=True)
    n_all = len(g)
    rows = quantile_normalize_values(spark, sf_dir).collect()
    assert len(rows) == n_all
    got = {r["event_id"]: (r["event_type"], r["vu"], r["norm_vu"]) for r in rows}
    for et, grp in t.groupby("event_type"):
        s = grp.sort_values(["vu", "event_id"]).reset_index(drop=True)
        n_t = len(s)
        for rn0, row in enumerate(s.itertuples()):
            pct = 0.5 if n_t == 1 else rn0 / (n_t - 1)
            pos = int(np.floor(pct * (n_all - 1) + 0.5))
            expect = int(g["vu"].iloc[pos])
            assert got[row.event_id] == (et, int(row.vu), expect)
    # invariants
    lo, hi = int(g["vu"].iloc[0]), int(g["vu"].iloc[-1])
    assert all(lo <= nv <= hi for _, _, nv in got.values())


def test_hrw_moves_only_to_the_new_shard(spark, sf_dir):
    """Minimal-disruption property + hashlib replay: adding shard 8
    moves docs ONLY onto shard 8, at roughly 1/9 of the corpus."""
    import hashlib

    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import (
        _HRW_N,
        hrw_shard_rebalance_audit,
    )

    doc_ids = pq.read_table(
        sf_dir + "/documents.parquet", columns=["doc_id"]
    ).to_pandas()["doc_id"]

    def hex4(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    def winner(doc, n):
        return max(range(n), key=lambda s: (hex4(f"{doc}@{s}"), -s))

    expect: dict[int, list[int]] = {}
    moved_to = set()
    for d in doc_ids:
        o, nw = winner(d, _HRW_N), winner(d, _HRW_N + 1)
        ent = expect.setdefault(o, [0, 0])
        ent[0] += 1
        if nw != o:
            ent[1] += 1
            moved_to.add(nw)
    assert moved_to <= {_HRW_N}  # minimal disruption: only the NEW shard gains
    rows = hrw_shard_rebalance_audit(spark, sf_dir).collect()
    assert {
        r["shard_old"]: [r["n_docs"], r["n_moved"]] for r in rows
    } == expect
    frac = sum(v[1] for v in expect.values()) / len(doc_ids)
    assert 0.03 <= frac <= 0.25  # ~1/9 expected


def test_negative_sampling_matches_hashlib_replay(spark, sf_dir):
    """Replay the derandomized negatives + collision flags in pure
    Python; flagged fraction must be tiny relative to the candidate
    count (degree/|parts| expectation)."""
    import hashlib

    import pandas as pd
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import (
        _KCORE_W,
        _NEG_K,
        negative_sampling_triplets,
    )

    li = pq.read_table(
        sf_dir + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pandas()
    basket = li.drop_duplicates()
    m = basket.merge(basket, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    w = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    pos = set(w[w >= _KCORE_W].index)
    n_parts = len(
        pq.read_table(sf_dir + "/part.parquet", columns=["p_partkey"])
    )

    def hex4(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    expect = {}
    for u, v in pos:
        for j in range(_NEG_K):
            neg = (
                hex4(f"neg#{u}#{v}#{j}") * 65536 + hex4(f"ngb#{u}#{v}#{j}")
            ) % n_parts
            fn = (
                neg == u
                or neg == v
                or (min(u, neg), max(u, neg)) in pos
            )
            expect[(u, v, j)] = (neg, fn)
    rows = negative_sampling_triplets(spark, sf_dir).collect()
    got = {
        (r["anchor"], r["positive"], r["neg_rank"]): (
            r["negative"],
            r["is_false_negative"],
        )
        for r in rows
    }
    assert got == expect
    # flagged fraction tracks graph density: P(collision) ~ degree/n_parts
    # (sf0.001's dense 200-part graph runs ~14%; sf0.01's is ~0.4%)
    flagged = sum(1 for _, fn in got.values() if fn)
    mean_degree = 2.0 * len(pos) / len({u for u, _ in pos} | {v for _, v in pos})
    assert flagged / len(got) <= 3.0 * (mean_degree + 2.0) / n_parts + 0.01


def test_target_encoding_excludes_own_fold(spark, sf_dir):
    """Replay the out-of-fold encodings in pandas (same md5 folds) and
    verify the leakage-safety identity: every encoding equals the
    complement mean and differs from the full mean whenever the fold
    deviates from its complement."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import (
        _KFOLD_K,
        target_encoding_oof,
    )

    t = pq.read_table(
        sf_dir + "/events.parquet",
        columns=["user_id", "event_type", "value"],
    ).to_pandas()
    t["vu"] = np.floor(t["value"].to_numpy() * 10000 + 0.5).astype(np.int64)
    t["fold"] = [
        int(hashlib.md5(f"fold#{u}".encode()).hexdigest()[:4], 16) % _KFOLD_K
        for u in t["user_id"]
    ]
    rows = target_encoding_oof(spark, sf_dir).collect()
    for r in rows:
        g = t[t["event_type"] == r["event_type"]]
        inf = g[g["fold"] == r["fold"]]
        oof = g[g["fold"] != r["fold"]]
        assert r["n_f"] == len(inf)
        assert np.isclose(
            r["oof_encoding"],
            int(oof["vu"].sum()) / len(oof) / 10000.0,
            rtol=1e-12,
        )
        assert np.isclose(
            r["full_mean"],
            int(g["vu"].sum()) / len(g) / 10000.0,
            rtol=1e-12,
        )


def test_rfm_quartiles_are_balanced_and_conserving(spark, sf_dir):
    """Quartile populations must be n/4 +- 1 per dimension, segment
    counts must sum to the customer population, and revenue must be
    conserved across segments."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.traindata import rfm_segment_counts

    orders = pq.read_table(
        sf_dir + "/orders.parquet", columns=["o_custkey", "o_totalprice"]
    ).to_pandas()
    n_cust = orders["o_custkey"].nunique()
    total_c = int(
        np.floor(orders["o_totalprice"].to_numpy() * 100 + 0.5)
        .astype(np.int64)
        .sum()
    )
    rows = rfm_segment_counts(spark, sf_dir).collect()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert sum(r["segment_revenue_c"] for r in rows) == total_c
    for dim in ("r_q", "f_q", "m_q"):
        per_q: dict[int, int] = {}
        for r in rows:
            per_q[r[dim]] = per_q.get(r[dim], 0) + r["n_customers"]
        assert set(per_q) <= {1, 2, 3, 4}
        for q, cnt in per_q.items():
            assert abs(cnt - n_cust / 4) <= 1
