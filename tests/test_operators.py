from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from apache_beam_challange_spark.operators.dedup import exact_dedup
from apache_beam_challange_spark.operators.joins import (
    all_pairs,
    full_outer_zero_fill,
)
from conftest import TESTDATA_ROOT


def test_full_outer_zero_fill_semantics(spark):
    """J2: zero-fill when either side of the join is absent
    (total_distance.py:14-29 semantics)."""
    counts = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 2)], ["s", "e", "n"]
    )
    dists = spark.createDataFrame(
        [(1, 2, 1.5), (9, 9, 4.0)], ["s", "e", "d"]
    )
    out = full_outer_zero_fill(
        counts, dists, on=["s", "e"], fill={"n": 0, "d": 0.0}
    )
    rows = {(r["s"], r["e"]): (r["n"], r["d"]) for r in out.collect()}
    assert rows[(1, 2)] == (5, 1.5)      # both sides
    assert rows[(1, 3)] == (2, 0.0)      # count only -> distance zero-filled
    assert rows[(9, 9)] == (0, 4.0)      # distance only -> count zero-filled


def test_full_outer_zero_fill_faithful_zeroes_both(spark):
    """faithful=True reproduces the reference DoFn exactly: BOTH value
    columns become their defaults whenever EITHER side is absent
    (total_distance.py:16-29 only assigns when both are numeric)."""
    counts = spark.createDataFrame([(1, 2, 5), (1, 3, 2)], ["s", "e", "n"])
    dists = spark.createDataFrame([(1, 2, 1.5), (9, 9, 4.0)], ["s", "e", "d"])
    out = full_outer_zero_fill(
        counts, dists, on=["s", "e"], fill={"n": 0, "d": 0.0}, faithful=True
    )
    rows = {(r["s"], r["e"]): (r["n"], r["d"]) for r in out.collect()}
    assert rows[(1, 2)] == (5, 1.5)      # both sides survive
    assert rows[(1, 3)] == (0, 0.0)      # distance missing -> count zeroed too
    assert rows[(9, 9)] == (0, 0.0)      # count missing -> distance zeroed too


def test_q2_faithful_swaps_labels(spark):
    """cycle_rides.py:55 emits (end, start, count) under a (start, end,
    amount) header; faithful mode reproduces that byte-compatibly."""
    from apache_beam_challange_spark.plans.canonical import q2_top_pairs_ops

    sf_dir = f"{TESTDATA_ROOT}/sf0.001"
    sane = q2_top_pairs_ops(spark, sf_dir).collect()
    swapped = q2_top_pairs_ops(spark, sf_dir, faithful=True).collect()
    assert [r["start_station_id"] for r in swapped] == [
        r["end_station_id"] for r in sane
    ]
    assert [r["end_station_id"] for r in swapped] == [
        r["start_station_id"] for r in sane
    ]
    assert [r["amount_of_rides"] for r in swapped] == [
        r["amount_of_rides"] for r in sane
    ]


def test_all_pairs_keeps_self_and_both_orientations(spark):
    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    pairs = {(r["id_1"], r["id_2"]) for r in all_pairs(dim).collect()}
    assert pairs == {(1, 1), (1, 2), (2, 1), (2, 2)}


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "k"), (1, "k"), (2, "k"), (5, "j")], ["id", "key"]
    )
    out = exact_dedup(df, ["key"], "id").collect()
    kept = {r["key"]: r["id"] for r in out}
    assert kept == {"k": 1, "j": 5}


def test_broadcast_cross_join_plan(spark):
    """The all-pairs plan must be a broadcast nested-loop join — not the
    reference's single-worker funnel."""
    dim = spark.createDataFrame([(i, f"s{i}") for i in range(10)], ["id", "name"])
    plan = all_pairs(dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_salted_join_matches_plain_join(spark):
    """Salting must be result-invisible: same rows as a plain equi-join,
    including a hot key carrying most of the volume, and left rows without
    a dim match surviving a left join."""
    from apache_beam_challange_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(2, 900), (3, 901), (9, 902)],
        ["k", "uid"],
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "a"), (3, "b")], ["k", "name"])
    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in salted_join(
                fact, dim, on=["k"], salt_col="uid", n_salts=4, how=how
            ).collect()
        )
        want = sorted(tuple(r) for r in fact.join(dim, ["k"], how).collect())
        assert got == want, how


def test_salted_join_rejects_bad_args(spark):
    import pytest as _pytest

    from apache_beam_challange_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, 2)], ["k", "uid"])
    with _pytest.raises(ValueError):
        salted_join(df, df, on=["k"], salt_col="uid", n_salts=0)
    with _pytest.raises(ValueError):
        salted_join(df, df, on=["k"], salt_col="uid", how="full_outer")


def test_tfidf_top_terms_scores_and_ties(spark):
    import math

    from apache_beam_challange_spark.operators.relational import tfidf_top_terms

    docs = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "cherry cherry cherry durian")],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["rank"]): r for r in tfidf_top_terms(docs, k=3).collect()
    }
    # doc 0: apple tf=2 df=1 beats banana tf=1 df=2
    assert rows[(0, 1)]["term"] == "apple"
    assert rows[(0, 1)]["tfidf"] == round(2 * math.log(3 / 1), 6)
    assert rows[(0, 2)]["term"] == "banana"
    # doc 1: identical scores -> tie broken by term ascending
    assert rows[(1, 1)]["term"] == "banana" and rows[(1, 2)]["term"] == "cherry"
    # doc 2: cherry tf=3 with df=2 outranks rarer durian
    assert rows[(2, 1)]["term"] == "cherry" and rows[(2, 2)]["term"] == "durian"
    assert rows[(2, 1)]["tf"] == 3 and rows[(2, 1)]["df"] == 2


def test_observe_metrics_on_curation_query(spark, sf_dir):
    """The Observation API — pipeline observability without a second scan:
    metrics accumulate ON the running query (rows, null keys, value sum),
    so data-quality counters at 100 TB cost zero extra passes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = Observation("quality")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value")).alias("value_sum"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_users"),
    )
    out = observed.groupBy("event_type").count().collect()
    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["null_users"] == 0
    assert abs(got["value_sum"] - ev.agg(F.sum("value")).collect()[0][0]) < 1e-6
    assert sum(r["count"] for r in out) == got["n_rows"]


def test_incremental_rollup_refresh(spark, tmp_path):
    """Continuous-aggregate refresh: each refresh folds ONLY newly-closed
    hours; the final rollup equals a from-scratch aggregation of all raw
    data below the cutoff, and re-refreshing is a no-op."""
    import datetime as dt

    from pyspark.sql import functions as F

    from apache_beam_challange_spark.operators.rollup import (
        hourly_rollup,
        refresh_hourly_rollup,
    )
    from apache_beam_challange_spark.sources.publish import read_published

    raw = tmp_path / "raw"
    roll = str(tmp_path / "rollup")

    def ev(h, m, etype, val):
        return (dt.datetime(2024, 1, 1, h, m), etype, float(val))

    batch1 = [ev(10, 5, "view", 1), ev(10, 40, "view", 2), ev(11, 10, "click", 3),
              ev(12, 1, "view", 4)]
    spark.createDataFrame(batch1, ["ts", "event_type", "value"]).write.mode(
        "append"
    ).parquet(str(raw))
    n1 = refresh_hourly_rollup(
        spark.read.parquet(str(raw)), roll, "2024-01-01 12:00:00"
    )
    got1 = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_published(spark, roll).collect()
    }
    assert n1 == 2
    assert got1 == {
        ("2024-01-01 10:00:00", "view"): (2, 3.0),
        ("2024-01-01 11:00:00", "click"): (1, 3.0),
    }

    # second batch: rest of hour 12, hour 13, and a partial (open) hour 14
    batch2 = [ev(12, 30, "click", 5), ev(13, 15, "view", 6), ev(14, 2, "view", 7)]
    spark.createDataFrame(batch2, ["ts", "event_type", "value"]).write.mode(
        "append"
    ).parquet(str(raw))
    all_raw = spark.read.parquet(str(raw))
    n2 = refresh_hourly_rollup(all_raw, roll, "2024-01-01 14:00:00")
    assert n2 == 3  # (12,view) (12,click) (13,view)

    want = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in hourly_rollup(
            all_raw.filter(F.col("ts") < F.lit("2024-01-01 14:00:00").cast("timestamp"))
        ).collect()
    }
    got2 = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_published(spark, roll).collect()
    }
    assert got2 == want

    # idempotent: nothing new below the same cutoff
    assert refresh_hourly_rollup(all_raw, roll, "2024-01-01 14:00:00") == 0

    # misaligned cutoff fails fast instead of silently undercounting the
    # partial hour forever
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hour-aligned"):
        refresh_hourly_rollup(all_raw, roll, "2024-01-01 14:30:00")


def test_refresh_hourly_rollup_crash_between_write_and_publish(spark, tmp_path):
    """Crash injection: a refresh that dies after writing its version dir
    but BEFORE flipping the pointer leaves the old rollup fully readable,
    and the retry converges to the correct state."""
    import datetime as dt

    from apache_beam_challange_spark.operators.rollup import (
        refresh_hourly_rollup,
    )
    from apache_beam_challange_spark.sources import publish as pub

    raw = tmp_path / "raw"
    roll = str(tmp_path / "rollup")
    rows = [
        (dt.datetime(2024, 1, 1, 10, 5), "view", 1.0),
        (dt.datetime(2024, 1, 1, 11, 10), "click", 3.0),
    ]
    spark.createDataFrame(rows, ["ts", "event_type", "value"]).write.parquet(
        str(raw)
    )
    all_raw = spark.read.parquet(str(raw))
    assert refresh_hourly_rollup(all_raw, roll, "2024-01-01 11:00:00") == 1
    before = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in pub.read_published(spark, roll).collect()
    }

    # crash the NEXT refresh between version-dir write and pointer flip
    real_flip = pub._pointer_flip

    def _boom(src, dst):
        raise OSError("injected crash before pointer flip")

    pub._pointer_flip = _boom
    try:
        import pytest as _pytest

        with _pytest.raises(OSError, match="injected crash"):
            refresh_hourly_rollup(all_raw, roll, "2024-01-01 12:00:00")
    finally:
        pub._pointer_flip = real_flip

    # old snapshot still the live, complete one
    after_crash = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in pub.read_published(spark, roll).collect()
    }
    assert after_crash == before

    # retry completes and folds hour 11
    assert refresh_hourly_rollup(all_raw, roll, "2024-01-01 12:00:00") == 1
    final = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in pub.read_published(spark, roll).collect()
    }
    assert final == {
        ("2024-01-01 10:00:00", "view"): (1, 1.0),
        ("2024-01-01 11:00:00", "click"): (1, 3.0),
    }


def test_publish_refuses_unversioned_layout(spark, tmp_path):
    """A pre-versioning plain parquet dir at the publish base must raise,
    not be silently treated as an empty table (which would restart the
    snapshot from scratch over live data)."""
    import pytest as _pytest

    from apache_beam_challange_spark.sources.publish import read_published

    legacy = tmp_path / "snap"
    spark.range(3).write.parquet(str(legacy))
    with _pytest.raises(RuntimeError, match="non-versioned"):
        read_published(spark, str(legacy))


def test_publish_time_travel_within_retention(spark, tmp_path):
    """The versioned publish layout gives snapshot time travel over the
    retention window: after two publishes the previous version is still
    readable by number, the live read serves the newest, and a pruned
    version raises instead of silently serving wrong data."""
    import pytest as _pytest

    from apache_beam_challange_spark.sources import publish as pub

    base = str(tmp_path / "t")
    pub.publish(spark.range(3), base)
    pub.publish(spark.range(5), base)
    assert pub.published_versions(base) == [1, 2]
    assert pub.read_published(spark, base).count() == 5
    assert pub.read_published(spark, base, version=1).count() == 3
    pub.publish(spark.range(7), base)  # v1 pruned (keep 2)
    assert pub.published_versions(base) == [2, 3]
    with _pytest.raises(ValueError, match="not retained"):
        pub.read_published(spark, base, version=1)


def test_scd2_versions_partition_each_users_timeline(spark, sf_dir):
    """SCD-2 invariants on real data: per user, version intervals are
    non-overlapping and contiguous (each valid_to equals the next
    valid_from), exactly one open row exists, and version event counts
    sum back to the user's raw row count — the properties a point-in-time
    join relies on."""
    from collections import defaultdict

    from apache_beam_challange_spark.plans.curation import (
        scd2_event_type_history,
    )

    rows = scd2_event_type_history(spark, sf_dir).collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_counts = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(per_user) == set(raw_counts)
    for uid, versions in per_user.items():
        versions.sort(key=lambda r: r["valid_from"])
        opens = [r for r in versions if r["is_current"] == 1]
        assert len(opens) == 1 and opens[0] is versions[-1]
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous, no overlap
        assert versions[-1]["valid_to"] is None
        assert sum(r["n_events"] for r in versions) == raw_counts[uid]


def test_publish_never_flipped_version_is_unreadable(spark, tmp_path):
    """A version dir that was fully written but whose pointer flip never
    happened (crash between write and flip) was never live: time-travel
    reads and the version listing must refuse it."""
    import os

    import pytest as _pytest

    from apache_beam_challange_spark.sources import publish as pub

    base = str(tmp_path / "t")
    pub.publish(spark.range(3), base)
    # simulate: v2 fully written (with _SUCCESS) but _CURRENT never flipped
    orphan = os.path.join(base, "v_00000002")
    spark.range(5).write.mode("overwrite").parquet(orphan)
    assert os.path.exists(os.path.join(orphan, "_SUCCESS"))
    assert pub.published_versions(base) == [1]
    with _pytest.raises(ValueError, match="not retained"):
        pub.read_published(spark, base, version=2)
    # the live read is unaffected
    assert pub.read_published(spark, base).count() == 3


def test_rollup_lookback_repairs_stragglers(spark, tmp_path):
    """A raw row appended into an already-folded hour is dropped forever
    at lookback 0 (the documented watermark semantics) and repaired by
    the next refresh when the lookback covers it."""
    import datetime as dt

    from apache_beam_challange_spark.operators.rollup import (
        hourly_rollup,
        refresh_hourly_rollup,
    )
    from apache_beam_challange_spark.sources.publish import read_published

    base = dt.datetime(2024, 6, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )

    def ev_df(rows):
        return spark.createDataFrame(rows, schema)

    on_time = [
        (i, base + dt.timedelta(hours=h, minutes=5), 1, "view", 1.0, "{}")
        for i, h in enumerate([0, 0, 1, 2])
    ]
    straggler = [(99, base + dt.timedelta(hours=1, minutes=40), 1, "view", 1.0, "{}")]

    for lb, repaired in ((0, False), (2, True)):
        path = str(tmp_path / f"roll_lb{lb}")
        refresh_hourly_rollup(ev_df(on_time), path, "2024-06-01T03:00:00", lookback_hours=lb)
        # straggler lands in hour 1 AFTER hour 1 was folded
        allrows = ev_df(on_time + straggler)
        refresh_hourly_rollup(allrows, path, "2024-06-01T04:00:00", lookback_hours=lb)
        got = {
            (r.hour, r.event_type): r.n
            for r in read_published(spark, path).collect()
        }
        full = {
            (r.hour, r.event_type): r.n for r in hourly_rollup(allrows).collect()
        }
        h1 = (base + dt.timedelta(hours=1), "view")
        if repaired:
            assert got == full  # lookback window re-folded the straggler
        else:
            assert got[h1] == full[h1] - 1  # documented bounded loss


def test_rollup_lookback_noop_refresh_publishes_nothing(spark, tmp_path):
    """With lookback > 0 the delta re-aggregates the lookback window on
    every refresh, so it is non-empty even when NOTHING changed — the
    refresh must detect that, return 0, and not burn a snapshot version
    (ADVICE r5: the 'returns 0 when already current' contract)."""
    import datetime as dt

    from apache_beam_challange_spark.operators.rollup import refresh_hourly_rollup
    from apache_beam_challange_spark.sources.publish import published_versions

    base = dt.datetime(2024, 6, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    rows = [
        (i, base + dt.timedelta(hours=h, minutes=5), 1, "view", 1.0, "{}")
        for i, h in enumerate([0, 0, 1, 2])
    ]
    path = str(tmp_path / "roll_noop")
    ev = spark.createDataFrame(rows, schema)
    n1 = refresh_hourly_rollup(ev, path, "2024-06-01T03:00:00", lookback_hours=2)
    assert n1 > 0
    v_before = published_versions(path)
    # same data, same cutoff: the lookback refold reproduces the rows it
    # replaces exactly -> no-op, no new version
    n2 = refresh_hourly_rollup(ev, path, "2024-06-01T03:00:00", lookback_hours=2)
    assert n2 == 0
    assert published_versions(path) == v_before
    # a real straggler inside the lookback window DOES publish
    late = spark.createDataFrame(
        rows + [(99, base + dt.timedelta(hours=2, minutes=40), 1, "view", 1.0, "{}")],
        schema,
    )
    n3 = refresh_hourly_rollup(late, path, "2024-06-01T03:00:00", lookback_hours=2)
    assert n3 > 0
    assert len(published_versions(path)) != len(v_before) or published_versions(path) != v_before


def test_rollup_lookback_replay_with_earlier_cutoff_never_truncates(
    spark, tmp_path
):
    """A REPLAYED refresh with an earlier (still hour-aligned) up_to inside
    the lookback window must not delete hours a later refresh already
    folded — it recomputes only its own (refold_from, cutoff) window and
    keeps everything at or past the cutoff (found by review: the refold
    replacement used to be bounded only below, so the replay published a
    rollup WITHOUT the newest hour)."""
    import datetime as dt

    from apache_beam_challange_spark.operators.rollup import (
        hourly_rollup,
        refresh_hourly_rollup,
    )
    from apache_beam_challange_spark.sources.publish import read_published

    base = dt.datetime(2024, 6, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    rows = [
        (i, base + dt.timedelta(hours=h, minutes=5), 1, "view", 1.0, "{}")
        for i, h in enumerate([0, 0, 1, 2, 2])
    ]
    path = str(tmp_path / "roll_replay")
    ev = spark.createDataFrame(rows, schema)
    # fold hours 0-2
    assert refresh_hourly_rollup(ev, path, "2024-06-01T03:00:00", lookback_hours=2) > 0
    want = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_published(spark, path).collect()
    }
    assert ("2024-06-01 02:00:00", "view") in want
    # replay at the earlier cutoff: same data, so either a no-op or a
    # republish of identical content — NEVER a rollup missing hour 2
    refresh_hourly_rollup(ev, path, "2024-06-01T02:00:00", lookback_hours=2)
    got = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_published(spark, path).collect()
    }
    assert got == want
    # a straggler inside the REPLAYED window is still repaired, and hour 2
    # still survives
    late = spark.createDataFrame(
        rows
        + [(99, base + dt.timedelta(hours=1, minutes=50), 1, "view", 1.0, "{}")],
        schema,
    )
    assert (
        refresh_hourly_rollup(late, path, "2024-06-01T02:00:00", lookback_hours=2)
        > 0
    )
    got2 = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_published(spark, path).collect()
    }
    full = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in hourly_rollup(
            late.filter("ts < timestamp'2024-06-01 03:00:00'")
        ).collect()
    }
    assert got2 == full


def test_ensure_session_confs_respects_runtime_override(spark):
    """A shuffle-partition value set at RUNTIME via spark.conf.set (not
    the builder) must survive ensure_session_confs — ADVICE r5: the
    SparkContext-conf-only check silently reset runtime overrides."""
    from apache_beam_challange_spark.session import ensure_session_confs

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")
        ensure_session_confs(spark)
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, prev)


def test_ensure_session_confs_respects_builder_value(spark):
    """A value set on the builder (conftest's shuffle_partitions=8) lives
    in the SparkContext conf and is never replaced by the engine default,
    even while the runtime value reads Spark's unset default — on the
    first call and on the memoized ones after it."""
    from apache_beam_challange_spark.session import ensure_session_confs

    key = "spark.sql.shuffle.partitions"
    assert spark.sparkContext.getConf().get(key) == "8"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        ensure_session_confs(spark)
        ensure_session_confs(spark)
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, prev)


def test_join_view_incremental_refresh_equals_rebuild(spark, tmp_path):
    """Two fact appends folded incrementally must equal a one-shot enrich
    of all facts; a refresh with nothing new returns 0 and publishes no
    version (the idempotent no-op)."""
    from apache_beam_challange_spark.operators.joinview import (
        enrich_orders,
        refresh_enriched_orders,
    )
    from apache_beam_challange_spark.sources.publish import (
        published_versions,
        read_published,
    )

    cust = spark.createDataFrame(
        [(1, "a", 10, 5.0, "BUILDING"), (2, "b", 20, 6.0, "MACHINERY")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        )

    batch1 = [(1, 1, 100.0), (2, 2, 200.0)]
    batch2 = [(3, 1, 300.0), (4, 2, 400.0)]
    path = str(tmp_path / "enriched")
    assert refresh_enriched_orders(orders_df(batch1), cust, path) == 2
    assert refresh_enriched_orders(orders_df(batch1 + batch2), cust, path) == 2
    got = {
        (r.o_orderkey, r.c_mktsegment, r.c_nationkey)
        for r in read_published(spark, path).collect()
    }
    want = {
        (r.o_orderkey, r.c_mktsegment, r.c_nationkey)
        for r in enrich_orders(orders_df(batch1 + batch2), cust).collect()
    }
    assert got == want
    v = published_versions(path)
    assert refresh_enriched_orders(orders_df(batch1 + batch2), cust, path) == 0
    assert published_versions(path) == v


def test_join_view_dim_change_affects_new_rows_only(spark, tmp_path):
    """The documented enrich-at-ingest contract: a dim attribute change
    between refreshes reaches NEW fact rows only; already-enriched
    history keeps the attributes it was ingested with (point-in-time
    history is SCD-2's job, not this view's)."""
    from apache_beam_challange_spark.operators.joinview import (
        refresh_enriched_orders,
    )
    from apache_beam_challange_spark.sources.publish import read_published

    schema = (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    )
    cust_v1 = spark.createDataFrame([(1, "a", 10, 5.0, "BUILDING")], schema)
    cust_v2 = spark.createDataFrame([(1, "a", 10, 5.0, "FURNITURE")], schema)

    def orders_df(rows):
        return spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        )

    path = str(tmp_path / "enriched_dim")
    assert refresh_enriched_orders(orders_df([(1, 1, 100.0)]), cust_v1, path) == 1
    assert (
        refresh_enriched_orders(
            orders_df([(1, 1, 100.0), (2, 1, 200.0)]), cust_v2, path
        )
        == 1
    )
    got = {
        r.o_orderkey: r.c_mktsegment
        for r in read_published(spark, path).collect()
    }
    assert got == {1: "BUILDING", 2: "FURNITURE"}


def test_delete_published_keys_erases_rows_and_history(spark, tmp_path):
    """Right-to-be-forgotten through the versioned layer: the subject's
    rows leave the LIVE version AND every retained time-travel snapshot
    (an erasure that leaves old versions readable has not erased
    anything); nothing-matched is an idempotent no-op that publishes no
    version. The DataFrame-of-keys route (broadcast anti-join) must
    agree with the sequence route."""
    from apache_beam_challange_spark.sources.publish import (
        delete_published_keys,
        publish,
        published_versions,
        read_published,
    )

    base = str(tmp_path / "subjects")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "user_id long, payload string"
    )
    publish(v1, base)
    publish(
        v1.unionByName(
            spark.createDataFrame([(4, "d")], "user_id long, payload string")
        ),
        base,
    )
    assert len(published_versions(base)) == 2
    # erase subject 2: gone from live AND history purged to the new version
    assert delete_published_keys(spark, base, "user_id", [2]) == 1
    assert {r.user_id for r in read_published(spark, base).collect()} == {1, 3, 4}
    assert len(published_versions(base)) == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_published(spark, base, version=1)  # old snapshot is truly gone
    # idempotent: nothing matched -> 0, no new version
    v = published_versions(base)
    assert delete_published_keys(spark, base, "user_id", [2]) == 0
    assert published_versions(base) == v
    # bulk route: DataFrame of keys via broadcast anti-join
    keys = spark.createDataFrame([(1,), (4,)], "user_id long")
    assert delete_published_keys(spark, base, "user_id", keys) == 2
    assert {r.user_id for r in read_published(spark, base).collect()} == {3}


def test_delete_published_keys_guards(spark, tmp_path):
    """Review-found hazards of a destructive API: NULL-key rows are never
    erased (a NULL matches no request; naive ~isin dropped them), a bare
    string is rejected instead of exploding into characters, a
    wrong-shaped keys DataFrame is rejected instead of silently
    anti-joining the wrong column, and a retry completes a purge an
    earlier crash (or purge_history=False call) left undone."""
    import pytest as _pytest

    from apache_beam_challange_spark.sources.publish import (
        delete_published_keys,
        publish,
        published_versions,
        read_published,
    )

    base = str(tmp_path / "subjects2")
    publish(
        spark.createDataFrame(
            [(1, "a"), (None, "ghost"), (3, "c")], "user_id long, payload string"
        ),
        base,
    )
    # NULL-key row survives the sequence route and the count is honest
    assert delete_published_keys(spark, base, "user_id", [1]) == 1
    assert {
        r.payload for r in read_published(spark, base).collect()
    } == {"ghost", "c"}
    with _pytest.raises(TypeError):
        delete_published_keys(spark, base, "payload", "abc")
    # a None inside the request list must not poison isin() into
    # three-valued NULL (which silently dropped every NON-matching row)
    assert delete_published_keys(spark, base, "user_id", [None, 3]) == 1
    assert {
        r.payload for r in read_published(spark, base).collect()
    } == {"ghost"}
    assert delete_published_keys(spark, base, "user_id", [None]) == 0
    bad = spark.createDataFrame([("x", 3)], "payload string, other long")
    with _pytest.raises(ValueError):
        delete_published_keys(spark, base, "user_id", bad)
    # retry completes the purge: an earlier call kept history...
    publish(
        spark.createDataFrame(
            [(None, "ghost"), (3, "c"), (9, "z")],
            "user_id long, payload string",
        ),
        base,
    )
    assert len(published_versions(base)) == 2
    assert (
        delete_published_keys(spark, base, "user_id", [3], purge_history=False)
        == 1
    )
    assert len(published_versions(base)) >= 2
    # ...and the no-op retry with purge_history=True still purges
    assert delete_published_keys(spark, base, "user_id", [3]) == 0
    assert len(published_versions(base)) == 1


def test_join_view_refresh_raises_on_emptied_view(spark, tmp_path):
    """A published-but-empty enriched view (e.g. after a full compliance
    delete) has no defined append watermark: refresh must raise loudly
    instead of silently enriching nothing forever."""
    import pytest as _pytest

    from apache_beam_challange_spark.operators.joinview import (
        refresh_enriched_orders,
    )
    from apache_beam_challange_spark.sources.publish import (
        delete_published_keys,
        publish,
    )

    cust = spark.createDataFrame(
        [(1, "a", 10, 5.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, 1, 100.0)], "o_orderkey long, o_custkey long, o_totalprice double"
    )
    path = str(tmp_path / "enriched_empty")
    assert refresh_enriched_orders(orders, cust, path) == 1
    assert delete_published_keys(spark, path, "o_custkey", [1]) == 1
    with _pytest.raises(RuntimeError, match="empty"):
        refresh_enriched_orders(orders, cust, path)


def test_skyline_matches_bruteforce_dominance(spark, sf_dir):
    """The histogram-sweep skyline must equal the O(n^2) dominance scan
    run in numpy on the same exact-cent data."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.advanced import (
        skyline_parts_price_size,
    )

    t = pq.read_table(
        sf_dir + "/part.parquet",
        columns=["p_partkey", "p_size", "p_retailprice"],
    ).to_pandas()
    price = np.floor(t["p_retailprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    size = t["p_size"].to_numpy().astype(np.int64)
    dominated = np.zeros(len(t), dtype=bool)
    for i in range(len(t)):
        dominated[i] = bool(
            np.any(
                (price <= price[i])
                & (size >= size[i])
                & ((price < price[i]) | (size > size[i]))
            )
        )
    expect = sorted(
        zip(t["p_partkey"][~dominated], price[~dominated], size[~dominated])
    )
    got = [
        (r["p_partkey"], r["price_c"], r["p_size"])
        for r in skyline_parts_price_size(spark, sf_dir).collect()
    ]
    assert got == [(int(a), int(b), int(c)) for a, b, c in expect]


def test_ewma_matches_numpy_replay(spark, sf_dir):
    """Replay the exact recurrence (exact-cent daily totals, alpha=0.3
    level chain, one-step-ahead MAE) in Python."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.advanced import (
        ewma_forecast_backtest,
    )

    t = pq.read_table(
        sf_dir + "/events.parquet", columns=["ts", "event_type", "value"]
    ).to_pandas()
    t["d"] = (t["ts"].dt.normalize() - pd.Timestamp("2024-01-01")).dt.days
    t["yc"] = np.floor(t["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    rows = ewma_forecast_backtest(spark, sf_dir).collect()
    for r in rows:
        g = (
            t[t["event_type"] == r["event_type"]]
            .groupby("d")["yc"]
            .sum()
            .sort_index()
        )
        level, err = float(g.iloc[0]), 0.0
        for y in g.iloc[1:]:
            err += abs(float(y) - level)
            level = 0.3 * float(y) + 0.7 * level
        assert r["n_days"] == len(g)
        assert np.isclose(r["final_level"], level, rtol=1e-12)
        assert np.isclose(r["mae"], err / (len(g) - 1), rtol=1e-12)


def test_association_rules_match_pandas_replay(spark, sf_dir):
    """Replay support/confidence/lift from raw baskets; the returned
    rules must be the true lift top-k under the deterministic ordering
    and every ratio must reproduce exactly."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.advanced import (
        _AR_MIN_PAIR,
        _AR_TOP,
        association_rules_topk,
    )

    li = pq.read_table(
        sf_dir + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pandas()
    basket = li.drop_duplicates()
    nb = basket["l_orderkey"].nunique()
    item = basket.groupby("l_partkey").size()
    m = basket.merge(basket, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    pair = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    pair = pair[pair >= _AR_MIN_PAIR]
    scored = []
    for (a, b), n_ab in pair.items():
        lift = float(n_ab) * float(nb) / (float(item[a]) * float(item[b]))
        scored.append((-lift, a, b, int(n_ab)))
    scored.sort()
    rows = association_rules_topk(spark, sf_dir).collect()
    assert len(rows) == min(_AR_TOP, len(scored))
    for r, (neg_lift, a, b, n_ab) in zip(rows, scored):
        assert (r["part_a"], r["part_b"], r["n_ab"]) == (a, b, n_ab)
        assert np.isclose(r["lift"], -neg_lift, rtol=1e-12)
        assert np.isclose(r["support"], n_ab / nb, rtol=1e-12)
        assert np.isclose(r["conf_a_to_b"], n_ab / item[a], rtol=1e-12)
        assert np.isclose(r["conf_b_to_a"], n_ab / item[b], rtol=1e-12)
        assert r["lift"] >= 1.0 or r["support"] > 0  # sanity


def test_clamped_ledger_matches_python_replay(spark, sf_dir):
    """Replay the non-associative clamped scan in pure Python for every
    user; conservation: spent + blocked == total purchase cents."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache_beam_challange_spark.plans.advanced import (
        _LEDGER_EVENT_C,
        _LEDGER_SIGNUP_C,
        clamped_ledger_balances,
    )

    t = (
        pq.read_table(
            sf_dir + "/events.parquet",
            columns=["user_id", "ts", "event_id", "event_type", "value"],
        )
        .to_pandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    t["cents"] = np.floor(t["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    expect = {}
    for uid, g in t.groupby("user_id"):
        bal = spent = blocked = 0
        for et, c in zip(g["event_type"], g["cents"]):
            if et == "purchase":
                pay = min(bal, int(c))
                bal -= pay
                spent += pay
                blocked += int(c) - pay
            elif et == "signup":
                bal += _LEDGER_SIGNUP_C
            else:
                bal += _LEDGER_EVENT_C
        expect[uid] = (bal, spent, blocked)
    rows = clamped_ledger_balances(spark, sf_dir).collect()
    got = {
        r["user_id"]: (r["final_balance_c"], r["spent_c"], r["blocked_c"])
        for r in rows
    }
    assert got == expect
    tot_purch = int(t.loc[t["event_type"] == "purchase", "cents"].sum())
    assert sum(s + b for _, s, b in got.values()) == tot_purch
