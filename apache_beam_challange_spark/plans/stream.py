"""Streaming registry queries: Structured Streaming executed to completion
(availableNow -> memory sink) so the driver's batch-style oracle gate can
hash-verify the *final* streaming answers against DuckDB SQL.

The session-window oracle is the classic gaps-and-islands rewrite; the
stateful query's oracle is a plain GROUP BY (single availableNow batch
folds all data through the state store exactly once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import local_frame
from apache_beam_challange_spark.streaming.stateful import running_user_counts
from apache_beam_challange_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@query(
    "streaming_tumbling_counts",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
""".strip(),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event_type over the event stream; complete
    output mode so the final table equals the batch answer."""
    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(tumbling_counts(ev, "1 hour"), "complete")


@query(
    "streaming_sliding_counts",
    oracle="""
SELECT window_start, COUNT(*) AS n
FROM (
    SELECT date_trunc('hour', ts) - INTERVAL (o.o) HOUR AS window_start
    FROM events, (SELECT unnest(generate_series(0, 1)) AS o) o
) t
GROUP BY window_start
""".strip(),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h windows advancing 1h: every event lands in 2 panes."""
    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(sliding_counts(ev, "2 hours", "1 hour"), "complete")


@query(
    "streaming_session_windows",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS sess_id
    FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sess_id
""".strip(),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-minute gap) per user — Spark's session_window
    merges events whose consecutive gaps are < gap; the oracle reproduces
    that with a gaps-and-islands window chain."""
    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(session_counts(ev, "10 minutes"), "complete")


@query(
    "streaming_dedup_events",
    oracle="""
SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
FROM events
""".strip(),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over (user, type, minute) —
    the state-store-backed exactly-once dedup primitive (with a watermark
    in production to bound state; unbounded here for the deterministic
    availableNow run)."""
    from pyspark.sql import functions as F

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    deduped = (
        ev.select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).cast("timestamp_ntz").alias("minute"),
        )
        .dropDuplicates(["user_id", "event_type", "minute"])
    )
    return run_to_memory(deduped, "append")


@query(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hour
FROM events
""".strip(),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-state streaming dedup: ``dropDuplicatesWithinWatermark``
    holds each key only until the watermark passes its event time + the
    1 h horizon, so state is O(keys inside the horizon) — the variant
    that runs forever at 100 TB, where ``streaming_dedup_events``'s plain
    ``dropDuplicates`` documents the unbounded-state tradeoff. Within one
    availableNow backlog every duplicate is inside the horizon, so the
    final table equals DISTINCT (the batch-twin oracle); the semantic
    difference — a duplicate arriving AFTER its key's state expired is
    re-emitted — is pinned by the crafted multi-batch test."""
    from pyspark.sql import functions as F

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    deduped = (
        ev.select(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", "hour")
    )
    return run_to_memory(deduped, "append")


@query(
    "streaming_enriched_nation_counts",
    oracle="""
SELECT c.c_nationkey, COUNT(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
""".strip(),
)
def streaming_enriched_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static customer
    dimension (broadcast — the static side is re-read per micro-batch but
    never shuffles the stream), then aggregates per nation. The canonical
    "enrich events with reference data" streaming shape; availableNow makes
    the final table equal the batch join the oracle runs."""
    from pyspark.sql import functions as F

    from apache_beam_challange_spark.sources.catalog import load_table

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_events"))
    return run_to_memory(agg, "complete")


@query(
    "streaming_stateful_user_counts",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
FROM events
GROUP BY user_id
""".strip(),
)
def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed-state streaming operator (applyInPandasWithState):
    running per-user counts. One availableNow batch folds everything through
    the state store, so the final update equals the batch GROUP BY."""
    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(running_user_counts(ev), "update")


@query(
    "stream_stream_interval_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       date_diff('second', c.ts, p.ts) AS delay_sec
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 30 MINUTE
""".strip(),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (VERDICT r5 #8): clicks
    joined to same-user purchases within a 30-minute attribution window,
    BOTH sides unbounded streams with watermarks bounding the join state.
    availableNow folds the backlog through the real stream-stream join
    operator (state store + watermark eviction), and append mode emits each
    matched pair exactly once — so the final table equals the batch
    interval join the oracle runs."""
    from apache_beam_challange_spark.streaming.windows import (
        click_purchase_interval_join,
    )

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(click_purchase_interval_join(ev), "append")


@query(
    "stream_stream_left_outer_join",
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds',
               LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                     (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')))
           - INTERVAL 1 HOUR AS w
)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       date_diff('second', c.ts, p.ts) AS delay_sec
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 30 MINUTE
WHERE p.event_id IS NOT NULL
   OR c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
""".strip(),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: the inner attribution join
    plus the abandoned-click rows — a click with no purchase in its
    30-minute window is emitted once, null-padded, when the watermark
    proves no match can still arrive (the state-eviction semantics only a
    real stream-stream outer join exercises; an inner join never emits
    from eviction).

    The batch-twin oracle reproduces the eviction boundary exactly
    (empirically pinned at sf0.001/0.01/0.1): Spark tracks per-input max
    event time in milliseconds, the global watermark is
    min(max click_ts, max purchase_ts) ms-truncated minus the 1 h delay,
    and a null row appears iff the click's window end falls strictly
    before it. Unexpired unmatched clicks are (correctly) absent from
    both sides of the comparison."""
    from apache_beam_challange_spark.streaming.windows import (
        click_purchase_interval_join,
    )

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(
        click_purchase_interval_join(ev, how="leftOuter"), "append"
    )


@query(
    "stateful_user_session_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros
FROM events
GROUP BY user_id
""".strip(),
)
def stateful_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom multi-stat keyed-state streaming operator (VERDICT r5 #8):
    per-user lifetime count, distinct-type count, first/last seen, and
    fixed-point value sum, folded through the state store via
    ``applyInPandasWithState``. The value sum is integer micros
    (per-term floor(value*1e6)) so it is partition-order-invariant and
    matches DuckDB bit-for-bit. The ``transformWithStateInPandas`` twin
    (``streaming/stateful.py:user_session_stats_tws`` — typed
    ValueState/ListState per stat) runs the same semantics on the Spark 4
    API; it needs google.protobuf + RocksDB, so it is exercised by the
    protobuf-gated ``test_user_session_stats_tws_twin`` and
    ``tools/check_tws.py`` rather than this registry entry."""
    from apache_beam_challange_spark.streaming.stateful import user_session_stats

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(user_session_stats(ev), "update")


@query(
    "streaming_ohlc_hourly",
    oracle="""
WITH ranked AS (
    SELECT date_trunc('hour', ts) AS window_start, value,
           ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts) ORDER BY ts, event_id
           ) AS rn_a,
           ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC
           ) AS rn_d
    FROM events
)
SELECT window_start,
       MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY window_start
""".strip(),
)
def streaming_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC time-series bars computed BY THE STREAMING ENGINE —
    min_by/max_by/min/max/count are mergeable aggregates, so the bars
    fold incrementally across micro-batches (complete mode here so the
    final table equals the batch answer; the batch twin
    ``ohlc_hourly_value_bars`` shares the window-based oracle)."""
    from apache_beam_challange_spark.streaming.windows import ohlc_bars

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(ohlc_bars(ev, "1 hour"), "complete")


@query(
    "stateful_gap_sessions",
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
    FROM events
),
flag AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts
                ) <= INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_s
    FROM events
),
grp AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS g
    FROM flag
),
sess AS (
    SELECT user_id, g, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY MAX(ts) DESC
           ) AS rn
    FROM grp GROUP BY user_id, g
)
SELECT user_id, session_start, session_end, n_events FROM sess
WHERE rn > 1 OR session_end + INTERVAL 30 MINUTE < (SELECT w FROM wm)
""".strip(),
)
def stateful_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMER-driven stateful sessionization: 30-minute-gap sessions per
    user on ``applyInPandasWithState`` with ``EventTimeTimeout`` — the
    state-timeout mechanism the other stateful operators never need,
    because their emissions are all data-driven. Sessions closed by a
    later event stream out of the data path; each user's FINAL open
    session has no later event to close it, so only its event-time TIMER
    (set to session_end + gap) can flush it, firing when the watermark
    passes.

    The batch-twin oracle is the verified gaps-and-islands rewrite plus
    the timer boundary: every non-final session appears; a user's final
    session appears iff its gap horizon closed strictly before the final
    watermark (ms-truncated max event time minus the 1 h delay — the
    same empirically pinned eviction arithmetic as the left-outer
    stream-stream join)."""
    from apache_beam_challange_spark.streaming.stateful import gap_sessions

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(gap_sessions(ev), "append")


@query(
    "stream_stream_full_outer_join",
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds',
               LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                     (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')))
           - INTERVAL 1 HOUR AS w
),
c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           date_diff('second', c.ts, p.ts) AS delay_sec
    FROM c JOIN p ON c.user_id = p.user_id
              AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
),
null_clicks AS (
    SELECT c.user_id, c.event_id AS click_id, NULL::BIGINT AS purchase_id,
           c.ts AS click_ts, NULL::TIMESTAMP AS purchase_ts,
           NULL::BIGINT AS delay_sec
    FROM c
    WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE)
      AND c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
),
null_purchases AS (
    SELECT p.user_id, NULL::BIGINT AS click_id, p.event_id AS purchase_id,
           NULL::TIMESTAMP AS click_ts, p.ts AS purchase_ts,
           NULL::BIGINT AS delay_sec
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE)
      AND p.ts < (SELECT w FROM wm)
)
SELECT * FROM matched
UNION ALL SELECT * FROM null_clicks
UNION ALL SELECT * FROM null_purchases
""".strip(),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completing the join-mode
    matrix next to the inner and left-outer twins: the attribution pairs
    PLUS abandoned clicks (no purchase in the 30-minute window,
    null-padded once their window end falls strictly before the global
    watermark) PLUS orphan purchases (no qualifying click, null-padded
    once the watermark passes their own event time — any matching click
    would carry click_ts <= purchase_ts, so watermark > purchase_ts
    proves no match can still arrive). Both eviction boundaries are
    empirically pinned by the batch-twin oracle at three SFs, the same
    discipline that pinned the left-outer boundary."""
    from apache_beam_challange_spark.streaming.windows import (
        click_purchase_interval_join,
    )

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(
        click_purchase_interval_join(ev, how="fullOuter"), "append"
    )


@query(
    "stream_stream_left_semi_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = c.user_id
        AND p.ts >= c.ts
        AND p.ts < c.ts + INTERVAL 30 MINUTE)
""".strip(),
)
def stream_stream_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the attribution EXISTENCE
    check (which clicks converted, without duplicating a click per
    purchase), extending the join-mode matrix past inner/left-outer/
    full-outer. Semi is the cheapest stateful mode: the engine emits a
    buffered click once, on its first in-window purchase, then drops its
    match state; unmatched clicks age out of the state store unemitted
    when the watermark passes their window end — so unlike the outer
    modes, NO eviction boundary appears in the output and the batch twin
    is a plain correlated EXISTS (also how Catalyst plans it in batch: a
    LeftSemi hash join). Same bounded-state posture as the other modes:
    hash(user_id) shuffle on both streams, range predicate inside the
    co-located state store, state O(watermark horizon)."""
    from apache_beam_challange_spark.streaming.windows import (
        click_purchase_interval_join,
    )

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(
        click_purchase_interval_join(ev, how="leftSemi"), "append"
    )


#: ts-guarded upsert: updates apply only when the delta row is NEWER
#: (ts, event_id tie-break) than the held state, making the fold
#: ORDER-INDEPENDENT — any partition of the changelog into micro-batches
#: converges to argmax-(ts,event_id) per user (batch-split invariance is
#: test-pinned). Tombstones are held IN state (flagged by event_type) and
#: dropped at serve time, so a late pre-tombstone event can never
#: resurrect a deleted key.
_STREAM_CDC_MERGE_SQL = """
MERGE INTO __stream_cdc_state t
USING __stream_cdc_delta s
ON t.user_id = s.user_id
WHEN MATCHED AND (s.last_ts > t.last_ts OR (s.last_ts = t.last_ts
    AND s.last_event_id > t.last_event_id)) THEN UPDATE SET
    last_ts = s.last_ts, last_event_id = s.last_event_id,
    last_event_type = s.last_event_type, last_value = s.last_value
WHEN NOT MATCHED THEN INSERT (user_id, last_ts, last_event_id,
    last_event_type, last_value) VALUES (s.user_id, s.last_ts,
    s.last_event_id, s.last_event_type, s.last_value)
""".strip()


@query(
    "streaming_cdc_merge_snapshot",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""".strip(),
)
def streaming_cdc_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the lakehouse `foreachBatch` + MERGE pattern
    (round 8, bridging the streaming surface and the MERGE compiler):
    the event changelog streams in micro-batches (file stream,
    maxFilesPerTrigger=1), each batch reduces to its per-user latest
    change (tombstones INCLUDED) and folds into the held snapshot
    through the declarative ts-guarded MERGE in
    ``_STREAM_CDC_MERGE_SQL``; serve time filters tombstoned keys. The
    guard makes the fold order-independent, so the final state equals
    the batch full-history fold EXACTLY — which is this oracle, the same
    text as ``merge_into_cdc_snapshot``'s: one semantics, three routes
    (batch window, batch MERGE, streaming MERGE). State is re-published
    per batch as a localCheckpoint-ed view — the memory-sink analogue of
    a Delta/Iceberg MERGE target; a production swap changes the sink,
    not the statement."""
    return _stream_cdc_merge(spark, sf_dir, n_files=4)


def _stream_cdc_merge(spark: SparkSession, sf_dir: str, n_files: int) -> DataFrame:
    """The parameterized core: ``n_files`` controls the micro-batch split
    (maxFilesPerTrigger=1 makes each file one batch). The ts-guarded
    merge makes the result invariant to the split — test-pinned by
    running 2-file and 7-file folds to identical rows."""
    import os
    import tempfile

    from pyspark.sql import Window

    from apache_beam_challange_spark.operators.merge_into import merge_into
    from apache_beam_challange_spark.sources.publish import (
        publish,
        read_published,
    )

    ev = load_table(spark, sf_dir, "events")
    state_schema = (
        "user_id bigint, last_ts timestamp_ntz, last_event_id bigint, "
        "last_event_type string, last_value double"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        state_base = os.path.join(tmp, "state")
        ev.repartition(n_files).write.parquet(src)

        def apply_batch(batch_df, batch_id: int) -> None:
            # foreachBatch runs in a CLONED session whose temp-view
            # catalog is not the outer one — every view and the merge
            # itself run on the BATCH session, and the state lives AT
            # REST behind the versioned publish pointer (read v_N, merge,
            # publish v_N+1) — exactly the table-format MERGE-target
            # pattern, with no driver-side data traffic.
            bs = batch_df.sparkSession
            (
                batch_df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    "user_id",
                    F.col("ts").alias("last_ts"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.col("value").alias("last_value"),
                )
                .createOrReplaceTempView("__stream_cdc_delta")
            )
            state = read_published(bs, state_base)
            if state is None:
                state = local_frame(bs, [], state_schema)
            state.createOrReplaceTempView("__stream_cdc_state")
            publish(merge_into(bs, _STREAM_CDC_MERGE_SQL), state_base)

        stream = events_stream(spark, src, max_files_per_trigger=1)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                stream.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # materialize before the tmp state dir vanishes with the context
        final = read_published(spark, state_base).localCheckpoint()
    return (
        final.filter(F.col("last_event_type") != "error")
        .select("user_id", "last_ts", "last_event_type", "last_value")
    )
