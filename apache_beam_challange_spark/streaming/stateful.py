"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.8 / §2.9) — the Spark analog of Beam's state/timer DoFns
(which the reference never uses; its DoFns are stateless, P7).

Example operator: per-user running event counter with last-seen timestamp.
State is a single (count, last_ts) pair per key, stored in Spark's state
store (RocksDB-backed on a real cluster) — partitioned by key, scales
horizontally with no driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, last_ts timestamp_ntz"
#: (count, last-seen ts as epoch MICROS) — last_ts must live in state, not
#: be recomputed per batch, or an out-of-order micro-batch would emit a
#: REGRESSED last-seen value (found by review; the docstring's
#: "(count, last_ts) pair" contract is now actually what is stored).
STATE_SCHEMA = "n bigint, t bigint"


def _count_updates(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch into per-user running counts."""
    import warnings

    # pandas emits a concat FutureWarning from inside pyspark's serializer
    # for state batches; it is upstream noise, not ours.
    warnings.filterwarnings("ignore", category=FutureWarning)
    n_new = 0
    batch_last = None
    for pdf in batches:
        n_new += len(pdf)
        batch_max = pdf["ts"].max()
        if batch_last is None or batch_max > batch_last:
            batch_last = batch_max
    prev_n, prev_t = state.get if state.exists else (0, None)
    total = prev_n + n_new
    # merge, don't replace: a late batch must never regress last-seen
    batch_micros = (
        None if batch_last is None else int(pd.Timestamp(batch_last).value // 1000)
    )
    last_micros = max(
        (t for t in (prev_t, batch_micros) if t is not None), default=None
    )
    state.update((total, last_micros))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [total],
            "last_ts": [
                None if last_micros is None else pd.Timestamp(last_micros * 1000)
            ],
        }
    )


def running_user_counts(events: DataFrame) -> DataFrame:
    """Streaming per-user running counts with explicit keyed state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_updates,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: user_session_stats output — the value sum is carried as FIXED-POINT
#: MICROS (per-term floor(value*1e6) summed as int64): integer addition is
#: associative/commutative, so the result is bit-identical regardless of
#: how rows are partitioned across micro-batches or tasks, and DuckDB's
#: floor matches IEEE floor exactly (the FLOOR-not-ROUND quantization
#: discipline used across the oracle suite).
SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, n_types int, "
    "first_ts timestamp_ntz, last_ts timestamp_ntz, value_micros bigint"
)
#: (count, '|'-joined sorted event-type set, first/last ts micros, value
#: micros sum) — every field merges commutatively, so late or re-ordered
#: micro-batches fold to the same state.
SESSION_STATE_SCHEMA = "n bigint, types string, ft bigint, lt bigint, vm bigint"


def _fold_session_batches(
    batches: Iterator[pd.DataFrame],
) -> tuple[int, set[str], int | None, int | None, int]:
    """Fold an iterator of pandas chunks into the (n, types, first_micros,
    last_micros, value_micros) session accumulator — the ONE definition
    both the ``applyInPandasWithState`` operator and its
    ``transformWithStateInPandas`` twin call, so the two APIs cannot
    silently diverge on null/timestamp/fixed-point handling (their
    equality is this module's stated contract)."""
    import numpy as np

    n_new, vm_new = 0, 0
    types_new: set[str] = set()
    ft_new = lt_new = None
    for pdf in batches:
        n_new += len(pdf)
        types_new.update(pdf["event_type"].dropna())
        ts_ns = pdf["ts"].astype("int64")
        b_min, b_max = int(ts_ns.min()) // 1000, int(ts_ns.max()) // 1000
        ft_new = b_min if ft_new is None else min(ft_new, b_min)
        lt_new = b_max if lt_new is None else max(lt_new, b_max)
        vm_new += int(np.floor(pdf["value"].to_numpy() * 1e6).astype("int64").sum())
    return n_new, types_new, ft_new, lt_new, vm_new


def _session_stats_updates(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch into per-user lifetime session stats."""
    import warnings

    warnings.filterwarnings("ignore", category=FutureWarning)
    n_new, types_new, ft_new, lt_new, vm_new = _fold_session_batches(batches)
    if state.exists:
        n0, types0, ft0, lt0, vm0 = state.get
        types_new.update(t for t in types0.split("|") if t)
        ft_new = min(x for x in (ft0, ft_new) if x is not None)
        lt_new = max(x for x in (lt0, lt_new) if x is not None)
        n_new, vm_new = n0 + n_new, vm0 + vm_new
    state.update((n_new, "|".join(sorted(types_new)), ft_new, lt_new, vm_new))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_new],
            "n_types": [len(types_new)],
            "first_ts": [pd.Timestamp(ft_new * 1000)],
            "last_ts": [pd.Timestamp(lt_new * 1000)],
            "value_micros": [vm_new],
        }
    )


def user_session_stats(events: DataFrame) -> DataFrame:
    """Multi-stat keyed-state streaming operator: per-user event count,
    distinct-type count, first/last seen, and fixed-point value sum — all
    commutative merges, so the final update after an availableNow run
    equals the batch GROUP BY the oracle computes.

    Runs on ``applyInPandasWithState``; :func:`user_session_stats_tws` is
    the same operator on the Spark 4 ``transformWithStateInPandas`` API
    (protobuf-gated, see :func:`running_key_counts_tws`)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_stats_updates,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_session_stats_tws(events: DataFrame) -> DataFrame:
    """:func:`user_session_stats` on ``transformWithStateInPandas`` with
    composable typed state — one ValueState per stat instead of a packed
    tuple, the shape the TWS API is designed for. Requires RocksDB state
    store + an importable ``google.protobuf``, which
    ``streaming/tws_env.ensure_protobuf`` supplies from the App Engine
    pure-python runtime where no protobuf is installed. The
    equality-with-batch contract is exercised by
    ``tests/test_streaming.py::test_user_session_stats_tws_twin`` and by
    ``tools/check_tws.py`` (a two-batch file stream vs the batch GROUP
    BY); both skip, loudly in the tool's case, only on a host with
    neither protobuf source."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _SessionStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")
            self._types = handle.getListState("types", "t string")
            self._ft = handle.getValueState("ft", "ft bigint")
            self._lt = handle.getValueState("lt", "lt bigint")
            self._vm = handle.getValueState("vm", "vm bigint")

        def handleInputRows(self, key, rows, timerValues):
            n_new, types_new, ft_new, lt_new, vm_new = _fold_session_batches(
                rows
            )
            n = (self._n.get()[0] if self._n.exists() else 0) + n_new
            vm = (self._vm.get()[0] if self._vm.exists() else 0) + vm_new
            types_new.update(t[0] for t in self._types.get())
            ft0 = self._ft.get()[0] if self._ft.exists() else None
            lt0 = self._lt.get()[0] if self._lt.exists() else None
            ft_c = [x for x in (ft0, ft_new) if x is not None]
            lt_c = [x for x in (lt0, lt_new) if x is not None]
            if not ft_c or not lt_c:
                # Empty chunk iterator with no prior state (possible under
                # timer-driven invocations): nothing to fold, emit nothing
                # rather than raise on min()/max() of an empty sequence.
                return
            ft, lt = min(ft_c), max(lt_c)
            self._n.update((n,))
            self._vm.update((vm,))
            self._ft.update((ft,))
            self._lt.update((lt,))
            self._types.clear()
            self._types.appendList([(t,) for t in sorted(types_new)])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [len(types_new)],
                    "first_ts": [pd.Timestamp(ft * 1000)],
                    "last_ts": [pd.Timestamp(lt * 1000)],
                    "value_micros": [vm],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_SessionStats(),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


def running_key_counts_tws(keyed: DataFrame, key_col: str = "key") -> DataFrame:
    """Per-key running counts on the Spark 4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` with composable typed
    state (ValueState/ListState/MapState + timers). State here is ONE
    ValueState long per key, so the state store holds exactly |keys| rows
    at steady state regardless of how long the stream runs — the property
    the continuous-trigger test asserts from query progress metrics.

    Requires the RocksDB state store provider (the only provider
    transformWithState supports); callers set
    ``spark.sql.streaming.stateStore.providerClass`` accordingly. ALSO
    requires an importable ``google.protobuf`` (the TWS driver worker
    speaks protobuf to the JVM state server), supplied by
    ``streaming/tws_env.ensure_protobuf`` where none is installed;
    ``tests/test_streaming.py::test_transform_with_state_running_counts``
    runs it, and skips only where neither protobuf source exists. The
    continuous-trigger proof runs on :func:`running_user_counts`
    (applyInPandasWithState needs no protobuf)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n_new = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            total = prev + n_new
            self._count.update((total,))
            yield pd.DataFrame({"key": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    return keyed.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_RunningCount(),
        outputStructType="key bigint, n_events bigint",
        outputMode="update",
        timeMode="none",
    )


#: gap-session operator constants: 30-minute inactivity gap
GAP_SESSION_MS = 30 * 60 * 1000
GAP_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp_ntz, "
    "session_end timestamp_ntz, n_events bigint"
)
GAP_STATE_SCHEMA = "s bigint, l bigint, n bigint"


def _gap_session_updates(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer with TIMER-driven emission: sessions that
    close INSIDE a batch (a later event starts a new one) are emitted
    from data; the final open session is emitted by the EVENT-TIME
    TIMEOUT when the watermark passes its gap — the state-timeout
    mechanism that only a timer can exercise (no later event ever
    arrives to close it)."""

    def frame(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "session_start": [pd.Timestamp(s * 1000) for s, _, _ in rows],
                "session_end": [pd.Timestamp(l * 1000) for _, l, _ in rows],
                "n_events": [n for _, _, n in rows],
            }
        )

    if state.hasTimedOut:
        s0, l0, n0 = state.get
        state.remove()
        yield frame([(s0, l0, n0)])
        return
    ts: list[int] = []
    for pdf in batches:
        # vectorized: the per-element python loop was interpreter cost in
        # the hot path (review)
        ts.extend((pdf["ts"].astype("int64") // 1000).tolist())
    ts.sort()
    if state.exists:
        s0, l0, n0 = state.get
    else:
        s0 = l0 = n0 = None
    gap_us = GAP_SESSION_MS * 1000
    closed: list[tuple[int, int, int]] = []
    late: list[int] = []
    for t in ts:
        if l0 is None:
            s0, l0, n0 = t, t, 1
        elif t > l0:
            # forward in time: the only case a single sorted batch hits
            if t - l0 <= gap_us:
                l0, n0 = t, n0 + 1
            else:
                closed.append((s0, l0, n0))
                s0, l0, n0 = t, t, 1
        elif t >= s0 - gap_us:
            # LATE but adjacent to the open session (inside its span or
            # within one gap before its start): merge without ever
            # regressing boundaries — the naive `l0 = t` assignment
            # emitted session_end < session_start and pulled the timer an
            # hour early (review; the sibling _count_updates' "merge,
            # don't replace" discipline)
            s0, n0 = min(s0, t), n0 + 1
        else:
            # LATE beyond the open session's horizon: its original
            # session may already be emitted, so retroactive cross-batch
            # merge is impossible with O(1) state — but late events in
            # the SAME batch gap-fold among themselves below (review:
            # two same-batch late events within one gap formed two
            # singleton sessions, diverging from the batch-twin oracle)
            late.append(t)
    if late:
        # `late` is in ascending ts order (ts itself is sorted, so
        # appended values ascend no matter how the horizon moves), so
        # one linear gap fold — the same rule as the main loop —
        # sessionizes them the way the batch oracle's global
        # gaps-and-islands would for the in-batch case.
        ls, ll, ln = late[0], late[0], 1
        for t in late[1:]:
            if t - ll <= gap_us:
                ll, ln = t, ln + 1
            else:
                closed.append((ls, ll, ln))
                ls, ll, ln = t, t, 1
        closed.append((ls, ll, ln))
    state.update((s0, l0, n0))
    # event-time timer in MILLIS: fires when the watermark passes the
    # session's gap horizon
    state.setTimeoutTimestamp(l0 // 1000 + GAP_SESSION_MS)
    # ONE frame per key per batch, never per session — a per-session
    # 1-row yield was a 3x constant-factor drag at sf0.1
    if closed:
        yield frame(closed)


def gap_sessions(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming gap sessionization on ``applyInPandasWithState`` with
    ``EventTimeTimeout``: the closed-by-data sessions stream out as the
    backlog folds, and each user's final OPEN session is flushed by its
    event-time TIMER once the watermark proves the gap elapsed. The
    other stateful operators here (running counts, session stats) never
    need timers because every emission is data-driven; this one is the
    canonical can't-do-it-without-timeouts shape.

    LATE-DATA CONTRACT (O(1) state per key, by design): a late event
    adjacent to the OPEN session (inside its span, or within one gap
    before its start) merges into it without regressing either boundary
    or the timer; late events beyond that horizon gap-fold AMONG
    THEMSELVES within the batch (two late events within one gap form one
    session, as the batch oracle would compute) but never merge
    retroactively across batches — their original session may already be
    emitted, and cross-batch merge requires the buffered-event state
    Spark's native ``session_window`` pays for. Test-pinned in all three
    directions (adjacent merge, same-batch late fold, cross-batch
    isolation)."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", watermark_delay)
    return keyed.groupBy("user_id").applyInPandasWithState(
        _gap_session_updates,
        outputStructType=GAP_OUTPUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


#: TTL eviction operator constants: evict a user's state after 2 hours of
#: event-time inactivity
TTL_MS = 2 * 60 * 60 * 1000
TTL_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, evicted boolean"
)


def user_counts_with_ttl_tws(events: DataFrame, ttl_ms: int = TTL_MS) -> DataFrame:
    """Per-user running counts with EVENT-TIME state TTL on
    ``transformWithStateInPandas`` — the state-hygiene shape every
    unbounded-key-space production pipeline needs (VERDICT r10 #7): a
    state store that only ever grows eventually OOMs a 100 TB stream; a
    TTL bounds it to the active-key working set.

    Mechanism (deterministic, so the proof test can drive it with data):
    every input batch re-arms an event-time TIMER at ``last_seen +
    ttl_ms`` (deleting the previously armed one — TWS timers don't
    overwrite); when the WATERMARK passes the horizon the timer fires,
    ``handleExpiredTimer`` emits a tombstone row (``evicted=true``,
    final count) and CLEARS the state — a later event from the same key
    starts from zero, which is the behavioral proof of eviction
    (tests/test_streaming.py pins it with a three-batch stream). The
    guard re-checks ``last_seen + ttl <= expiry`` so a timer that raced
    a re-arming batch never evicts fresh state.

    TWS also offers processing-time TTL natively
    (``getValueState(..., ttlDurationMs=...)``); the event-time route is
    used here because it is replayable — wall-clock TTL cannot be
    asserted deterministically in a test. Requires RocksDB provider +
    protobuf (streaming/tws_env.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TtlCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # n_events + last_seen event-time (ms) + the armed timer (ms)
            self._st = handle.getValueState(
                "ttl_counts", "n bigint, last_ms bigint, timer_ms bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n_new = 0
            last_ms = -1
            for pdf in rows:
                n_new += len(pdf)
                if len(pdf):
                    # resolution-independent epoch ms: TWS's Arrow path may
                    # deliver datetime64[ns] where applyInPandasWithState
                    # delivers [us] — the raw `astype(int64) // 1000` idiom
                    # silently yields us here and arms the timer ~1000x too
                    # far out (found by the eviction proof test)
                    batch_ms = int(
                        pdf["ts"].astype("datetime64[ms]").astype("int64").max()
                    )
                    last_ms = max(last_ms, batch_ms)
            if n_new == 0:
                return
            if self._st.exists():
                n0, l0, t0 = self._st.get()
                if t0 >= 0:
                    self._handle.deleteTimer(t0)
            else:
                n0, l0 = 0, -1
            n, last = n0 + n_new, max(l0, last_ms)
            horizon = last + ttl_ms
            self._handle.registerTimer(horizon)
            self._st.update((n, last, horizon))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "evicted": [False]}
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            expiry = expiredTimerInfo.getExpiryTimeInMs()
            if not self._st.exists():
                return
            n, last, _t = self._st.get()
            # guard: only evict if the state is really idle past its TTL
            # at this expiry (a raced re-arm moved the horizon forward)
            if last + ttl_ms <= expiry:
                self._st.clear()
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n_events": [n], "evicted": [True]}
                )

        def close(self) -> None:
            pass

    keyed = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", "10 minutes")
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TtlCounts(),
        outputStructType=TTL_OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="eventTime",
    )
