"""Stateful streaming operators — session windows and custom state.

The reference is batch/request-driven (SURVEY.md §2.14); these extend
the engine with the two stateful shapes a streaming deployment of the
same pipeline needs:

- :func:`session_user_agg` — per-key session windows
  (``F.session_window``). Declarative: Catalyst plans the session merge,
  the same expression runs in batch AND streaming (tested equal), and
  watermarks bound state.
- :func:`running_user_totals` — ``applyInPandasWithState``: arbitrary
  per-key state kept across micro-batches for logic session_window
  can't express (running totals emitted every batch, custom eviction).

Scale notes:
- session_window state is O(open sessions); the watermark closes and
  evicts sessions whose end < watermark. Keys are hash-partitioned, so
  state shards across executors — no driver bottleneck.
- applyInPandasWithState moves one Arrow batch per key-group per
  trigger through Python; keep the state row narrow (fixed-width
  numerics here) so the state store stays small and JVM<->Python
  transfer is bounded by the batch, not the history.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark._vendor import ensure_protobuf
from etl_weather_spark.functions.rounding import dsum, rnd

# transformWithState's state protocol needs google.protobuf; activate
# the vendored minimal runtime when the real package is absent. Runs at
# module import so Spark workers that unpickle a processor class from
# this module get the path bootstrap before the protocol client loads.
ensure_protobuf()

#: output schema of :func:`running_user_totals`
RUNNING_TOTALS_SCHEMA = (
    "user_id long, n_events long, total double, vmax double, batch_rows long"
)
#: state row kept per user across micro-batches
RUNNING_TOTALS_STATE = "n long, total double, vmax double"


def session_user_agg(
    events: DataFrame,
    *,
    gap: str = "2 hours",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user session aggregate: sessions split when the inter-event
    gap reaches ``gap``; ``session_end`` = last event + gap (Spark's
    session_window end semantics).

    One expression for batch and streaming: pass ``watermark`` when the
    input is a stream (append mode requires it; it also evicts closed
    sessions from the state store).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "vsum",
        )
    )


def _update_running_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's rows for one user into (n, total, vmax) state
    and emit the updated running totals once per trigger."""
    (user_id,) = key
    n, total, vmax = state.get if state.exists else (0, 0.0, float("-inf"))
    batch_rows = 0
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        batch_rows += len(pdf)
        n += len(vals)
        total += float(vals.sum())
        if len(vals):
            vmax = max(vmax, float(vals.max()))
    state.update((n, total, vmax))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "total": round(total, 2),
                "vmax": vmax if vmax != float("-inf") else None,
                "batch_rows": batch_rows,
            }
        ]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max)
    across micro-batches, one output row per user per trigger.

    ``applyInPandasWithState`` is the escape hatch when built-in
    windowed aggs can't express the state machine (here: totals
    re-emitted every trigger with the per-trigger row count — an
    anomaly-feed / metrics-push shape).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_totals,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop repeated ``event_id`` keys with
    bounded state (1-hour watermark on ``ts``).

    ``dropDuplicatesWithinWatermark`` keeps a key in the dedup state
    only until the watermark passes it — at 100 TB/day the state is
    O(keys per watermark window), not O(all keys ever), which is what
    makes exact dedup feasible on an unbounded stream (the streaming
    counterpart of queries.dedup_exact's fingerprint groupBy).
    """
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


class EwmaAnomalyProcessor:
    """StatefulProcessor for :func:`ewma_anomalies` (transformWithState,
    Spark ≥4.0 — the successor API to applyInPandasWithState: typed
    named state slots with optional TTL, timers, and initial state).

    Keeps one ValueState row (ewma, n) per user; each trigger folds the
    user's events in event-time order and emits rows flagged anomalous
    when the value deviates from the running EWMA by more than
    2 × the EWMA (after a warm-up of 3 events).
    """

    def __init__(self, alpha: float = 0.3):
        self.alpha = alpha
        self.threshold = 2.0
        self.min_n = 3

    def init(self, handle) -> None:
        self._state = handle.getValueState("ewma", "ewma double, n long")

    def handleInputRows(self, key, rows, timer_values):
        (user_id,) = key
        ewma, n = self._state.get() if self._state.exists() else (None, 0)
        out = []
        for pdf in rows:
            for _, r in pdf.sort_values("ts").iterrows():
                v = float(r["value"])
                is_anom = (
                    n >= self.min_n
                    and ewma is not None
                    and abs(v - ewma) > self.threshold * abs(ewma)
                )
                ewma = v if ewma is None else self.alpha * v + (1 - self.alpha) * ewma
                n += 1
                out.append((user_id, r["ts"], v, round(ewma, 6), bool(is_anom)))
        self._state.update((ewma, n))
        yield pd.DataFrame(
            out, columns=["user_id", "ts", "value", "ewma", "is_anomaly"]
        )

    def close(self) -> None:
        pass


def ewma_anomalies(events: DataFrame) -> DataFrame:
    """Per-user EWMA anomaly stream via ``transformWithStateInPandas``.

    Scale: state is one (ewma, n) row per user, sharded by the grouping
    hash; per-trigger work is the user's batch rows only. The Python
    loop runs per user-trigger over already-Arrow-batched rows — fine
    for alerting cadences; a numpy scan would replace it if triggers
    carry millions of rows per user.

    Environment: requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` (the TWS state protocol). When the real
    protobuf package is absent, the vendored minimal runtime
    (``etl_weather_spark/_vendor``) is activated by this module's
    import — the end-to-end test runs against the real state store
    either way; the processor logic is additionally unit-tested with a
    fake state handle.
    """
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            EwmaAnomalyProcessor(),
            outputStructType=(
                "user_id long, ts timestamp, value double, "
                "ewma double, is_anomaly boolean"
            ),
            outputMode="append",
            timeMode="none",
        )
    )


class TimerSessionProcessor:
    """StatefulProcessor: per-user session windows driven by EVENT-TIME
    TIMERS (transformWithState timeMode="eventTime") — the timer/expiry
    half of the TWS API that EwmaAnomalyProcessor's timeMode="none"
    path never exercises.

    State: a LIST of open sessions (start, last, n, vsum) per user —
    a list, not one row, because out-of-order arrival within the
    watermark's allowed lateness can hold several disjoint open
    sessions at once, and a late event may bridge two of them (Spark's
    own streaming session_window keeps exactly this multi-session
    state). Each batch merges the user's events into the open set by
    the standard interval sweep (sorted by start; merge while
    next.start − cur.last < gap). NOTHING is emitted inline: a session
    only closes when the WATERMARK passes last + gap — one event-time
    timer per open session, emitted in ``handleExpiredTimer`` — which
    is precisely F.session_window's append-mode emission rule, so the
    two operators agree even under reordering.

    Emitted sessions match F.session_window semantics: end = last
    event + gap. Scale: state is a handful of narrow rows + one timer
    per open session, hash-sharded by user.
    """

    def __init__(self, gap_ms: int = 7_200_000):
        self.gap_ms = gap_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._sessions = handle.getListState(
            "sessions", "start long, last long, n long, vsum double"
        )

    def _emit_df(self, user_id, sessions):
        return pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "session_start": pd.to_datetime(s[0], unit="ms"),
                    "session_end": pd.to_datetime(s[1] + self.gap_ms, unit="ms"),
                    "n_events": int(s[2]),
                    "vsum": round(float(s[3]), 2),
                }
                for s in sessions
            ]
        )

    def handleInputRows(self, key, rows, timer_values):
        open_sessions = [list(s) for s in self._sessions.get()]
        for pdf in rows:
            for ts, v in zip(pdf["ts"], pdf["value"]):
                if pd.isna(ts):
                    # NaT.value is -2^63: a null ts would mint a bogus
                    # session with a huge negative start and an
                    # instantly-expired timer. NULL event times carry
                    # no session mass (matches the KS paths' NULL rule).
                    continue
                ms = int(pd.Timestamp(ts).value // 1_000_000)
                open_sessions.append(
                    [ms, ms, 1, 0.0 if pd.isna(v) else float(v)]
                )
        if not open_sessions:
            # a key can arrive with only zero-row Arrow chunks (or all
            # null-ts rows) and no stored state — nothing to merge, no
            # timers to (re)register
            return
        open_sessions.sort()
        merged = [open_sessions[0]]
        for s in open_sessions[1:]:
            cur = merged[-1]
            if s[0] - cur[1] < self.gap_ms:  # gap not reached: same session
                cur[1] = max(cur[1], s[1])
                cur[2] += s[2]
                cur[3] += s[3]
            else:
                merged.append(s)
        self._sessions.put([tuple(s) for s in merged])
        # one timer per open session at its close horizon
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        for s in merged:
            self._handle.registerTimer(s[1] + self.gap_ms)
        yield from ()  # append-mode: emission happens only on timers

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803 - runtime calls by keyword
        (user_id,) = key
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        sessions = [list(s) for s in self._sessions.get()]
        closed = [s for s in sessions if s[1] + self.gap_ms <= expiry]
        kept = [s for s in sessions if s[1] + self.gap_ms > expiry]
        if kept:
            self._sessions.put([tuple(s) for s in kept])
        else:
            self._sessions.clear()
        if closed:
            yield self._emit_df(user_id, sorted(closed))

    def close(self) -> None:
        pass


#: output schema of :func:`timer_sessions`
TIMER_SESSIONS_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, vsum double"
)


def timer_sessions(
    events: DataFrame, *, gap: str = "2 hours", watermark: str = "0 seconds"
) -> DataFrame:
    """Session windows as a CUSTOM transformWithState operator with
    event-time timers — the imperative twin of :func:`session_user_agg`
    (their outputs are asserted equal in tests), for the cases the
    declarative form can't express: per-session side effects at close
    time, custom emit payloads, or state machines richer than
    merge-by-gap.

    Requires a watermark (event-time timers fire off it) and the
    RocksDB state store provider, like every TWS operator here.
    """
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            TimerSessionProcessor(gap_ms=gap_ms),
            outputStructType=TIMER_SESSIONS_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


class TypeCountsProcessor:
    """StatefulProcessor: per-user event-type counters in TWS MAP STATE
    (getMapState/updateValue/iterator) — the keyed-substate API surface
    ValueState processors never touch, and the natural fit when the
    per-key state is itself a growing dictionary (per-user per-type
    counters, per-session feature maps): the state store reads/writes
    ONE map entry per update instead of rewriting a whole serialized
    blob, which is what keeps hot keys cheap when the map is wide.

    Each trigger folds the user's rows into the map and emits one row
    per TOUCHED event type with the updated running count — an
    update-mode changelog whose latest row per (user, type) equals the
    batch groupBy count (asserted in tests).
    """

    def init(self, handle) -> None:
        self._counts = handle.getMapState("counts", "t string", "c long")

    def handleInputRows(self, key, rows, timer_values):
        (user_id,) = key
        delta: dict[str, int] = {}
        for pdf in rows:
            for t in pdf["event_type"]:
                delta[str(t)] = delta.get(str(t), 0) + 1
        out = []
        for t, d in sorted(delta.items()):
            cur = (
                self._counts.getValue((t,))[0]
                if self._counts.containsKey((t,))
                else 0
            )
            self._counts.updateValue((t,), (cur + d,))
            out.append((int(user_id), t, int(cur + d)))
        yield pd.DataFrame(out, columns=["user_id", "event_type", "n_events"])

    def close(self) -> None:
        pass


def user_type_counts(events: DataFrame) -> DataFrame:
    """Per-user per-event-type running counts via transformWithState
    MAP state — one output row per touched (user, type) per trigger;
    the latest row per pair is the exact running count (update-mode
    changelog). Scale: state is one map entry per (user, type), and a
    trigger touches only the entries its rows hit."""
    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeCountsProcessor(),
            outputStructType="user_id long, event_type string, n_events long",
            outputMode="update",
            timeMode="none",
        )
    )


class SeededTypeCountsProcessor(TypeCountsProcessor):
    """TypeCountsProcessor bootstrapped from a BATCH BACKFILL via TWS
    INITIAL STATE (handleInitialState): the migration path every
    batch→streaming cutover needs — historical per-(user, type) counts
    land in the state store before the first micro-batch, so streamed
    counts continue the batch totals instead of restarting at zero."""

    def handleInitialState(self, key, initialState, timerValues) -> None:
        # initialState: the user's rows of the seed relation
        # (event_type, n_events) — one map entry each
        for _, r in initialState.iterrows():
            self._counts.updateValue(
                (str(r["event_type"]),), (int(r["n_events"]),)
            )


def user_type_counts_seeded(events: DataFrame, seed: DataFrame) -> DataFrame:
    """Per-user per-type running counts CONTINUING a batch backfill:
    ``seed`` is a batch relation (user_id, event_type, n_events) —
    e.g. the output of the batch groupBy over the historical corpus —
    loaded into TWS map state via initial-state handling before the
    stream's first trigger."""
    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SeededTypeCountsProcessor(),
            outputStructType="user_id long, event_type string, n_events long",
            outputMode="update",
            timeMode="none",
            initialState=seed.groupBy("user_id"),
        )
    )
