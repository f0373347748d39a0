"""Custom stateful streaming operator via ``applyInPandasWithState``.

``sessionize_with_state`` maintains per-user session state (event
count, session start, last-seen time) across micro-batches and emits
one row per *closed* session — sessions close after a 30-minute gap
(detected in-batch) or when the event-time timeout fires (watermark
passed last_seen + gap with no new data).

This is the escape hatch for stateful semantics Spark's built-in
windows can't express (here: emitting rich per-session summaries —
duration, event count, first/last values — rather than windowed aggs).
State per user is the open session plus at most watermark/gap parked
earlier runs (see STATE_SCHEMA); the watermark bounds both state size
and timeout latency, which is what keeps it runnable forever at
100 TB/day event volumes.

Batch twin for testing: the lag/gap sessionizer
(operators/relational.py::events_sessionize).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 30 * 60

# State = the OPEN session (greatest start) plus zero or more PARKED
# earlier runs. A run separated from the open session by more than a
# gap may still be bridged into it by a late in-watermark event (gaps
# are transitive), so it cannot close before the watermark passes its
# last event + gap — emitting it immediately diverged from the batch
# twin when the bridge arrived in a later micro-batch.
# Parked runs are bounded by watermark_delay / gap per user (≤ 2 for
# the 1h/30min defaults).
#
# UPGRADE NOTE (this schema grew from 3 to 6 fields): Spark's
# state store pins the state schema in checkpoint metadata and
# refuses to restore a stream whose STATE_SCHEMA no longer matches
# (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE, raised JVM-side before
# any Python handler runs — a legacy 3-field tuple can never reach
# _load_runs, so there is deliberately no migration branch there;
# the loud failure is pinned by test_stateful_streaming.py::
# test_state_schema_upgrade_fails_loudly_not_silently). Upgrading a
# RUNNING sessionizer across a state-schema change therefore needs a
# fresh checkpointLocation; in-flight open sessions are lost unless
# replayed, so either re-read the source from an earlier offset (the
# watermark bounds how far back matters: delay + gap) or accept one
# boundary session split at cutover.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start", T.DoubleType()),  # epoch seconds
        T.StructField("last_seen", T.DoubleType()),
        T.StructField("parked_n", T.ArrayType(T.LongType())),
        T.StructField("parked_start", T.ArrayType(T.DoubleType())),
        T.StructField("parked_last", T.ArrayType(T.DoubleType())),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _load_runs(state: GroupState) -> list[list]:
    """State → [[n, start, last], ...] runs, parked first, open last."""
    n, start, last, pn, ps, pl = state.get
    runs = [
        [int(cn), float(cs), float(cl)]
        for cn, cs, cl in zip(pn or [], ps or [], pl or [])
    ]
    runs.append([int(n), float(start), float(last)])
    return runs


def _sessionize_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    cols = ["user_id", "n_events", "duration_s"]

    if state.hasTimedOut:
        # the timeout fires when the watermark passes the OPEN run's
        # last + gap; every parked run ends more than a gap earlier,
        # so all of them are expired too — close everything
        closed = [
            (user_id, r[0], r[2] - r[1]) for r in _load_runs(state)
        ]
        state.remove()
        yield pd.DataFrame(closed, columns=cols)
        return

    runs = _load_runs(state) if state.exists else []
    # pd.notna guard: a NULL event time arrives HERE as NaT — Spark's
    # watermark does NOT filter NULL event-time rows before the
    # stateful handler — and NaT.timestamp() raises, killing the
    # stream AND poisoning the checkpoint (the restart replays the
    # same batch into the same crash). An untimestamped event cannot
    # place in any session; it is dropped like the batch twin's
    # to_date(NULL) group.
    ts = sorted(
        t.timestamp()
        for pdf in batches
        for t in pd.to_datetime(pdf["ts"])
        if pd.notna(t)
    )
    runs.extend([1, t, t] for t in ts)
    if not runs:
        # every event in the trigger was untimestamped and no state
        # exists: nothing to session — an empty TYPED yield, NOT a
        # state update (merged[-1] below would IndexError)
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "n_events": pd.Series([], dtype="int64"),
                "duration_s": pd.Series([], dtype="float64"),
            }
        )
        return

    # Interval-gap merge: session merging is transitive (an event at
    # start-35min plus one at start-20min both join a session starting
    # at `start` under a 30-min gap), and a late
    # in-watermark event may BRIDGE previously separate runs, even
    # across micro-batches. Sorting every run (parked sessions, the
    # open session, new singleton events) by start and merging where
    # next.start - cur.last <= gap is exactly the batch twin's
    # semantics: runs are internally gap-free, an overlapping run is
    # within a gap of some member by construction, and chains collapse
    # transitively left-to-right.
    runs.sort(key=lambda r: (r[1], r[2]))
    merged: list[list] = []
    for r in runs:
        if merged and r[1] - merged[-1][2] <= SESSION_GAP_SECONDS:
            merged[-1][0] += r[0]
            merged[-1][2] = max(merged[-1][2], r[2])
        else:
            merged.append(list(r))

    # The LAST run stays open. An earlier run closes only once the
    # watermark passes its last event + gap — before that, a late
    # event in [watermark, run.last + gap] could still chain into it;
    # emitting it early diverges from the batch twin. The
    # not-yet-expired remainder parks in state.
    wm_s = state.getCurrentWatermarkMs() / 1000.0
    open_run = merged[-1]
    closed = []
    parked = []
    for r in merged[:-1]:
        if r[2] + SESSION_GAP_SECONDS < wm_s:
            closed.append((user_id, r[0], r[2] - r[1]))
        else:
            parked.append(r)

    state.update(
        (
            open_run[0],
            open_run[1],
            open_run[2],
            [r[0] for r in parked],
            [r[1] for r in parked],
            [r[2] for r in parked],
        )
    )
    # event-time timeout: close everything once the watermark passes
    # the open run's last_seen + gap. On backlog replay the watermark
    # may already be beyond that point — a timeout timestamp must not
    # be in the past, so clamp to just after the current watermark.
    timeout_ms = max(
        int((open_run[2] + SESSION_GAP_SECONDS) * 1000),
        state.getCurrentWatermarkMs() + 1,
    )
    state.setTimeoutTimestamp(timeout_ms)
    yield pd.DataFrame(closed, columns=cols)


def sessionize_with_state(events: DataFrame) -> DataFrame:
    """events (streaming, with ts watermark applied upstream) →
    closed-session summaries."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
