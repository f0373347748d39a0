"""Custom stateful streaming via Spark 4's ``transformWithStateInPandas``.

The successor API to ``applyInPandasWithState`` (streaming/stateful.py
keeps the classic formulation): state is a set of NAMED, TYPED handles
(ValueState / ListState / MapState, optional TTL) owned by a
``StatefulProcessor`` object instead of one opaque tuple, so operators
compose state the way code composes fields.

``running_user_totals`` maintains per-user lifetime counters (event
count, exact value cents) in a ValueState and emits the updated totals
for every user seen in a micro-batch — the classic streaming
"customer 360" rollup. Exactness: cents arithmetic in int64, so the
streamed totals equal the batch aggregate bit-for-bit
(tests/test_streaming.py::test_tws_running_totals_match_batch).

Scale: state is one small row per user, partitioned by the grouping
key across executors; no watermark is required because the state never
grows past |users| (for unbounded key spaces add
``ttlDurationMs`` on the ValueState — the handle supports it natively).

Environment note: executing this operator needs ``google.protobuf``
(the Python worker talks to the state server over protobuf); this
container ships a broken protobuf install, so the parity test is
skip-gated exactly like the Delta-format probe
(tests/test_stateful_streaming.py::test_tws_running_totals_match_batch)
and goes green wherever protobuf exists.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..functions import money

OUTPUT_SCHEMA = "user_id long, n_events long, value_cents long"


class RunningUserTotals(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", "n_events long, value_cents long"
        )

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        n, cents = 0, 0
        for pdf in rows:
            n += len(pdf)
            # exact: round to cents per event, sum as int64. HALF-UP
            # (away from zero) to match Spark's ROUND in the batch
            # aggregate this operator is pinned against — pandas
            # .round() is half-EVEN and diverges on exact .5 cents.
            # Mask the SAME bounded domain as the batch twin's guarded
            # cents template (functions/money.CENTS_TPL): NaN (a NULL
            # value arrives as NaN here), ±Inf, AND out-of-domain
            # finite magnitudes |x| > CENTS_ABS_MAX all become NULL —
            # floor(NaN+0.5).astype('int64') is INT64_MIN garbage,
            # and an in-range-for-float but out-of-cents-domain
            # reading (1e15) summed here while the batch side NULLs it
            # would silently corrupt the lifetime ValueState forever.
            import numpy as np

            s = pdf["value"]
            v = (
                s.where(np.isfinite(s) & (s.abs() <= money.CENTS_ABS_MAX))
                .dropna()
                * 100
            )

            half_up = np.sign(v) * np.floor(np.abs(v) + 0.5)
            cents += int(half_up.astype("int64").sum())
        prev = self._totals.get()
        if prev is not None:
            n += int(prev[0])
            cents += int(prev[1])
        self._totals.update((n, cents))
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)],
                "n_events": [n],
                "value_cents": [cents],
            }
        )

    def close(self) -> None:
        pass


def running_user_totals(events: DataFrame) -> DataFrame:
    """events stream → per-user lifetime (n_events, value_cents),
    re-emitted whenever a micro-batch touches the user.

    Anonymous (NULL user_id) events are excluded: a lifetime rollup
    has no identity to accumulate under, and the NULL group's key
    reaches the handler as None, where ``int(user_id)`` would kill the
    stream (the engagement-frame posture of events_dau_mau; the parity
    test's batch aggregate carries the same filter)."""
    import pyspark.sql.functions as F

    return events.where(
        F.col("user_id").isNotNull()
    ).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningUserTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
