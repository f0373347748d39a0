"""Streaming anomaly scoring over replay-idempotent additive state.

The batch anomaly screen (``timeseries.events_anomaly_zscore``) needs
only the day-grain totals ``(event_type, day, sum cents)`` — and SUM
is additive across micro-batches, but NOT replay-idempotent: an
at-least-once source that re-delivers a batch would double-count.
The standard fix, demonstrated here: each micro-batch writes its own
partial day-grain aggregate into a ``batch_id=<n>`` partition via
dynamic partition overwrite — a replayed batch OVERWRITES its own
partition instead of appending, so the union over partitions is
exactly-once additive state regardless of delivery count. The report
then merges partitions by addition and scores with the identical
window plan the batch query uses (``timeseries.anomaly_from_daily``).

Contrast with streaming/funnel.py, whose MIN state is naturally
idempotent and needs no batch-id carve. Batch-vs-stream parity AND
replay idempotence are pinned in tests/test_streaming_trend.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.timeseries import _EPOCH, _cents, anomaly_from_daily
from ..pipeline.lake import read_table_or_empty, write_batch_partition
from .jobs import run_micro_batches


def batch_day_totals(events: DataFrame) -> DataFrame:
    """One micro-batch's partial day-grain totals."""
    return events.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.datediff(F.to_date("ts"), F.lit(_EPOCH).cast("date")).alias(
            "day_no"
        ),
    ).agg(F.sum(_cents("value")).cast("bigint").alias("day_cents"))


def stream_day_totals(
    events_stream: DataFrame, state_path: str, checkpoint: str
):
    """Start the stateful day-grain aggregation."""
    return run_micro_batches(
        events_stream,
        lambda b, i: write_batch_partition(batch_day_totals(b), state_path, i),
        checkpoint,
    )


# Cold start (no non-empty batch yet) reads the state as an empty frame
# of this schema, so both readouts behave like their batch queries over
# an empty events table.
_STATE_SCHEMA = (
    "event_type string, d date, day_no int, day_cents bigint,"
    " batch_id bigint"
)


def anomaly_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge the per-batch partials by addition and score — same
    output contract as the batch ``events_anomaly_zscore``."""
    state = read_table_or_empty(spark, state_path, _STATE_SCHEMA)
    daily = state.groupBy("event_type", "d", "day_no").agg(
        F.sum("day_cents").cast("bigint").alias("day_cents")
    )
    return anomaly_from_daily(daily)


def ewma_report(spark: SparkSession, state_path: str) -> DataFrame:
    """EWMA trend from the same merged day-grain state — one state
    table, two readouts (anomaly z² and smoothed trend), the payoff of
    keeping the smallest sufficient statistic instead of per-query
    state. Output contract matches the batch ``events_ewma_trend``
    minus the calendar-date column (state holds day numbers)."""
    from ..operators.timeseries import ewma_from_daily

    state = read_table_or_empty(spark, state_path, _STATE_SCHEMA)
    daily = state.groupBy("event_type", "day_no").agg(
        F.sum("day_cents").cast("bigint").alias("day_cents")
    )
    return ewma_from_daily(daily).drop("d")
