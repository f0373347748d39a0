"""Streaming multi-touch attribution with a growing click log.

The ingest twin of ``timeseries.events_attribution``: each arriving
micro-batch's PURCHASES are attributed at arrival against the click
touches seen so far (the click-log state plus the batch's own clicks),
emitting the per-(purchase, touch) split rows; the batch's clicks then
join the log. The channel report is a plain additive rollup over all
emitted split partitions (``attribution_report``).

At-arrival contract: a purchase is attributed against clicks that
ARRIVED no later than its own batch. Delivered in timestamp order
(every click precedes the purchases it can touch) this equals the
batch ``events_attribution`` EXACTLY — pinned in
tests/test_streaming_attribution.py. Out-of-order late clicks do not
retro-attribute already-emitted purchases: the correct serving-time
behavior (the money was attributed when the conversion landed), and
the documented divergence from an after-the-fact batch recompute —
the same honest-divergence style as the LSH/span index twins.

Replay idempotence: the click log AND the split sink are ``batch_id=``
sinks (``lake.write_batch_partition``), and the attribution join reads
the log through the lake's replay rule (``lake.read_earlier_batches``),
as streaming/dedup_index.py and span_index.py do: a replayed purchase
never meets a click that arrived after its first attempt.

State growth: the click log only ever matters within ATTR_WINDOW_DAYS
of incoming purchases, so the read prunes to the batch's window
(``ts >= min(purchase ts) - window``); at 100 TB the log would be
day-partitioned so that prune is partition elimination, not a row
filter.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.timeseries import (
    ATTR_WINDOW_DAYS,
    attribution_clicks,
    attribution_purchases,
    attribution_split,
)
from ..pipeline.lake import read_earlier_batches
from ..pipeline.lake import write_batch_partition as _write_batch_partition
from .jobs import run_micro_batches


def attribute_batch(
    batch_events: DataFrame, clicks_path: str, batch_id: int
) -> DataFrame:
    """Attribute this batch's purchases against the click log + the
    batch's own clicks; append the batch's clicks to their log
    partition. Returns the split frame
    ``(channel, purchase_id, attr_cents)``. The frame reads the log's
    earlier partitions lazily: consume it before the log is written
    again."""
    spark = batch_events.sparkSession
    bc = attribution_clicks(batch_events).localCheckpoint(eager=True)
    # checkpoint the purchase side too: the min(pts) bounds collect and
    # the attribution_split join would each re-scan the micro-batch
    # source for bp, a duplicate source read on the per-batch hot path
    # (bc one line up is checkpointed for the same reason)
    bp = attribution_purchases(batch_events).localCheckpoint(eager=True)

    clicks = bc
    # None = no click log yet (cold start); schema drift in an
    # existing log fails the read
    prior = read_earlier_batches(spark, clicks_path, batch_id)
    if prior is not None:
        # window prune: clicks older than any possible touch are
        # dead weight for THIS batch's join (they stay in the log
        # for replays of later batches)
        bounds = bp.agg(F.min("pts").alias("lo")).collect()
        if bounds and bounds[0]["lo"] is not None:
            prior = prior.where(
                F.col("ts")
                >= F.lit(bounds[0]["lo"])
                - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
            )
        clicks = prior.unionByName(bc)

    split = attribution_split(clicks, bp)
    _write_batch_partition(bc, clicks_path, batch_id)
    return split


def stream_attribution(
    events_stream: DataFrame,
    clicks_path: str,
    splits_path: str,
    checkpoint: str,
):
    """Start at-arrival attribution: per-batch split rows land in
    their ``batch_id`` partition of ``splits_path``; the click log
    grows at ``clicks_path``. Roll up with
    ``timeseries.attribution_report(lake.read_table_or_empty(spark,
    splits_path, schema))``, ``schema`` the split frame's DDL."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        split = attribute_batch(batch, clicks_path, batch_id)
        _write_batch_partition(split, splits_path, batch_id)

    return run_micro_batches(events_stream, handle, checkpoint)
