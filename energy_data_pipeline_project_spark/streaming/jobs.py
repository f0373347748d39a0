"""Structured Streaming jobs mirroring the batch operators.

The reference has no streaming — its "streaming-ness" is a driver-side
batch loop over days (SURVEY.md §2.7). This module is the engine's
streaming extension: the same event-shaped data as an unbounded
stream, with watermarks for late data and windowed/stateful
aggregations whose results must equal the batch operators
(stream-batch parity is the test oracle — tests/test_streaming.py).

Jobs:

- ``windowed_counts``    — tumbling daily windows (batch twin: the
  day-grain groupBy aggregations, A1/A2 incrementally).
- ``sliding_avg``        — 1h windows sliding every 30min.
- ``session_counts``     — ``session_window`` with a 30-minute gap
  (batch twin: events_sessionize's lag-based gap detection).

Late-data policy: watermark 1 hour — rows later than (max event time
− 1h) are dropped from open windows; at 100 TB the watermark bounds
state size per key, which is what makes these aggregations runnable
forever.

Stream starts: ``run_to_memory`` (memory sink, for parity checks) and
``run_micro_batches``, the one foreachBatch starter, which alone owns
the empty-trigger guard, the availableNow trigger and the checkpoint
option.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    ``maxFilesPerTrigger`` keeps micro-batches bounded so a backlog
    replays incrementally instead of as one giant batch.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )


def windowed_counts(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            F.to_date("win.start").alias("event_date"),
            "event_type",
            "n",
            "avg_value",
        )
    )


def windowed_value_histogram(events: DataFrame) -> DataFrame:
    """Streaming twin of the daily stage of
    ``timeseries.events_quantile_histogram``: per (day, series) integer
    histogram bins maintained incrementally under the watermark. The
    emitted sketch is mergeable by pure addition — exactly what the
    batch weekly rollup does — so day sketches stream out while weekly
    quantiles stay a cheap downstream batch query. State per window is
    O(series x bins), bounded by the bin domain, never by row count."""
    from ..operators.timeseries import HIST_BIN_WIDTH

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 day").alias("win"),
            "event_type",
            F.floor(F.col("value") / HIST_BIN_WIDTH)
            .cast("bigint")
            .alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.to_date("win.start").alias("d"), "event_type", "bin", "cnt"
        )
    )


def sliding_avg(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Stateful session windows: a session closes after a 30-min gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: at-least-once delivery → exactly-once
    rows (batch twin: dropDuplicates / the dedup_exact operator on a
    content hash).

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key
    and — unlike plain ``dropDuplicates`` on a stream — EVICTS entries
    once the watermark passes them, so state stays bounded forever.
    The guarantee is correspondingly scoped: a duplicate arriving more
    than the watermark delay after its original is re-emitted. Dedup
    on a content hash instead of event_id by hashing upstream
    (``F.md5(payload)``) — the operator only sees key columns.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Daily distinct users on a stream, exactly — via two chained
    stateful stages, both watermark-bounded.

    COUNT(DISTINCT) is not directly available in streaming aggregation,
    and the batch trick (dedup then count) needs TWO stateful operators
    back to back: ``dropDuplicatesWithinWatermark`` on the
    (window-day, user) grain evicts each key once the watermark passes
    its day, then a windowed count over the deduped stream counts one
    row per (day, user). Spark 3.4+ supports chaining these (multiple
    stateful operators in append mode); state is bounded by active
    days x users-per-day, not history. The approximate alternative at
    extreme cardinality is approx_count_distinct over the same window
    (one stage, HLL-sized state) — exactness is the point here, so the
    batch twin (events_daily-style distinct) can hash-verify parity.
    """
    # The dedup delay must span a FULL DAY, not the pipeline's 1h
    # lateness bound: dropDuplicatesWithinWatermark only guarantees
    # dedup of events whose timestamps differ by less than the delay,
    # and two same-day events can be up to 24h apart. With the 1h
    # delay, a (day, user) key was evicted an hour after the user's
    # first event and a later same-day event re-emitted — silently
    # over-counting n_users. The cost of exactness is
    # day-grain state lifetime and day-close emission lag; the cheap
    # alternative at extreme cardinality stays approx_count_distinct.
    # NULL user_ids must not count as a user: dropDuplicatesWithinWatermark
    # groups NULL keys together and keeps one row per (day, NULL), and the
    # downstream count('*') would count it — while the batch twin's
    # countDistinct(user_id) skips NULLs, a silent +1 per affected day.
    deduped = (
        events.where(F.col("user_id").isNotNull())
        .select(
            F.col("ts"),
            F.to_date("ts").alias("event_date"),
            "user_id",
        )
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_date", "user_id"])
    )
    return (
        deduped.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*").alias("n_users"))
        .select(F.to_date("win.start").alias("event_date"), "n_users")
    )


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into an
    in-memory table and return the batch result."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = sdf.sparkSession
    return spark.table(name)


def run_micro_batches(
    stream: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint: str | None,
    *,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start ``stream`` to completion (availableNow), calling
    ``handle(batch, batch_id)`` for each micro-batch that holds rows;
    every foreachBatch stream in the package starts here.

    Spark hands foreachBatch a 0-row batch for an empty source file
    and for a batch filtered down to nothing. One ``isEmpty()`` skips
    it, so no handler screens, serves, merges or writes an empty frame
    (a serving batch would still build its LUT and scan the whole code
    frame to write no rows). ``checkpoint`` None runs without restart
    recovery: each run replays the whole source. Returns the started
    query; the caller awaits or stops it."""

    def guarded(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            handle(batch, batch_id)

    writer = (
        stream.writeStream.foreachBatch(guarded)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


CONVERSION_WINDOW = "30 minutes"


def _conversion_interval_join(events: DataFrame, how: str) -> DataFrame:
    """Watermarked click/purchase sides + the interval join condition —
    the ONE spelling both the inner (click_purchase_conversions) and
    left-outer (click_conversion_outcomes) forms build on, so a
    watermark or window change lands once."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {CONVERSION_WINDOW}
            """
        ),
        how,
    )


def click_purchase_conversions(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click joined to the same
    user's purchases within the next 30 minutes (conversion
    attribution).

    Both sides carry watermarks and the join condition bounds purchase
    time relative to click time, so Spark can evict join state: a
    click older than watermark + 30min can never match again and is
    dropped. Without the time bound a stream-stream inner join would
    buffer both streams forever — the interval IS the scale design.

    Batch twin: the same range join on static frames
    (tests/test_streaming.py::test_stream_stream_join_parity).
    """
    joined = _conversion_interval_join(events, "inner")
    # integer-micros gap, matching the batch events_conversion_join
    # operator exactly (unix_timestamp floors per-timestamp, which
    # differs on sub-second data)
    gap = F.expr(
        "(unix_micros(purchase_ts) - unix_micros(click_ts)) DIV 1000000"
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        gap.cast("long").alias("gap_seconds"),
    )


# Static dimension used by the stream-static enrichment demo: event
# type -> (category, unit value-weight in cents). In production this is
# a lakehouse dim table re-read per micro-batch if configured, or a
# broadcast snapshot.
TYPE_DIM_ROWS = [
    ("click", "engagement", 1),
    ("view", "engagement", 1),
    ("signup", "conversion", 50),
    ("purchase", "conversion", 100),
    ("error", "ops", 0),
]


def type_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        TYPE_DIM_ROWS, "event_type string, category string, weight_cents int"
    )


def enrich_with_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static inner join: each event row enriched with its type's
    category and weight from a static dimension.

    Stream-static joins are STATELESS on the stream side — no
    watermark, no join state, no eviction problem: every micro-batch
    joins against the (broadcast) static frame and forgets it.  That
    makes this the cheapest join shape in Structured Streaming and the
    right one for dimension enrichment; only stream-stream joins need
    the interval-bounded state design.  The explicit ``broadcast()``
    keeps the per-batch plan a map-side hash join — no shuffle of the
    stream at any rate.

    Batch twin: the identical function applied to a static events frame
    (tests/test_streaming.py::test_stream_static_enrich_parity).
    """
    from ..functions.money import cents as _cents

    # non-finite-hardened cents (functions/money.py): one NaN reading
    # in the stream must weight as NULL, not abort the micro-batch
    weighted = F.col("weight_cents").cast("bigint") * _cents("value")
    return events.join(F.broadcast(dim), "event_type").select(
        "event_id",
        "event_type",
        "category",
        weighted.alias("weighted_cents"),
    )


def click_conversion_outcomes(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, with its
    converting purchase where one exists and NULLs where none does.

    The outer side is the part inner joins can't express: "clicks that
    did NOT convert" is the retargeting audience. Semantics under
    watermarks: a null-extended row for an unmatched click is emitted
    only once the watermark passes click_ts + window (before that a
    matching purchase could still arrive), so outer results trail the
    watermark by design — the batch twin emits them immediately. Same
    bounded state as the inner form: both sides watermark, and the
    interval condition lets eviction drop clicks older than
    watermark + window.
    """
    joined = _conversion_interval_join(events, "leftOuter")
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("purchase_id").isNotNull()).alias("converted"),
    )
