"""Streaming medallion: the reference's daily batch backfill re-expressed
as Structured Streaming (SURVEY.md §2.7 / §7 phase 4).

The reference emulates streaming with a driver-side loop of daily API
calls. Here the same bronze payload rows arrive as an unbounded file
stream and flow through the *identical* silver extraction plan
(pipeline/silver.py works unchanged on a streaming DataFrame — the
explode/arrays_zip/from_json chain is stateless), then a watermarked
tumbling daily window reproduces the gold aggregate incrementally.
Batch gold remains the oracle (tests/test_streaming.py parity).

At scale this is the always-on ingestion topology: new payload files
land → micro-batch flattens them → the day's aggregate updates; the
1-day watermark bounds state to ~2 open days per production type.

Ops note: AQE is disabled inside stateful streaming queries, so the
state-store partition count is pinned to ``spark.sql.shuffle.partitions``
at the first checkpoint — size it deliberately (it cannot be changed
without a new checkpoint).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline.config import DatasetSpec
from ..pipeline.lake import overwrite_partitions, upsert_table
from ..pipeline.silver import extract_timeseries
from .jobs import run_micro_batches

def bronze_stream_schema(key_column: str = "country") -> T.StructType:
    """Bronze schema for a dataset keyed by ``key_column``.

    The key column is per-dataset configuration ("country" for power,
    "market" for price — pipeline/config.py); a hardcoded country
    schema read the price table's market column back as all-NULL
    country and then crashed ``stream_silver`` with an unresolved
    market reference, so the streaming path silently only worked for
    the power dataset."""
    return T.StructType(
        [
            T.StructField(key_column, T.StringType()),
            T.StructField("date", T.StringType()),
            T.StructField("payload_json", T.StringType()),
            T.StructField("ingested_at", T.TimestampType()),
            T.StructField("source", T.StringType()),
        ]
    )


def read_bronze_stream(
    spark: SparkSession,
    bronze_dir: str,
    *,
    key_column: str = "country",
    max_files_per_trigger: int = 2,
) -> DataFrame:
    return (
        spark.readStream.schema(bronze_stream_schema(key_column))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(bronze_dir)
    )


def stream_silver(bronze_stream: DataFrame, dataset: DatasetSpec) -> DataFrame:
    """The batch silver plan applied to a stream — same code path."""
    return extract_timeseries(bronze_stream, dataset)


def write_gold_stream_to_lake(
    gold_stream: DataFrame,
    path: str,
    *,
    partition_cols: tuple[str, ...] = ("date", "production_type"),
    checkpoint_dir: str | None = None,
):
    """Incremental lake sink: every micro-batch's updated aggregates
    replace exactly the affected partitions (dynamic partition
    overwrite inside foreachBatch). Re-delivered micro-batches rewrite
    the same partitions with the same data → idempotent, preserving the
    engine's overwrite-refresh semantics (S6) at streaming granularity.

    ``partition_cols`` must cover the stream's aggregation key: update
    mode emits only the rows that changed in the micro-batch, so the
    overwrite granularity has to match the emitted-row granularity.
    Partitioning by ``date`` alone would wipe a date's previously
    written production_types whenever a day's data spans micro-batches
    with uneven type coverage (pinned by
    test_partial_day_micro_batches_keep_all_types).

    ``checkpoint_dir`` enables restart recovery from committed offsets;
    without it each run replays the whole source (still correct — the
    sink is idempotent — but not incremental across invocations).

    Returns the started StreamingQuery (caller awaits/stops).
    """
    return run_micro_batches(
        gold_stream,
        lambda b, _: overwrite_partitions(b, path, partition_cols),
        checkpoint_dir,
        output_mode="update",
    )


def stream_power_daily(silver_stream: DataFrame) -> DataFrame:
    """Incremental gold: watermarked tumbling daily window, same
    day-grain SUM as pipeline/gold.py::power_daily_by_type."""
    return (
        silver_stream.withWatermark("timestamp", "1 day")
        .groupBy(
            F.window("timestamp", "1 day").alias("win"),
            "production_type",
        )
        .agg(F.sum("value").alias("daily_net_production"))
        .select(
            F.to_date("win.start").alias("date"),
            "production_type",
            "daily_net_production",
        )
    )


def write_stream_merge_to_lake(
    record_stream: DataFrame,
    path: str,
    *,
    key_cols: tuple[str, ...],
    order_col: str,
    checkpoint_dir: str | None = None,
):
    """CDC-style streaming merge sink: each micro-batch is upserted
    into a keyed lake table — latest version per key wins, exactly the
    ``pipeline.lake.upsert_table`` semantics driven by a stream.

    The micro-batch is pre-deduplicated per key first (a batch can
    carry several versions of one key; only the newest needs to hit
    the merge), then merged. Replayed micro-batches re-apply the same
    upserts → idempotent, so at-least-once delivery from the source
    yields effectively-once lake state. This is the plain-parquet
    stand-in for Delta's ``MERGE INTO`` + Change Data Feed topology
    the reference's stack would use at scale.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from pyspark.sql import Window

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Deterministic keep-latest: order_col ties (duplicate CDC
        # records stamped in the same instant) must pick the SAME
        # winner on every delivery of the batch, or replay is not
        # idempotent — break ties by a hash of the whole row
        # (xxhash64 rejects MapType, so map columns are skipped —
        # same filter as functions/skew.py).
        hashable = [
            c for c, t in batch_df.dtypes if "map<" not in t.lower()
        ] or list(key_cols)
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(order_col), F.desc(F.xxhash64(*hashable))
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        upsert_table(
            batch_df.sparkSession, path, latest,
            key_cols=key_cols, order_col=order_col,
        )

    return run_micro_batches(record_stream, merge, checkpoint_dir)
