"""Streaming anomaly state: per-batch partial day totals in
batch_id partitions must (a) reproduce the batch z-scores exactly
when merged, and (b) be replay-idempotent — re-writing a batch's
partition changes nothing."""

from __future__ import annotations

from energy_data_pipeline_project_spark.operators.timeseries import QUERIES
from energy_data_pipeline_project_spark.pipeline.lake import write_batch_partition
from energy_data_pipeline_project_spark.sources.tables import load_table
from energy_data_pipeline_project_spark.streaming.trend import (
    anomaly_report,
    batch_day_totals,
    stream_day_totals,
)

from .conftest import SF_SMOKE


def _rows(df):
    return {
        (r["event_type"], r["d"], r["day_cents"], r["z_sign"], r["z_sq_bp"])
        for r in df.collect()
    }


def test_streamed_anomaly_matches_batch_and_is_replay_idempotent(
    spark, tmp_path_factory
):
    src = str(tmp_path_factory.mktemp("events-trend"))
    state = str(tmp_path_factory.mktemp("trend-state")) + "/day_totals"
    ckpt = str(tmp_path_factory.mktemp("trend-ckpt"))

    events = load_table(spark, SF_SMOKE, "events")
    events.repartition(5).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = stream_day_totals(stream, state, ckpt)
    q.awaitTermination()

    batch = _rows(QUERIES["events_anomaly_zscore"](spark, SF_SMOKE))
    streamed = _rows(anomaly_report(spark, state))
    assert streamed == batch and batch

    # replay: re-deliver a batch into partition 0 — the dynamic
    # overwrite replaces that partition, so delivering the SAME data
    # any number of times converges to one stable state
    # deterministic subset (LIMIT without order can vary per action)
    some = spark.read.parquet(src).where("event_id % 20 = 0")
    write_batch_partition(batch_day_totals(some), state, 0)
    first = _rows(anomaly_report(spark, state))
    write_batch_partition(batch_day_totals(some), state, 0)
    write_batch_partition(batch_day_totals(some), state, 0)
    assert _rows(anomaly_report(spark, state)) == first


def test_streamed_ewma_matches_batch(spark, tmp_path_factory):
    """One state table, second readout: the EWMA report over the
    merged day-grain state must equal the batch events_ewma_trend
    exactly (additive state + deterministic integer kernel)."""
    from energy_data_pipeline_project_spark.streaming.trend import (
        ewma_report,
    )

    src = str(tmp_path_factory.mktemp("events-ewma"))
    state = str(tmp_path_factory.mktemp("ewma-state")) + "/day_totals"
    ckpt = str(tmp_path_factory.mktemp("ewma-ckpt"))

    events = load_table(spark, SF_SMOKE, "events")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_day_totals(stream, state, ckpt)
    q.awaitTermination()

    streamed = {
        (r["event_type"], r["day_cents"], r["ewma_millicents"])
        for r in ewma_report(spark, state).collect()
    }
    batch = {
        (r["event_type"], r["day_cents"], r["ewma_millicents"])
        for r in QUERIES["events_ewma_trend"](spark, SF_SMOKE).collect()
    }
    assert streamed == batch and batch
