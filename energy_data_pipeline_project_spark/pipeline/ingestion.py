"""Bronze ingestion: payloads → raw append-only-shaped bronze tables.

Semantics preserved from the reference
(/root/reference/src/ingestion/power_ingestion.py:31-79,
price_ingestion.py:30-78): one payload dict per day, serialized to a
``payload_json`` string with ``ensure_ascii=False``, explicit
StructType (never inferred), ``ingested_at`` audit timestamp and a
constant ``source`` tag, skip-write on empty input (H6), full
overwrite per run (S6).

Generalized: one generic function serves any ``DatasetSpec``; the
per-day fetch loop is a pluggable ``PayloadSource``.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline.config import DatasetSpec, PipelineConfig
from ..sources.payloads import PayloadSource
from .lake import (
    overwrite_partitions,
    read_for_rewrite,
    read_table,
    replace_table,
    table_path,
    write_table,
)

SOURCE_TAG = "energy-charts"


def bronze_schema(dataset: DatasetSpec) -> T.StructType:
    return T.StructType(
        [
            T.StructField(dataset.key_column, T.StringType(), nullable=False),
            T.StructField("date", T.StringType(), nullable=False),
            T.StructField("payload_json", T.StringType()),
        ]
    )


def _bronze_frame(
    spark: SparkSession,
    dataset: DatasetSpec,
    source: PayloadSource,
    days: list[str],
) -> DataFrame | None:
    """Fetch ``days`` on the driver and build the bronze frame with its
    audit columns; None when no day yielded a payload."""
    import pyarrow as pa

    dates, payloads = [], []
    for d in days:
        payload = source.fetch(dataset, d)
        if payload is not None:
            dates.append(d)
            payloads.append(json.dumps(payload, ensure_ascii=False))
    if not dates:
        return None
    # Built from Arrow, so no row is pickled through a Python worker.
    # createDataFrame makes one partition per record batch; the table is
    # cut into defaultParallelism batches, because the bronze file count
    # is the parallelism of silver's JSON explode. Coalescing bronze to
    # one file serializes that explode and measured 4x slower end to end.
    n, p = len(dates), spark.sparkContext.defaultParallelism
    batch = pa.RecordBatch.from_pydict(
        {
            dataset.key_column: [dataset.key_value] * n,
            "date": dates,
            "payload_json": payloads,
        }
    )
    cuts = sorted({i * n // p for i in range(p)} | {n})
    table = pa.Table.from_batches(
        [batch.slice(lo, hi - lo) for lo, hi in zip(cuts, cuts[1:])]
    )
    return (
        spark.createDataFrame(table, schema=bronze_schema(dataset))
        .withColumn("ingested_at", F.current_timestamp())
        .withColumn("source", F.lit(SOURCE_TAG))
    )


def ingest_dataset(
    spark: SparkSession,
    config: PipelineConfig,
    dataset: DatasetSpec,
    source: PayloadSource,
) -> DataFrame | None:
    """Fetch every backfill day, build the bronze frame, write it.

    Returns the written DataFrame, or None when no day yielded a
    payload (empty-input guard: nothing is written, any previous
    bronze table is left untouched).
    """
    df = _bronze_frame(
        spark, dataset, source, [day.isoformat() for day in config.dates()]
    )
    if df is None:
        return None
    write_table(
        df,
        table_path(config.lake_root, "bronze", dataset.name),
        config.table_format,
    )
    return df


def ingest_dataset_distributed(
    spark: SparkSession,
    config: PipelineConfig,
    dataset: DatasetSpec,
    source: PayloadSource,
    *,
    days_per_task: int = 32,
) -> DataFrame | None:
    """Executor-side bronze fetch: the scale path for backfills.

    The reference fetches one day at a time in a driver loop
    (/root/reference/src/main.py:47-71) — at 100 TB / multi-year
    backfills that loop is the ingest bottleneck. Here the
    (dataset, day) task list is partitioned across executors and each
    partition runs the fetch inside ``mapInPandas``: the
    ``PayloadSource`` is pickled into the closure (both sources are
    plain-data objects), network calls happen executor-side in
    parallel, and rows flow straight into the bronze write without
    transiting the driver.

    Same bronze contract as ``ingest_dataset``: empty-input guard
    (nothing written when no day yields a payload), identical schema,
    audit columns, overwrite write. The fetched frame is
    ``localCheckpoint``ed (lineage cut, not best-effort caching) so
    the guard's count and the write read the same materialized fetch
    — a recompute that would re-hit the API cannot happen.
    """
    import math

    import pandas as pd

    if days_per_task < 1:
        # 0 crashed as ZeroDivisionError below; a negative silently
        # collapsed a multi-year backfill into ONE serial fetch task
        # (the DSv2 reader validates the same knob)
        raise ValueError(f"days_per_task must be >= 1, got {days_per_task!r}")
    days = [d.isoformat() for d in config.dates()]
    if not days:
        return None
    n_part = max(1, math.ceil(len(days) / days_per_task))
    tasks = spark.createDataFrame(
        [(d,) for d in days], "date string"
    ).repartition(n_part)

    key_column, key_value = dataset.key_column, dataset.key_value

    def fetch_partition(it):
        for pdf in it:
            rows = []
            for d in pdf["date"]:
                payload = source.fetch(dataset, d)
                if payload is None:
                    continue
                rows.append(
                    (key_value, d, json.dumps(payload, ensure_ascii=False))
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=[key_column, "date", "payload_json"]
                )

    # localCheckpoint(eager=True), not persist(): persist is
    # BEST-EFFORT — an evicted block or lost executor re-runs the
    # mapInPandas partition and re-hits the API mid-write, so the
    # written table could differ from what the empty-guard counted.
    # Checkpointing cuts the lineage entirely: the count
    # and the write both read materialized blocks, and a recompute is
    # impossible (an executor loss fails loudly instead of silently
    # refetching — on a cluster, point setCheckpointDir at reliable
    # storage and use checkpoint() to survive that too).
    fetched = tasks.mapInPandas(
        fetch_partition, schema=bronze_schema(dataset)
    ).localCheckpoint(eager=True)
    if fetched.count() == 0:
        return None
    df = fetched.withColumn(
        "ingested_at", F.current_timestamp()
    ).withColumn("source", F.lit(SOURCE_TAG))
    path = table_path(config.lake_root, "bronze", dataset.name)
    write_table(df, path, config.table_format)
    # return the on-disk frame: actions on it re-scan parquet, never
    # re-run the fetch (the mapInPandas lineage would re-hit the API)
    return read_table(spark, path, config.table_format)


def ingest_dataset_incremental(
    spark: SparkSession,
    config: PipelineConfig,
    dataset: DatasetSpec,
    source: PayloadSource,
) -> DataFrame | None:
    """Backfill only the MISSING days of a date-partitioned bronze
    table.

    The reference re-fetches and rewrites the entire backfill range
    every run (power_ingestion.py:31-79 full overwrite). At scale the
    bronze table spans years and a daily run must touch one day: this
    variant diffs the config's target dates against the days already
    on disk (a column-pruned scan of the `date` partition column —
    partition listing, no payload IO), fetches only the gap, and
    writes with dynamic partition overwrite so existing days are
    untouched. Running it twice is a no-op; running it after a full
    ingest fills only holes. Returns the frame of newly written days
    (None when the table is already complete or nothing fetched).
    """
    import os

    path = table_path(config.lake_root, "bronze", dataset.name)
    target = [d.isoformat() for d in config.dates()]
    # the lake read heals a table parked by a crashed migration swap;
    # None means first run: no table yet
    old = read_for_rewrite(spark, path, config.table_format)
    existing = set()
    if old is not None:
        # partition-column values are type-inferred as DATE on read;
        # normalize to ISO strings for the set diff. Read errors on an
        # EXISTING table must propagate — silently treating a corrupt
        # or transiently-unreadable table as "no days yet" would
        # re-write all partitions alongside the old files and
        # double-count rows forever after.
        existing = {
            r["d"]
            for r in old.select(F.col("date").cast("string").alias("d"))
            .distinct()
            .collect()
        }
    missing = [d for d in target if d not in existing]
    if not missing:
        return None

    df = _bronze_frame(spark, dataset, source, missing)
    if df is None:
        return None
    # Legacy layout guard: a table previously written UNPARTITIONED
    # (plain ingest_dataset) would keep its root-level files alongside
    # new date= dirs and double-read. Migrate it once: union old rows
    # with the new days and rewrite fully partitioned.
    legacy = existing and not any(
        e.startswith("date=") for e in os.listdir(path)
    )
    if legacy:
        # the new days are by construction absent from the legacy
        # table (missing = target - existing), so the union is
        # duplicate-free without filtering
        replace_table(
            old.unionByName(df), path, config.table_format, ("date",)
        )
        return df

    # Only the day-partitions present in `df` are replaced; every other
    # day's files are untouched. This is the per-day idempotent refresh
    # the reference's full overwrite becomes at scale.
    overwrite_partitions(df, path, ("date",), config.table_format)
    return df
