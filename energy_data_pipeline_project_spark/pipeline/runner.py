"""Medallion pipeline runner: bronze → silver → gold, materialized per
layer.

Layer hand-off is materialization on disk (each stage's output table
is the next stage's scan), the reference's checkpoint-like property
(SURVEY.md §3.1) kept deliberately: stages are independently
re-runnable and a failed gold build never corrupts silver. Every write
is an idempotent full overwrite.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs
from ..sources.payloads import LocalJsonSource, PayloadSource
from . import gold as G
from .config import PipelineConfig
from .ingestion import ingest_dataset, ingest_dataset_distributed
from .lake import read_table, table_path, write_table_observed
from .silver import extract_timeseries, extract_timeseries_with_quarantine


@dataclass
class PipelineResult:
    bronze: dict[str, DataFrame] = field(default_factory=dict)
    silver: dict[str, DataFrame] = field(default_factory=dict)
    gold: dict[str, DataFrame] = field(default_factory=dict)
    # Write-pass metrics per silver/gold table (Observation API): row
    # count + timestamp-null count observed DURING each write — the
    # reference's re-scan verification (main.py:88-101) for free.
    observed: dict[str, dict] = field(default_factory=dict)
    # Wall seconds of each layer that ran ("bronze", "silver", "gold"):
    # fetch + build + write + read-back.
    layer_s: dict[str, float] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        out = {}
        for layer in ("bronze", "silver", "gold"):
            for name, df in getattr(self, layer).items():
                out[f"{layer}/{name}"] = df.count()
        return out


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    source: PayloadSource | None = None,
    *,
    distributed_fetch: bool = False,
    quarantine: bool = False,
) -> PipelineResult:
    """``distributed_fetch`` switches bronze ingestion from the
    reference's driver-side per-day loop to the executor-side
    mapInPandas fetch (ingest_dataset_distributed) — same bronze
    contract, parallel fetch. Use it when the backfill spans more days
    than a driver loop should serialize.

    ``quarantine=True`` splits malformed bronze payloads into a
    ``silver/<name>_quarantine`` table (full bronze row + reason)
    instead of letting them silently produce zero silver rows — the
    policy a production engine needs where the reference would
    crash or drop data."""
    apply_runtime_confs(spark)
    source = source or LocalJsonSource()
    fmt = config.table_format  # each lake IO call resolves "auto"
    result = PipelineResult()

    # bronze: fetch + persist raw payloads (empty-input guard H6: a
    # dataset with no payloads writes nothing and is skipped downstream)
    ingest = ingest_dataset_distributed if distributed_fetch else ingest_dataset
    ingested = set()
    t0 = time.perf_counter()
    for ds in config.datasets:
        if ingest(spark, config, ds, source) is not None:
            ingested.add(ds.name)
    t0 = _lap(result, "bronze", t0)

    # silver: re-scan bronze from disk, flatten to long time series
    for ds in config.datasets:
        if ds.name not in ingested:
            continue
        bpath = table_path(config.lake_root, "bronze", ds.name)
        bronze = read_table(spark, bpath, fmt)
        result.bronze[ds.name] = bronze
        spath = table_path(config.lake_root, "silver", f"{ds.name}_silver")
        try:
            if quarantine:
                # persist bronze across this branch's two writes
                # (quarantine + silver): each is its own job, and
                # without the persist both would re-read and re-parse
                # every payload, paying the most expensive pass twice
                bronze.persist()
                _, quarantined = extract_timeseries_with_quarantine(bronze, ds)
                qpath = table_path(
                    config.lake_root, "silver", f"{ds.name}_quarantine"
                )
                result.observed[f"quarantine/{ds.name}"] = (
                    write_table_observed(quarantined, qpath, fmt)
                )
            # keyed like PipelineResult.counts() ("silver/<dataset name>")
            result.observed[f"silver/{ds.name}"] = write_table_observed(
                extract_timeseries(bronze, ds), spath, fmt,
                null_check_cols=("timestamp",),
            )
        finally:
            if quarantine:
                bronze.unpersist()
        result.silver[ds.name] = read_table(spark, spath, fmt)
    t0 = _lap(result, "silver", t0)

    # gold: daily aggregates + join (assumes the reference's two dataset
    # roles: one entity dataset (power), one probe dataset (price))
    power_ds = next(
        (d for d in config.datasets
         if d.extract.entity_array and d.name in ingested),
        None,
    )
    price_ds = next(
        (d for d in config.datasets
         if d.extract.value_probes and d.name in ingested),
        None,
    )
    if power_ds is None or price_ds is None:
        return result  # nothing ingested for one of the roles → no gold

    def _gold(name: str, df) -> None:
        # one write-observe / read-back spelling for every gold table
        path = table_path(config.lake_root, "gold", name)
        result.observed[f"gold/{name}"] = write_table_observed(df, path, fmt)
        result.gold[name] = read_table(spark, path, fmt)

    _gold(
        "power_daily_by_type",
        G.power_daily_by_type(
            result.silver[power_ds.name],
            entity_col=power_ds.entity_column or "entity",
            value_col=power_ds.value_column,
        ),
    )
    _gold(
        "price_daily",
        G.price_daily(
            result.silver[price_ds.name], value_col=price_ds.value_column
        ),
    )
    _gold(
        "power_price_daily",
        G.power_price_daily(
            result.gold["power_daily_by_type"], result.gold["price_daily"]
        ),
    )
    _lap(result, "gold", t0)
    return result


def _lap(result: PipelineResult, layer: str, t0: float) -> float:
    """Record ``layer``'s wall seconds since ``t0``; return the time now."""
    now = time.perf_counter()
    result.layer_s[layer] = now - t0
    return now
