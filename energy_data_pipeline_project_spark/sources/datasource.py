"""Spark 4 Python Data Source for per-day payload ingest.

The most idiomatic Spark form of the executor-side fetch
(`pipeline/ingestion.py::ingest_dataset_distributed` is the
mapInPandas formulation of the same idea): a custom
``pyspark.sql.datasource.DataSource`` whose reader plans ONE
InputPartition per chunk of backfill days, so the per-day payload
fetches the reference runs in a driver loop
(/root/reference/src/main.py:47-71) execute in parallel on executors,
scheduled, retried, and traced like any other scan. Usage::

    spark.dataSource.register(EnergyPayloadDataSource)
    df = (spark.read.format("energy_payloads")
          .option("endpoint", "public_power")
          .option("key_column", "country").option("key_value", "de")
          .option("start_date", "2025-01-01")
          .option("end_date", "2025-01-07")
          .option("payload_root", "/fixtures")   # or api_base_url
          .load())

All reader configuration travels through string options (the data
source contract), so the source works identically from SQL or any
language frontend. Payloads come from the same two backends as the
rest of the engine: a directory of ``{endpoint}/{day}.json`` fixture
files (hermetic default) or the live REST API when ``api_base_url``
is set — request semantics identical to ``RestSource`` (market
upper-cased for price, per-day start/end, timeout).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import date, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

DEFAULT_DAYS_PER_TASK = 32


@dataclass
class _DayChunk(InputPartition):
    days: list[str]


def _date_range(start: str, end: str) -> list[str]:
    s, e = date.fromisoformat(start), date.fromisoformat(end)
    if s > e:
        raise ValueError(f"start_date {s} after end_date {e}")
    return [(s + timedelta(days=i)).isoformat() for i in range((e - s).days + 1)]


class EnergyPayloadDataSource(DataSource):
    """``format("energy_payloads")`` — per-day payload scan."""

    @classmethod
    def name(cls) -> str:
        return "energy_payloads"

    def schema(self) -> str:
        key_column = self.options.get("key_column", "country")
        return f"{key_column} string, date string, payload_json string"

    def reader(self, schema) -> "EnergyPayloadReader":
        return EnergyPayloadReader(dict(self.options))


class EnergyPayloadReader(DataSourceReader):
    def __init__(self, options: dict):
        self._o = options
        self._days = _date_range(
            options["start_date"], options["end_date"]
        )
        # fail LOUD at plan time, not with a silent empty result at
        # execution time: a reader with neither backend
        # configured can never yield a row
        if options.get("payload_root") is None and (
            options.get("api_base_url") is None
        ):
            raise ValueError(
                "energy_payloads needs .option('payload_root', dir) "
                "and/or .option('api_base_url', url); neither is set"
            )

    def partitions(self):
        n = int(self._o.get("days_per_task", DEFAULT_DAYS_PER_TASK))
        if n < 1:
            raise ValueError(
                f"days_per_task must be >= 1, got {n!r}"
            )
        return [
            _DayChunk(self._days[i : i + n])
            for i in range(0, len(self._days), n)
        ]

    def read(self, partition: _DayChunk):
        o = self._o
        endpoint = o["endpoint"]
        key_column = o.get("key_column", "country")
        key_value = o.get("key_value", "de")
        root = o.get("payload_root")
        base = o.get("api_base_url")
        timeout = float(o.get("request_timeout_s", "30"))
        params = json.loads(o.get("params_json", "{}"))
        # Fixture layout parity with LocalJsonSource: the CLI's
        # --source dir is keyed by DATASET NAME (public_power_de/…),
        # not endpoint — honor an explicit dataset_name option and
        # fall back through both layouts so the same fixture tree
        # serves both backends instead of silently yielding 0 rows.
        dataset_name = o.get("dataset_name", endpoint)
        for d in partition.days:
            payload = None
            if root is not None:
                import os

                for sub in dict.fromkeys((dataset_name, endpoint)):
                    path = os.path.join(root, sub, f"{d}.json")
                    if os.path.exists(path):
                        with open(path) as f:
                            payload = json.load(f)
                        break
            # the fixture dir is a CACHE in front of the API, not an
            # exclusive backend: a day missing from the dir falls
            # through to the API when one is configured (an `elif`
            # here would silently drop such days). The GET
            # itself is payloads.fetch_day_http — the one spelling of
            # the param quirk AND the transient-retry ladder; this
            # reader's own copy had dropped the retries, so one 429
            # failed the whole day-chunk task and each Spark task
            # retry re-fetched every day from the start.
            if payload is None and base is not None:
                from .payloads import fetch_day_http

                payload = fetch_day_http(
                    base,
                    endpoint,
                    key_column,
                    key_value,
                    params,
                    d,
                    timeout=timeout,
                    retries=int(o.get("retries", "2")),
                    backoff_s=float(o.get("backoff_s", "1.0")),
                )
            if payload is not None:
                yield (key_value, d, json.dumps(payload, ensure_ascii=False))
