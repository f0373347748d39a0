"""Config model for the medallion pipeline.

Schema-compatible with the reference's config
(/root/reference/config/config.yaml: project timezone, per-dataset
endpoint/params, run.backfill date range) but loaded into typed
dataclasses, with the payload-extraction semantics made *declarative*:
each dataset carries an ``ExtractSpec`` describing how its raw JSON
becomes long time-series rows, instead of a hand-written per-dataset
transform script. One generic Catalyst plan (pipeline/silver.py)
serves every dataset shape.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, timedelta
from typing import Any


@dataclass(frozen=True)
class ExtractSpec:
    """How to turn one payload_json into long rows.

    Two shapes, mirroring the reference:

    - ``entity_array`` set (power): payload has a time array plus an
      array of {name, data[]} entity structs → one row per
      (entity, timestamp).
    - ``value_probes`` set (price): payload has a time array plus a
      flat value array under one of several candidate field names
      (schema drift) → first non-empty probe wins, one row per
      timestamp.
    """

    time_field: str = "unix_seconds"
    entity_array: str | None = None
    entity_name_field: str = "name"
    entity_values_field: str = "data"
    value_probes: tuple[str, ...] = ()


@dataclass(frozen=True)
class DatasetSpec:
    name: str  # table name, e.g. "public_power_de"
    endpoint: str  # REST endpoint, e.g. "public_power"
    key_column: str  # bronze key column name: "country" / "market"
    key_value: str  # e.g. "de" / "DE-LU"
    params: dict[str, Any] = field(default_factory=dict)
    extract: ExtractSpec = field(default_factory=ExtractSpec)
    # silver output column renames: payload value column → silver name
    value_column: str = "value"
    entity_column: str | None = None
    # reference quirk: silver power keeps the bronze date string, silver
    # price does not (SURVEY.md §1.1)
    include_date: bool = True


@dataclass(frozen=True)
class PipelineConfig:
    lake_root: str
    start_date: str
    end_date: str
    # "parquet" | "delta" | "auto" (auto → delta when delta-spark is
    # on the classpath, else parquet; each pipeline/lake.py IO call
    # resolves it)
    table_format: str = "parquet"
    api_base_url: str = "https://api.energy-charts.info"
    request_timeout_s: int = 30
    datasets: tuple[DatasetSpec, ...] = ()

    def dates(self) -> list[date]:
        start = date.fromisoformat(self.start_date)
        end = date.fromisoformat(self.end_date)
        if start > end:
            raise ValueError(f"start_date {start} after end_date {end}")
        return [start + timedelta(days=i) for i in range((end - start).days + 1)]


def default_datasets() -> tuple[DatasetSpec, ...]:
    """The reference's two datasets, declaratively."""
    return (
        DatasetSpec(
            name="public_power_de",
            endpoint="public_power",
            key_column="country",
            key_value="de",
            extract=ExtractSpec(entity_array="production_types"),
            value_column="value",
            entity_column="production_type",
        ),
        DatasetSpec(
            name="price_de_lu",
            endpoint="price",
            key_column="market",
            key_value="DE-LU",
            # Schema-drift tolerance: probe three candidate field names
            # (reference bronze_to_silver.py:124-132).
            extract=ExtractSpec(value_probes=("price", "prices", "data")),
            value_column="price_eur_mwh",
            include_date=False,
        ),
    )


def load_config(path_or_dict: "str | dict") -> PipelineConfig:
    """Load from a YAML file or a plain dict (tests)."""
    if isinstance(path_or_dict, str):
        import yaml

        with open(path_or_dict) as f:
            raw = yaml.safe_load(f)
    else:
        raw = dict(path_or_dict)

    # `section:` with no children parses as None, and raw.get(k, {})
    # returns that None because the key EXISTS — every section lookup
    # goes through `or {}` so an empty section means defaults, not an
    # AttributeError before validation
    run = (raw.get("run") or {}).get("backfill") or {}
    datasets = []
    for d in raw.get("datasets") or []:
        ex = d.get("extract") or {}
        probes = ex.get("value_probes") or ()
        if isinstance(probes, str):
            # tuple('price') silently becomes ('p','r','i','c','e')
            # and every probe misses — a one-character YAML mistake
            # (scalar instead of list) must not empty the dataset
            raise ValueError(
                f"dataset {d['name']!r}: extract.value_probes must be"
                f" a list of field names, got the string {probes!r}"
            )
        datasets.append(
            DatasetSpec(
                name=d["name"],
                endpoint=d.get("endpoint", d["name"]),
                key_column=d.get("key_column", "country"),
                key_value=d.get("key_value", "de"),
                params=d.get("params") or {},
                extract=ExtractSpec(
                    time_field=ex.get("time_field", "unix_seconds"),
                    entity_array=ex.get("entity_array"),
                    entity_name_field=ex.get("entity_name_field", "name"),
                    entity_values_field=ex.get("entity_values_field", "data"),
                    value_probes=tuple(probes),
                ),
                value_column=d.get("value_column", "value"),
                entity_column=d.get("entity_column"),
                include_date=d.get("include_date", True),
            )
        )
        spec = datasets[-1].extract
        if not spec.entity_array and not spec.value_probes:
            # Caught here rather than as F.coalesce()-with-no-args
            # failing deep inside silver extraction.
            raise ValueError(
                f"dataset {d['name']!r} has no extract shape: set"
                " extract.entity_array or extract.value_probes"
            )
        if spec.entity_array and spec.value_probes:
            # BOTH shapes set is ambiguous and was silently wrong:
            # extraction prefers entity_array while the runner assigns
            # the price ROLE to any dataset with value_probes, so
            # entity-shaped silver rows flowed into price_daily and a
            # wrong avg_price_eur_mwh published with no error. One
            # shape per dataset, decided in config.
            raise ValueError(
                f"dataset {d['name']!r} sets BOTH extract.entity_array"
                " and extract.value_probes: the shapes are mutually"
                " exclusive (entity datasets feed power_daily, probe"
                " datasets feed price_daily) — split it into two"
                " datasets or drop one shape"
            )
    tz = (raw.get("project") or {}).get("timezone", "UTC")
    if tz != "UTC":
        # session.py pins spark.sql.session.timeZone to UTC, so every
        # silver/gold day is a UTC day: a config declaring another zone
        # would be bucketed in UTC without a word
        raise ValueError(
            f"project.timezone {tz!r} is not supported: the engine pins"
            " the Spark session time zone to UTC, so days are bucketed"
            " in UTC — set project.timezone to \"UTC\" or omit it"
        )
    if raw.get("datasets") == []:
        # an EXPLICITLY empty list is a decision, not an omission:
        # silently substituting the defaults would ingest two datasets
        # against the live API that nobody asked for — omit the key
        # entirely to get the defaults
        raise ValueError(
            "datasets: [] is explicit — omit the key for the default"
            " datasets, or list at least one dataset"
        )
    return PipelineConfig(
        lake_root=raw.get("lake_root", "data"),
        # str(): YAML parses an UNQUOTED 2025-01-01 into datetime.date,
        # which would crash dates()'s fromisoformat far from the
        # config layer; str(date) is the ISO form either way
        start_date=str(run.get("start_date", "2025-01-01")),
        end_date=str(run.get("end_date", "2025-01-07")),
        table_format=raw.get("table_format", "parquet"),
        api_base_url=(raw.get("api") or {}).get(
            "base_url", "https://api.energy-charts.info"
        ),
        request_timeout_s=(raw.get("api") or {}).get("timeout_s", 30),
        datasets=tuple(datasets) or default_datasets(),
    )
