"""Silver → gold: daily aggregates + the date-keyed join.

Reference: /root/reference/src/transformations/silver_to_gold.py.

- ``power_daily_by_type``: groupBy(to_date(timestamp), production_type)
  SUM(value) — the sum is over raw 15-min MW readings, deliberately
  NOT converted to MWh (no ×0.25) — reference quirk A1, preserved
  exactly.
- ``price_daily``: groupBy(to_date(timestamp)) AVG(price_eur_mwh) —
  preserved exactly.
- ``power_price_daily``: offshore-wind rows selected with the
  normalized predicate lower(trim(production_type)) == 'wind offshore'
  (catches label variants like " Wind Offshore "), SUMMED per date so
  variant labels merge into one row per date, then inner join
  USING(date) against price_daily.  The per-date SUM is a DELIBERATE
  DEVIATION from the reference (silver_to_gold.py:105-115), which only
  filters and joins — on an input with multiple surviving label
  variants per date it emits one row per variant, duplicating the
  price. Here variant labels merge into exactly one row per date (the
  join-key contract); test-pinned by
  tests/test_pipeline.py::test_variant_labels_merge_into_one_date_row.

Both join inputs are day-grain aggregates (thousands of rows at most
per year) → Catalyst broadcasts automatically; at 100 TB the
aggregation is the only shuffle and it's partial-agg + AQE-coalesced.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def power_daily_by_type(
    silver_power: DataFrame,
    entity_col: str = "production_type",
    value_col: str = "value",
) -> DataFrame:
    """Input column names follow the DatasetSpec (a config may rename
    them or fall back to the generic ``entity``); the OUTPUT schema is
    the reference's fixed gold contract either way."""
    return (
        silver_power.groupBy(
            F.to_date("timestamp").alias("date"),
            F.col(entity_col).alias("production_type"),
        )
        .agg(F.sum(value_col).alias("daily_net_production"))
    )


def price_daily(
    silver_price: DataFrame, value_col: str = "price_eur_mwh"
) -> DataFrame:
    return (
        silver_price.groupBy(F.to_date("timestamp").alias("date"))
        .agg(F.avg(value_col).alias("avg_price_eur_mwh"))
    )


def power_price_daily(
    power_daily: DataFrame, price_daily_df: DataFrame
) -> DataFrame:
    # Re-aggregate after the normalized match: power_daily is grouped
    # by the RAW label, so two variant spellings of offshore wind on
    # the same date arrive as two rows — without this SUM the join
    # would emit duplicate date rows with split production. One row
    # per date is the join-key contract.
    offshore = (
        power_daily.where(
            F.lower(F.trim("production_type")) == "wind offshore"
        )
        .groupBy(F.to_date("date").alias("date"))
        .agg(F.sum("daily_net_production").alias("offshore_wind_daily"))
    )
    price = price_daily_df.select(
        F.to_date("date").alias("date"), "avg_price_eur_mwh"
    )
    return offshore.join(price, on="date", how="inner").select(
        "date", "offshore_wind_daily", "avg_price_eur_mwh"
    )
