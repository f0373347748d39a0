"""SQL catalog surface: register the testdata tables as temp views so
the engine is queryable through ``spark.sql(...)`` by name — the same
table names the DuckDB oracle uses, so any oracle SQL in this repo
(modulo DuckDB-specific functions) can be pasted against Spark SQL.
``register_views`` lives in ``tables`` (next to the TABLES list and the
events ts normalization) and is re-exported here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .tables import register_views as register_views


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> dict[str, str]:
    """Collect table + column statistics into the catalog (the CBO
    feed): row count and total size always; per-column NDV / null
    count / min / max for ``columns``. At 100 TB stats are what let
    Catalyst's cost-based optimizer reorder multi-way joins and pick
    broadcast sides from DATA rather than defaults — un-analyzed
    catalogs silently fall back to size-only heuristics. Returns the
    statistics line(s) from DESCRIBE EXTENDED for verification.

    Temp views can't hold catalog stats — this targets saved tables
    (saveAsTable / external parquet tables), the same objects a
    production metastore would track.
    """
    if columns:
        cols = ", ".join(columns)
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    out: dict[str, str] = {}
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if row["col_name"] in ("Statistics",):
            out[row["col_name"]] = row["data_type"]
    return out
