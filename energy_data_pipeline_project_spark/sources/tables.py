"""Parquet testdata loaders (the engine's relational catalog).

Mirrors the reference's path-addressed table model
(/root/reference/src/utils/paths.py:20-32 — tables are directories on
disk, not catalog entries) over the driver's star-schema testdata.

Scale posture: these are thin ``spark.read.parquet`` scans so Catalyst
keeps predicate pushdown / column pruning / partition pruning intact —
no caching, no collect, no schema inference surprises.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor the
# engine targets (region/nation are fixed-size; supplier/part grow with
# sf but stay far below fact tables). Used by operators to hint joins.
BROADCAST_DIMS = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS). Depending on
    the Spark build/conf it surfaces either as epoch-nanosecond longs
    (``spark.sql.legacy.parquet.nanosAsLong``) or as TIMESTAMP_NTZ
    (Spark 4 native nanos read, truncated to micros). Both are
    normalized here to a session-TZ TimestampType (UTC is pinned by the
    engine) so downstream operators see one stable schema.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division: ts is epoch-nanos (~1.7e18); float
            # division would lose sub-microsecond precision past 2^53.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Wall-clock values are UTC by construction; session TZ is
            # pinned UTC, so this cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Parallelism floor for CPU-heavy per-row kernels.

    A small corpus often arrives as ONE parquet file → one scan task,
    serializing expensive map work (shingling, md5 fan-out, Arrow
    batches) on a single core while the rest idle. When the scan has
    fewer partitions than the session's parallelism, round-robin
    repartition up to it; results are unaffected because every caller
    feeds a key-partitioned groupBy/join that re-shuffles anyway.

    Scale posture: a 100 TB table scan already has thousands of
    splits, so the condition is false and this is a NO-OP on a real
    cluster — it never introduces a full-corpus shuffle at scale. The
    partition probe is plan-side only (no job is triggered).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> list[str]:
    """Register the testdata tables as temp views so ad-hoc users can
    drive the engine through plain ``spark.sql`` — the same names the
    DuckDB oracle uses, so any oracle SQL in this repo is also
    (modulo dialect) a usable example query. Returns the view names."""
    tables = load_tables(spark, sf_dir, *names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return list(tables)
