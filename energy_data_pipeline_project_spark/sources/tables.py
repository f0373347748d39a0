"""Parquet testdata loaders (the engine's relational catalog).

Mirrors the reference's path-addressed table model
(/root/reference/src/utils/paths.py:20-32 — tables are directories on
disk, not catalog entries) over the driver's star-schema testdata.

Scale posture: these are thin ``spark.read.parquet`` scans so Catalyst
keeps predicate pushdown / column pruning / partition pruning intact —
no caching, no collect, and the explicit schema the table catalog holds.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# The table catalog: absolute table path -> (fingerprint, schema).
_CATALOG: dict[str, tuple[str, StructType]] = {}


def table_fingerprint(sf_dir: str, name: str) -> tuple[str, str | None]:
    """(absolute path, fingerprint) of one table: a file hashes (path,
    mtime_ns, size), a directory its path and every file's (relative
    name, mtime_ns, size). ``None`` if the path cannot be statted."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        st = os.stat(path)
        sig = (path, st.st_mtime_ns, st.st_size)
        if os.path.isdir(path):
            files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
            stats = [(os.path.relpath(f, path), os.stat(f)) for f in files]
            sig = (path, sorted((f, s.st_mtime_ns, s.st_size) for f, s in stats))
    except OSError:
        return path, None
    return path, hashlib.sha256(repr(sig).encode()).hexdigest()[:16]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS). Depending on
    the Spark build/conf it surfaces either as epoch-nanosecond longs
    (``spark.sql.legacy.parquet.nanosAsLong``) or as TIMESTAMP_NTZ
    (Spark 4 native nanos read, truncated to micros). Both are
    normalized here to a session-TZ TimestampType (UTC is pinned by the
    engine) so downstream operators see one stable schema.

    The schema is inferred only when the fingerprint differs from the
    catalog entry; an unstattable path is never cached.
    """
    apply_runtime_confs(spark)
    path, fp = table_fingerprint(sf_dir, name)
    entry = _CATALOG.get(path)
    if entry and entry[0] == fp:
        df = spark.read.schema(entry[1]).parquet(f"{sf_dir}/{name}.parquet")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if fp is not None:
            _CATALOG[path] = (fp, df.schema)
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
