"""Small-file compaction: many tiny files in, few scan-sized files
out, identical contents, atomic swap."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.pipeline.lake import (
    compact_table,
    read_table,
)


def _data_files(path):
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith(("_", "."))
        and not f.endswith(".crc")
    ]


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    # 40 tiny files (one per partition)
    spark.range(0, 4000).repartition(40).withColumn(
        "v", F.col("id") * 2
    ).write.parquet(path)
    assert len(_data_files(path)) == 40
    before = sorted(tuple(r) for r in read_table(spark, path).collect())

    n = compact_table(spark, path, target_rows_per_file=2000)
    assert n == 2
    assert len(_data_files(path)) == 2
    after = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert after == before
    # no leftover staging/backup dirs
    assert not glob.glob(path + "._*")


def test_compaction_single_file_floor(spark, tmp_path):
    path = str(tmp_path / "tiny")
    spark.range(0, 10).repartition(5).write.parquet(path)
    assert compact_table(spark, path, target_rows_per_file=1_000_000) == 1
    assert len(_data_files(path)) == 1
    assert read_table(spark, path).count() == 10


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """Compacting a hive-partitioned table must keep its date= layout
    (losing it kills pruning and forces the next incremental run into
    a full legacy rewrite — review-pass catch)."""
    import glob as _glob

    from energy_data_pipeline_project_spark.pipeline.lake import (
        compact_table,
        read_table,
    )

    path = str(tmp_path / "parted")
    spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS date"
    ).repartition(10).write.mode("overwrite").partitionBy("date").parquet(
        path
    )
    before = read_table(spark, path).groupBy("date").count().collect()
    compact_table(spark, path, target_rows_per_file=10_000)
    parts = _glob.glob(f"{path}/date=*")
    assert len(parts) == 3, parts
    after = read_table(spark, path).groupBy("date").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_partitioned_compaction_does_not_multiply_files(spark, tmp_path):
    """With n_files > 1, round-robin repartition before partitionBy
    would spread every hive partition across all tasks (up to
    n_files × n_partitions output files — compaction that ADDS files,
    r05 advice). Hash-partitioning on the layout columns writes each
    partition from exactly one task: one data file per partition dir."""
    import glob as _glob

    from energy_data_pipeline_project_spark.pipeline.lake import (
        compact_table,
        read_table,
    )

    path = str(tmp_path / "parted_many")
    spark.range(0, 900).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS date"
    ).repartition(10).write.mode("overwrite").partitionBy("date").parquet(
        path
    )
    # target forces n_files = 9 > n_partitions = 3
    compact_table(spark, path, target_rows_per_file=100)
    files = _glob.glob(f"{path}/date=*/part-*.parquet")
    assert len(files) == 3, files
    assert read_table(spark, path).count() == 900


def test_compaction_recovers_crashed_swap(spark, tmp_path):
    """A writer that dies between a swap's two renames leaves the table
    parked at ``<path>._pre_swap`` with no live directory (simulated
    below by moving it there); the next compaction must self-heal
    instead of dying with PATH_NOT_FOUND forever (review-pass catch)."""
    import os

    from energy_data_pipeline_project_spark.pipeline.lake import (
        compact_table,
        read_table,
    )

    path = str(tmp_path / "crashy")
    spark.range(100).write.mode("overwrite").parquet(path)
    os.rename(path, path + "._pre_swap")  # simulate the crash window
    compact_table(spark, path)
    assert read_table(spark, path).count() == 100
    assert not os.path.exists(path + "._pre_swap")
