"""Keyed upsert (merge) into a path-addressed lake table: latest per
key wins, updates beat existing rows on order ties, and partitioned
tables rewrite only the partitions the updates touch."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.pipeline.lake import (
    read_table,
    upsert_table,
)


def test_upsert_unpartitioned_keeps_latest(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], "k long, ver long, v string"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, 20, "b2"), (3, 10, "c2"), (4, 10, "d")],  # 3: tie on ver
        "k long, ver long, v string",
    )
    upsert_table(spark, path, updates, key_cols=("k",), order_col="ver")
    got = {r["k"]: (r["ver"], r["v"]) for r in read_table(spark, path).collect()}
    assert got == {
        1: (10, "a"),  # untouched
        2: (20, "b2"),  # higher version wins
        3: (10, "c2"),  # tie → update wins
        4: (10, "d"),  # brand-new key inserted
    }
    assert not glob.glob(path + "._*")  # no leftover staging/backup dirs


def test_upsert_into_missing_path_publishes_latest_per_key(spark, tmp_path):
    """A path with no table merges as an empty table: the first upsert
    publishes the latest update per key through the staged replace,
    keeping a requested partition layout, and leaves no sibling
    directory behind."""
    updates = spark.createDataFrame(
        [("d1", 1, 10, "a"), ("d1", 1, 20, "a2"), ("d2", 2, 10, "b")],
        "day string, k long, ver long, v string",
    )
    want = {(1, 20, "a2"), (2, 10, "b")}
    path = str(tmp_path / "fresh")
    upsert_table(spark, path, updates, key_cols=("k",), order_col="ver")
    rows = read_table(spark, path).collect()
    assert {(r["k"], r["ver"], r["v"]) for r in rows} == want
    assert len(rows) == 2
    assert not glob.glob(path + "._*")

    ppath = str(tmp_path / "fresh_parted")
    upsert_table(
        spark, ppath, updates, key_cols=("day", "k"), order_col="ver",
        partition_by=("day",),
    )
    rows = read_table(spark, ppath).collect()
    assert {(r["k"], r["ver"], r["v"]) for r in rows} == want
    assert sorted(glob.glob(ppath + "/day=*")) == [
        ppath + "/day=d1", ppath + "/day=d2"
    ]
    assert not glob.glob(ppath + "._*")


def test_upsert_partitioned_touches_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "tp")
    spark.createDataFrame(
        [("d1", 1, 10, "a"), ("d1", 2, 10, "b"), ("d2", 3, 10, "c")],
        "day string, k long, ver long, v string",
    ).write.partitionBy("day").parquet(path)

    untouched_files = sorted(glob.glob(os.path.join(path, "day=d2", "*.parquet")))
    mtimes_before = [os.path.getmtime(f) for f in untouched_files]

    updates = spark.createDataFrame(
        [("d1", 2, 20, "b2")], "day string, k long, ver long, v string"
    )
    upsert_table(
        spark, path, updates, key_cols=("day", "k"), order_col="ver",
        partition_by=("day",),
    )
    got = {
        (r["day"], r["k"]): r["v"] for r in read_table(spark, path).collect()
    }
    assert got == {("d1", 1): "a", ("d1", 2): "b2", ("d2", 3): "c"}
    # d2's files were not rewritten
    assert sorted(glob.glob(os.path.join(path, "day=d2", "*.parquet"))) == untouched_files
    assert [os.path.getmtime(f) for f in untouched_files] == mtimes_before


def test_upsert_preserves_null_partition_rows(spark, tmp_path):
    """isin() is NULL for NULL partition values, which used to exclude
    existing null-partition rows from the merge while dynamic
    overwrite rewrote their partition — silent data loss (review-pass
    catch). Null-safe membership keeps them."""
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.pipeline.lake import (
        read_table,
        upsert_table,
        write_table,
    )

    path = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [(1, "old-a", None), (2, "old-b", None), (3, "old-c", "d1")],
        "k int, v string, part string",
    )
    write_table(base, path, partition_by=("part",))
    updates = spark.createDataFrame(
        [(2, "new-b", None)], "k int, v string, part string"
    )
    upsert_table(
        spark, path, updates, key_cols=("k",), order_col="k",
        partition_by=("part",),
    )
    got = {
        (r.k, r.v)
        for r in read_table(spark, path).select("k", "v").collect()
    }
    assert got == {(1, "old-a"), (2, "new-b"), (3, "old-c")}


def test_upsert_moved_key_does_not_resurrect_old_partition_row(
    spark, tmp_path
):
    """An update that MOVES a key to a different partition must also
    retire the key's row in its OLD partition: the partition-scoped
    fast path never rewrote it (dynamic overwrite only replaces
    partitions the output lands in), so the superseded row survived
    and the key read back duplicated (r07 review). The merge now
    detects moved keys via a key-column semi-join and falls back to
    the full staged rewrite + swap."""
    path = str(tmp_path / "moved")
    spark.createDataFrame(
        [("d1", 1, 10, "a"), ("d2", 2, 10, "b")],
        "day string, k long, ver long, v string",
    ).write.partitionBy("day").parquet(path)
    # key 1 moves d1 -> d3 with a newer version
    updates = spark.createDataFrame(
        [("d3", 1, 20, "a2")], "day string, k long, ver long, v string"
    )
    upsert_table(
        spark, path, updates, key_cols=("k",), order_col="ver",
        partition_by=("day",),
    )
    rows = read_table(spark, path).collect()
    got = {(r["day"], r["k"]): (r["ver"], r["v"]) for r in rows}
    assert got == {("d3", 1): (20, "a2"), ("d2", 2): (10, "b")}, got
    # exactly one row per key — the d1 copy of key 1 is gone
    assert len(rows) == 2


def test_upsert_key_spanning_partitions_within_one_batch(spark, tmp_path):
    """The soundness criterion is per-KEY, not per-batch: an update
    batch carrying the same key in TWO partitions (a losing row in the
    key's current partition + the winner in a new one) fooled the
    input-partition-set check — the losing partition got no output, so
    dynamic overwrite never rewrote it and the existing row survived
    (r07 diff review of the first moved-key fix)."""
    path = str(tmp_path / "span")
    spark.createDataFrame(
        [("d1", 1, 10, "a"), ("d2", 2, 10, "b")],
        "day string, k long, ver long, v string",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame(
        [("d1", 1, 11, "a-mid"), ("d3", 1, 20, "a-new")],
        "day string, k long, ver long, v string",
    )
    upsert_table(
        spark, path, updates, key_cols=("k",), order_col="ver",
        partition_by=("day",),
    )
    rows = read_table(spark, path).collect()
    got = {(r["day"], r["k"]): (r["ver"], r["v"]) for r in rows}
    assert got == {("d3", 1): (20, "a-new"), ("d2", 2): (10, "b")}, got
    assert len(rows) == 2


def test_read_table_serves_parked_pre_swap_nondestructively(spark, tmp_path):
    """A writer that dies between a swap's two renames leaves the table
    parked at ``<path>._pre_swap`` with no live directory (simulated
    below by moving it there); a plain read must serve that data
    WITHOUT renaming anything (an eager heal would race a live writer
    mid-swap — r07 diff review). Healing stays with the next writer."""
    import shutil

    from energy_data_pipeline_project_spark.pipeline.lake import write_table

    path = str(tmp_path / "parked")
    df = spark.range(5).withColumnRenamed("id", "k")
    write_table(df, path)
    shutil.move(path, path + "._pre_swap")  # simulate the crash window
    assert read_table(spark, path).count() == 5
    # non-destructive: still parked afterwards
    assert not os.path.exists(path)
    assert os.path.isdir(path + "._pre_swap")


def test_upsert_partition_in_key_skips_moved_key_probe(
    spark, tmp_path, monkeypatch
):
    """When the partition column is part of the key, spanning is
    impossible by definition and the fast path must engage WITHOUT
    the moved-key probe (r07 advisor: the probe was a full key-column
    table read on every partitioned upsert). Pin it structurally:
    poison DataFrame.isEmpty — the probe's only consumer in
    upsert_table — and assert the merge still completes."""
    from pyspark.sql import DataFrame

    path = str(tmp_path / "np")
    spark.createDataFrame(
        [("d1", 1, 10, "a"), ("d2", 2, 10, "b")],
        "day string, k long, ver long, v string",
    ).write.partitionBy("day").parquet(path)

    def _boom(self):
        raise AssertionError("moved-key probe ran on pcol-in-key path")

    monkeypatch.setattr(DataFrame, "isEmpty", _boom)
    updates = spark.createDataFrame(
        [("d1", 1, 20, "a2")], "day string, k long, ver long, v string"
    )
    upsert_table(
        spark, path, updates, key_cols=("day", "k"), order_col="ver",
        partition_by=("day",),
    )
    got = {
        (r["day"], r["k"]): r["v"] for r in read_table(spark, path).collect()
    }
    assert got == {("d1", 1): "a2", ("d2", 2): "b"}


def test_upsert_key_moving_across_second_partition_column(spark, tmp_path):
    """Multi-column partitioning: with ("day","region") partitions and
    only day in the key, a key can still MOVE across region — the old
    first-column-only soundness shortcut engaged the fast path with no
    probe and stranded the loser's (day, regionA) row (r08 review).
    The spanning probe now measures the FULL partition tuple."""
    path = str(tmp_path / "mc")
    spark.createDataFrame(
        [("d1", "A", 1, 10, "a"), ("d1", "B", 2, 10, "b")],
        "day string, region string, k long, ver long, v string",
    ).write.partitionBy("day", "region").parquet(path)
    # key (d1, 1) moves region A -> B
    updates = spark.createDataFrame(
        [("d1", "B", 1, 20, "a2")],
        "day string, region string, k long, ver long, v string",
    )
    upsert_table(
        spark, path, updates, key_cols=("day", "k"), order_col="ver",
        partition_by=("day", "region"),
    )
    rows = read_table(spark, path).collect()
    got = {(r["region"], r["k"]): (r["ver"], r["v"]) for r in rows}
    assert got == {("B", 1): (20, "a2"), ("B", 2): (10, "b")}, got
    assert len(rows) == 2, "the region=A copy of key (d1,1) must be retired"


def test_upsert_null_key_moved_partition_is_retired(spark, tmp_path):
    """A NULL-keyed row is a legal key group (the merge window groups
    NULLs), but the moved-key probe's plain leftsemi never matched
    NULL keys, so a NULL-keyed update that moved partitions slipped
    past the probe and the stale row survived (r08 review; the probe
    join is now null-safe)."""
    path = str(tmp_path / "nullkey")
    spark.createDataFrame(
        [("d1", None, 10, "a"), ("d2", 2, 10, "b")],
        "day string, k long, ver long, v string",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame(
        [("d3", None, 20, "a2")], "day string, k long, ver long, v string"
    )
    upsert_table(
        spark, path, updates, key_cols=("k",), order_col="ver",
        partition_by=("day",),
    )
    rows = read_table(spark, path).collect()
    got = {(r["day"], r["k"]): (r["ver"], r["v"]) for r in rows}
    assert got == {("d3", None): (20, "a2"), ("d2", 2): (10, "b")}, got
    assert len(rows) == 2
