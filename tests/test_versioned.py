"""Pointer-file time travel (lake.write_table_versioned): the
Delta-style capability the reference relies on, re-expressed for a
plain-parquet lake. Pins publish atomicity semantics, time travel,
orphan tolerance, and retention pruning."""

from __future__ import annotations

import os

from energy_data_pipeline_project_spark.pipeline.lake import (
    latest_table_version,
    list_table_versions,
    read_table_versioned,
    write_table_versioned,
)


def _mk(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_versions_accumulate_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = write_table_versioned(_mk(spark, [1, 2]), path)
    v2 = write_table_versioned(_mk(spark, [3, 4, 5]), path)
    assert (v1, v2) == (1, 2)
    assert latest_table_version(path) == 2
    assert read_table_versioned(spark, path).count() == 3
    old = {r["x"] for r in read_table_versioned(spark, path, version=1).collect()}
    assert old == {1, 2}


def test_reader_of_old_version_survives_new_write(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table_versioned(_mk(spark, [1]), path)
    pinned = read_table_versioned(spark, path, version=1)
    write_table_versioned(_mk(spark, [9, 9, 9]), path)
    # the old snapshot is immutable — a reader holding it is untouched
    assert pinned.count() == 1
    assert read_table_versioned(spark, path).count() == 3


def test_orphan_version_dir_does_not_block_writes(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table_versioned(_mk(spark, [1]), path)
    # simulate a crashed writer: version dir exists, pointer never moved
    os.makedirs(os.path.join(path, "_versions", "v00000002"))
    assert latest_table_version(path) == 1
    # the published read ignores the orphan...
    assert read_table_versioned(spark, path).count() == 1
    # ...and the next write skips past it rather than reusing its slot
    v = write_table_versioned(_mk(spark, [1, 2]), path)
    assert v == 3
    assert read_table_versioned(spark, path).count() == 2


def test_retention_prunes_oldest_keeps_published(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        write_table_versioned(_mk(spark, list(range(i + 1))), path, keep_versions=2)
    assert list_table_versions(path) == [3, 4]
    assert latest_table_version(path) == 4
    assert read_table_versioned(spark, path, version=3).count() == 3


def test_vacuum_removes_orphans_and_old_history(spark, tmp_path):
    from energy_data_pipeline_project_spark.pipeline.lake import (
        vacuum_table_versions,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        write_table_versioned(_mk(spark, [i]), path)
    # crashed writer newer than the pointer
    os.makedirs(os.path.join(path, "_versions", "v00000009"))
    removed = vacuum_table_versions(path, keep_versions=2)
    assert 9 in removed and 1 in removed
    assert list_table_versions(path) == [2, 3]
    assert latest_table_version(path) == 3
    assert read_table_versioned(spark, path).count() == 1


def test_keep_versions_zero_prunes_all_history(spark, tmp_path):
    """keep_versions=0 means 'retain only the just-published version';
    the [:-0] empty slice made it retain EVERYTHING instead (r07
    review — vacuum_table_versions already special-cased 0)."""
    path = str(tmp_path / "kv0")
    df = spark.range(3).withColumnRenamed("id", "k")
    write_table_versioned(df, path)
    write_table_versioned(df, path)
    v3 = write_table_versioned(df, path, keep_versions=0)
    assert list_table_versions(path) == [v3]
    assert read_table_versioned(spark, path).count() == 3


def test_explicit_version_read_rejects_unpublished_orphans(
    spark, tmp_path
):
    """A crashed writer's partial version dir newer than the pointer
    must not be servable: read_table_versioned(version=orphan) used to
    pass the isdir check and silently return truncated data (r08
    review)."""
    import os

    import pytest

    from energy_data_pipeline_project_spark.pipeline.lake import (
        _version_dir,
        read_table_versioned,
        write_table_versioned,
    )

    path = str(tmp_path / "orphan")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    v1 = write_table_versioned(df, path)
    # simulate a crashed writer: a partial v2 dir with no pointer move
    orphan = _version_dir(path, v1 + 1)
    os.makedirs(orphan)
    df.limit(0).write.mode("overwrite").parquet(orphan)

    with pytest.raises(FileNotFoundError, match="never published"):
        read_table_versioned(spark, path, version=v1 + 1)
    # the published snapshot still reads fine
    assert read_table_versioned(spark, path, version=v1).count() == 1


def test_inline_prune_keeps_history_not_orphans(spark, tmp_path):
    """write_table_versioned(keep_versions=N) used to count crashed-
    writer orphans toward retention — deleting a valid published
    snapshot while keeping a partial orphan as 'history' (r08 review;
    it now delegates to the orphan-aware vacuum)."""
    import os

    from energy_data_pipeline_project_spark.pipeline.lake import (
        _version_dir,
        list_table_versions,
        read_table_versioned,
        write_table_versioned,
    )

    path = str(tmp_path / "prune")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    v1 = write_table_versioned(df1, path)
    # orphan between the publishes
    orphan = _version_dir(path, v1 + 1)
    os.makedirs(orphan)
    df1.limit(0).write.mode("overwrite").parquet(orphan)
    v3 = write_table_versioned(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        path,
        keep_versions=2,
    )
    versions = list_table_versions(path)
    # retention counted over PUBLISHED versions: v1 and v3 survive,
    # the orphan is vacuumed
    assert v1 in versions and v3 in versions
    assert (v1 + 1) not in versions, "orphan must be vacuumed, not retained"
    assert read_table_versioned(spark, path, version=v1).count() == 1


def test_corrupt_publish_log_raises_not_falls_back(spark, tmp_path):
    """A _PUBLISHED log that EXISTS but fails to parse must raise, not
    silently revert to the <=-pointer rule (r08 advisor): pointer
    counting cannot tell a crashed writer's orphan from superseded
    history, so a silent fallback would let vacuum delete real history
    with no signal the log is damaged. A pointer with no log at all
    raises too, naming the missing log."""
    import pytest

    from energy_data_pipeline_project_spark.pipeline.lake import (
        _PUBLISHED_LOG,
        published_table_versions,
    )

    path = str(tmp_path / "t")
    write_table_versioned(_mk(spark, [1]), path)
    write_table_versioned(_mk(spark, [2]), path)
    assert published_table_versions(path) == {1, 2}

    log = os.path.join(path, _PUBLISHED_LOG)
    with open(log, "w") as f:
        f.write("1\ngarbage\n2\n")
    with pytest.raises(ValueError, match="corrupt publish log"):
        published_table_versions(path)

    # pointer but no log at all: the same loud refusal
    os.remove(log)
    with pytest.raises(FileNotFoundError, match="no _PUBLISHED log"):
        published_table_versions(path)
    # neither file: a new table, no versions
    assert published_table_versions(str(tmp_path / "new")) == set()
