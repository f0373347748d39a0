from __future__ import annotations

import pytest

from energy_data_pipeline_project_spark.pipeline.lake import (
    delta_available,
    read_table,
    write_table,
)
from energy_data_pipeline_project_spark.plans.analyze import jobs_during
from energy_data_pipeline_project_spark.sources.catalog import register_views

from .conftest import SF_SMOKE


def test_register_views_enables_sql(spark):
    names = register_views(spark, SF_SMOKE)
    assert "lineitem" in names
    got = spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    assert [r["l_returnflag"] for r in got] == ["A", "N", "R"]
    assert sum(r["n"] for r in got) > 0
    # events view must carry the converted timestamp (nanos handled)
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


def test_delta_gating(spark):
    # delta-spark is not in this container: the probe must say so
    # gracefully (and lake IO stays on parquet).
    assert delta_available(spark) is False


def test_auto_resolves_to_delta_when_probe_succeeds():
    """Pin the DELTA side of the ``auto`` seam without Delta jars: a
    stand-in session handle whose JVM probe *finds*
    io.delta.tables.DeltaTable must make ``resolve_table_format('auto')``
    pick delta through the REAL probe code path (Class.forName on the
    handle), and a handle whose probe raises must fall back to parquet
    — both directions test-pinned (r06 verdict #5). The container-side
    negative against the real session is test_delta_gating above."""
    import types

    from energy_data_pipeline_project_spark.pipeline.lake import (
        resolve_table_format,
    )

    probed: list[str] = []

    def for_name(name):
        probed.append(name)
        return object()

    def for_name_missing(name):
        probed.append(name)
        raise RuntimeError("ClassNotFoundException: " + name)

    def handle(fn):
        return types.SimpleNamespace(
            _jvm=types.SimpleNamespace(
                java=types.SimpleNamespace(
                    lang=types.SimpleNamespace(
                        Class=types.SimpleNamespace(forName=fn)
                    )
                )
            )
        )

    assert resolve_table_format(handle(for_name), "auto") == "delta"
    assert resolve_table_format(handle(for_name_missing), "auto") == "parquet"
    # the probe must ask for the actual Delta entry class, nothing else
    assert set(probed) == {"io.delta.tables.DeltaTable"}
    # explicit formats never consult the probe
    probed.clear()
    assert resolve_table_format(handle(for_name_missing), "delta") == "delta"
    assert (
        resolve_table_format(handle(for_name_missing), "parquet") == "parquet"
    )
    assert probed == []


def test_delta_write_roundtrip(spark, tmp_path_factory):
    """Round-trips one layer in Delta format through the lake IO.

    The reference writes every layer as Delta
    (/root/reference/src/ingestion/power_ingestion.py:74-79); this
    container has no delta-spark on the classpath, so the test is
    skipped here — but it stays collectible, proving the format switch
    the day Delta jars appear (the lake IO takes fmt as data, so no
    code change is needed, only the classpath)."""
    if not delta_available(spark):
        pytest.skip("delta-spark not on the classpath in this container")
    path = str(tmp_path_factory.mktemp("delta-lake")) + "/t"
    df = spark.range(10).withColumnRenamed("id", "k")
    write_table(df, path, fmt="delta")
    back = read_table(spark, path, fmt="delta")
    assert sorted(r["k"] for r in back.collect()) == list(range(10))
    # overwrite idempotency holds in Delta exactly as in parquet (S6)
    write_table(df, path, fmt="delta")
    assert read_table(spark, path, fmt="delta").count() == 10


def test_analyze_table_feeds_cbo_stats(spark, tmp_path_factory):
    """ANALYZE must land rowCount in the catalog and per-column NDV
    must be queryable — the inputs Catalyst's cost-based optimizer
    reorders joins with."""
    from energy_data_pipeline_project_spark.sources.catalog import (
        analyze_table,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS statdb LOCATION '{wh}'")
    try:
        nation = load_table(spark, SF_SMOKE, "nation")
        nation.write.mode("overwrite").saveAsTable("statdb.nation_t")
        stats = analyze_table(
            spark, "statdb.nation_t", ["n_nationkey", "n_regionkey"]
        )
        assert "Statistics" in stats
        assert "25rows" in stats["Statistics"].replace(" ", "")
        col = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE EXTENDED statdb.nation_t n_regionkey"
            ).collect()
        }
        assert col.get("distinct_count") == "5"
        assert col.get("num_nulls") == "0"
    finally:
        spark.sql("DROP TABLE IF EXISTS statdb.nation_t")
        spark.sql("DROP DATABASE IF EXISTS statdb")


def test_register_views_enables_plain_sql(spark):
    from energy_data_pipeline_project_spark.sources.tables import (
        TABLES,
        register_views,
    )

    from .conftest import SF_SMOKE

    register_views(spark, SF_SMOKE)
    for t in TABLES:
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {t}").collect()[0]["n"] > 0
    # a join through the SQL door matches the DataFrame door exactly
    # (every order's custkey resolves, so the FK join preserves counts)
    from energy_data_pipeline_project_spark.sources.tables import load_table

    got = spark.sql(
        "SELECT COUNT(*) AS n FROM orders o JOIN customer c"
        " ON o.o_custkey = c.c_custkey"
    ).collect()[0]["n"]
    assert got == load_table(spark, SF_SMOKE, "orders").count()


def test_auto_format_resolution(spark):
    """"auto" resolves to delta exactly when the jars exist, parquet
    otherwise; explicit formats pass through, and an auto-format
    pipeline run writes readable tables either way."""
    from energy_data_pipeline_project_spark.pipeline.lake import (
        resolve_table_format,
    )

    expected = "delta" if delta_available(spark) else "parquet"
    assert resolve_table_format(spark, "auto") == expected
    assert resolve_table_format(spark, "parquet") == "parquet"
    assert resolve_table_format(spark, "delta") == "delta"


def test_directory_table_part_rewrite_refreshes_schema_and_artifact(
    spark, tmp_path, monkeypatch
):
    """A directory table whose part file is rewritten in place (the
    directory's mtime and size unchanged) with an added column: the
    table catalog must serve the NEW schema, and the shared-frame memo
    over the table must miss (cold), not serve the stale frame."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_data_pipeline_project_spark.pipeline import artifacts as A
    from energy_data_pipeline_project_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "artifacts"))
    sf = str(tmp_path / "sf")
    table = tmp_path / "sf" / "documents.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2]}), part)
    assert load_table(spark, sf, "documents").columns == ["doc_id"]

    def shared():
        return A.shared(
            spark, "catalog_dir@r1", sf, "documents", ("t",),
            lambda: {"t": load_table(spark, sf, "documents")},
        )

    A.release_shared()
    A.drain_serve_log()
    try:
        shared()
        shared()
        st = table.stat()
        pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), part)
        os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns))
        df = load_table(spark, sf, "documents")
        assert df.columns == ["doc_id", "text"]
        assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
        assert shared()["t"].columns == ["doc_id", "text"]
        assert A.drain_serve_log() == [
            ("catalog_dir@r1", s) for s in ("cold", "memo", "cold")
        ]
    finally:
        A.release_shared()


def test_lake_read_back_uses_the_written_schema(spark, tmp_path):
    """A parquet table the engine has just written reads back with no
    Spark job, and with the schema inference would give. Rewriting the
    path out of band (an added column) changes its fingerprint, so the
    next read infers the new schema. A partitioned write's partition
    column keeps its inferred type."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "silver" / "t")
    df = spark.range(5).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("ü-"), F.col("id").cast("string")).alias("s"),
        F.current_timestamp().alias("ts"),
    )
    write_table(df, path)
    back, jobs = jobs_during(spark, read_table, spark, path)
    assert jobs == 0
    assert back.schema == spark.read.parquet(path).schema
    assert sorted(r["k"] for r in back.collect()) == list(range(5))

    df.withColumn("extra", F.lit(1.5)).write.mode("overwrite").parquet(path)
    again = read_table(spark, path)
    assert again.columns == ["k", "s", "ts", "extra"]
    assert again.schema == spark.read.parquet(path).schema
    assert {r["extra"] for r in again.collect()} == {1.5}

    # a partitioned write enters nothing: partition columns keep the
    # type read-side inference gives them, on the first read and after
    ppath = str(tmp_path / "bronze" / "p")
    days = spark.createDataFrame([("2025-01-01", 1)], "date string, v int")
    write_table(days, ppath, partition_by=("date",))
    for _ in range(2):
        got = read_table(spark, ppath)
        assert got.schema == spark.read.parquet(ppath).schema
        assert dict(got.dtypes)["date"] == "date"


def test_lake_rewrites_enter_the_catalog(spark, tmp_path):
    """Every staged rewrite publishes through ``replace_table``, which
    enters the written schema under the live path: reading the table
    back after compaction, an unpartitioned upsert or a funnel-state
    merge launches no job and gives the schema inference would give."""
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.pipeline.lake import (
        compact_table,
        upsert_table,
    )
    from energy_data_pipeline_project_spark.streaming.funnel import (
        merge_state,
    )

    def read_back(path, step):
        back, jobs = jobs_during(spark, read_table, spark, path)
        assert jobs == 0, step
        assert back.schema == spark.read.parquet(path).schema, step
        return back

    path = str(tmp_path / "t")
    write_table(
        spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("ver"),
            F.col("id").cast("string").alias("v"),
        ),
        path,
    )
    assert compact_table(spark, path) == 1
    assert read_back(path, "compact").count() == 100
    updates = spark.createDataFrame(
        [(1, 500, "x"), (200, 1, "new")], "k long, ver long, v string"
    )
    upsert_table(spark, path, updates, key_cols=("k",), order_col="ver")
    got = {r["k"]: r["v"] for r in read_back(path, "upsert").collect()}
    assert len(got) == 101 and got[1] == "x" and got[200] == "new"

    state = str(tmp_path / "state")
    schema = "user_id bigint, mv bigint, mc bigint, mp bigint"
    merge_state(state, spark.createDataFrame([(1, 5, None, None)], schema))
    read_back(state, "merge-1")
    merge_state(
        state, spark.createDataFrame([(1, 3, 4, None), (2, 7, 8, 9)], schema)
    )
    assert sorted(map(tuple, read_back(state, "merge-2").collect())) == [
        (1, 3, 4, None),
        (2, 7, 8, 9),
    ]


def test_pipeline_read_backs_launch_no_jobs(spark, tmp_path, monkeypatch):
    """Every ``read_table`` inside ``run_pipeline`` (bronze, silver and
    gold read-backs) reads a table the run has just written, so none
    launches a schema-inference job."""
    from energy_data_pipeline_project_spark.pipeline import runner
    from energy_data_pipeline_project_spark.pipeline.config import (
        PipelineConfig,
        default_datasets,
    )
    from energy_data_pipeline_project_spark.sources.fixtures import (
        fixture_payloads,
    )
    from energy_data_pipeline_project_spark.sources.payloads import (
        LocalJsonSource,
    )

    jobs: dict[str, int] = {}

    def counted(spark, path, fmt="parquet"):
        df, jobs[path] = jobs_during(spark, read_table, spark, path, fmt)
        return df

    monkeypatch.setattr(runner, "read_table", counted)
    cfg = PipelineConfig(
        lake_root=str(tmp_path / "lake"),
        start_date="2025-01-01",
        end_date="2025-01-03",
        datasets=default_datasets(),
    )
    days = [d.isoformat() for d in cfg.dates()]
    runner.run_pipeline(spark, cfg, LocalJsonSource(fixture_payloads(days)))
    assert len(jobs) == 7  # 2 bronze, 2 silver, 3 gold
    assert jobs == {p: 0 for p in jobs}


def test_batch_sink_carries_its_catalog_entry(spark, tmp_path):
    """A ``batch_id=`` sink that has been read once reads back after a
    later batch with no inference job: ``overwrite_partitions`` carries
    the entry across the write. An empty batch writes no partition: a
    replayed empty batch 0 keeps its rows, and on a new sink it leaves
    no table."""
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.pipeline.lake import (
        read_for_rewrite,
        write_batch_partition,
    )

    path = str(tmp_path / "index")
    rows = spark.range(50).select(
        F.col("id").alias("h"), (F.col("id") % 7).cast("int").alias("owner")
    )
    write_batch_partition(rows, path, 0)
    assert read_for_rewrite(spark, path).count() == 50
    write_batch_partition(rows.where("h < 3"), path, 1)
    idx, jobs = jobs_during(spark, read_for_rewrite, spark, path)
    assert jobs == 0
    assert idx.schema == spark.read.parquet(path).schema
    assert idx.count() == 53

    write_batch_partition(rows.limit(0), path, 0)
    counts = read_for_rewrite(spark, path).groupBy("batch_id").count()
    assert sorted(map(tuple, counts.collect())) == [(0, 50), (1, 3)]

    fresh = str(tmp_path / "fresh")
    write_batch_partition(rows.limit(0), fresh, 0)
    assert read_for_rewrite(spark, fresh) is None


def test_new_batch_sink_enters_its_schema(spark, tmp_path):
    """The first non-empty ``write_batch_partition`` into a new path
    enters the sink's schema in the table catalog: reading the sink
    back launches no job and gives the schema a fresh read infers
    (every column nullable, ``batch_id`` an ``int``). An empty first
    write enters nothing; the first write with rows then does."""
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.pipeline.lake import (
        read_for_rewrite,
        write_batch_partition,
    )
    from energy_data_pipeline_project_spark.sources.tables import (
        current_schema,
    )

    rows = spark.range(20).select(
        F.col("id").alias("h"),
        F.array(F.col("id").cast("int")).alias("v"),
        F.lit("x").alias("s"),
    )
    path = str(tmp_path / "index")
    write_batch_partition(rows, path, 0)
    idx, jobs = jobs_during(spark, read_for_rewrite, spark, path)
    assert jobs == 0
    assert idx.schema == spark.read.parquet(path).schema
    assert dict(idx.dtypes)["batch_id"] == "int"
    assert idx.count() == 20

    late = str(tmp_path / "late")
    write_batch_partition(rows.limit(0), late, 0)
    assert current_schema(late) is None
    write_batch_partition(rows, late, 1)
    idx, jobs = jobs_during(spark, read_for_rewrite, spark, late)
    assert jobs == 0
    assert idx.schema == spark.read.parquet(late).schema


def test_earlier_batches_read_is_strict(spark, tmp_path):
    """``read_earlier_batches`` is the replay rule of every growing
    index: only the partitions strictly below the given id, without the
    ``batch_id`` column, and ``None`` before the first write. A frame
    built from it may run after the batch's own partition is written
    (a first attempt or a replay): that partition never reaches it."""
    from energy_data_pipeline_project_spark.pipeline.lake import (
        read_earlier_batches,
        write_batch_partition,
    )

    path = str(tmp_path / "index")
    assert read_earlier_batches(spark, path, 0) is None

    def batch(b):
        return spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "h")

    def hs(frame):
        return sorted(r["h"] for r in frame.collect())

    write_batch_partition(batch(0), path, 0)
    for b in (1, 2):
        earlier = read_earlier_batches(spark, path, b)
        write_batch_partition(batch(b), path, b)
        assert earlier.columns == ["h"]
        assert hs(earlier) == list(range(b * 10))
    assert hs(read_earlier_batches(spark, path, 0)) == []
    replay = read_earlier_batches(spark, path, 1)
    write_batch_partition(batch(1), path, 1)
    assert hs(replay) == list(range(10))


def test_partition_overwrite_carries_only_a_current_entry(spark, tmp_path):
    """``overwrite_partitions`` carries a catalog entry only when it
    matched the table before the write. An unpartitioned table's entry
    goes stale when the table is republished partitioned by ``date``;
    carried onto the ``date=`` layout it would type ``date`` as the
    written string instead of the inferred ``DATE``."""
    from energy_data_pipeline_project_spark.pipeline.lake import (
        overwrite_partitions,
        replace_table,
    )

    schema = "date string, v int"
    path = str(tmp_path / "t")
    write_table(
        spark.createDataFrame([("2025-01-01", 1), ("2025-01-02", 2)], schema),
        path,
    )
    assert dict(read_table(spark, path).dtypes)["date"] == "string"
    replace_table(read_table(spark, path), path, partition_by=("date",))
    overwrite_partitions(
        spark.createDataFrame([("2025-01-02", 3)], schema), path, ("date",)
    )
    back = read_table(spark, path)
    assert dict(back.dtypes)["date"] == "date"
    assert back.schema == spark.read.parquet(path).schema
    assert sorted((str(r["date"]), r["v"]) for r in back.collect()) == [
        ("2025-01-01", 1),
        ("2025-01-02", 3),
    ]

    # the entry that read entered is current: the next day carries it
    overwrite_partitions(
        spark.createDataFrame([("2025-01-03", 4)], schema), path, ("date",)
    )
    again, jobs = jobs_during(spark, read_table, spark, path)
    assert jobs == 0
    assert again.schema == back.schema
    assert again.count() == 3
