from __future__ import annotations

import pytest

from energy_data_pipeline_project_spark.pipeline.lake import (
    delta_available,
    read_table,
    write_table,
)
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
