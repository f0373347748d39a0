"""k-means quality gates: the oracle parity test proves both engines
agree; these prove the algorithm actually CLUSTERS."""

from __future__ import annotations

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.operators import clustering

from .conftest import SF_SMOKE


def test_kmeans_uses_multiple_clusters(spark):
    df = clustering.QUERIES["kmeans_embeddings"](spark, SF_SMOKE)
    n_clusters = df.select("cluster").distinct().count()
    assert n_clusters > 1
    assert df.count() == 500  # every vector assigned exactly once
    assert df.select("vec_id").distinct().count() == 500


def test_kmeans_inertia_monotone_nonincreasing(spark):
    """Lloyd's guarantee: total squared distance never increases with
    more iterations (on the same integer grid + same init)."""
    inertia = {
        it: clustering._kmeans(spark, SF_SMOKE, it)
        .agg(F.sum("dist_sq").alias("s"))
        .collect()[0]["s"]
        for it in (1, 3)
    }
    assert inertia[3] <= inertia[1]


def test_lloyd_step_engine_equals_oracle_text(spark):
    """The shared integer-grid Lloyd step gives identical rows in the
    engine and in DuckDB on cases no operator test reaches: a point
    equidistant from centroids 2 and 5 goes to 2; a vec_id held by two
    rows sums both rows' distances (per row, one would go to 2 and the
    other to 5); a negative sum's mean floors toward -inf (-17 / 3 is
    -6, not -5)."""
    import duckdb

    from energy_data_pipeline_project_spark.operators.clustering import (
        centroid_means,
        distance_sql,
        mean_cte,
        nearest_centroid,
        nearest_cte,
    )

    mult, keys = 8, ("vec_id",)
    cent = {0: (1000, 1000), 1: (-1000, 1000), 2: (0, 10),
            3: (1000, -1000), 4: (-1000, -1000), 5: (0, -10)}
    vecs = [(10, (0, 0)), (11, (0, 9)), (11, (0, -11)),
            (12, (-3, -15)), (13, (1, 3))]
    cent_rows = [
        (c, d + 1, v) for c, xs in cent.items() for d, v in enumerate(xs)
    ]
    point_rows = [(i, d + 1, v) for i, xs in vecs for d, v in enumerate(xs)]

    points = spark.createDataFrame(point_rows, "vec_id long, dim long, val long")
    cents = spark.createDataFrame(cent_rows, "cluster long, dim long, cval long")
    nearest = nearest_centroid(
        points, cents, keys=keys, cid="cluster", mult=mult
    )
    labels = nearest_centroid(
        points, cents, keys=keys, cid="cluster", mult=mult, decode=True
    )
    means = centroid_means(points, labels, on=keys, by=("cluster", "dim"))

    con = duckdb.connect()
    con.execute("CREATE TABLE p (vec_id BIGINT, dim BIGINT, val BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", point_rows)
    con.execute("CREATE TABLE c (cluster BIGINT, dim BIGINT, cval BIGINT)")
    con.executemany("INSERT INTO c VALUES (?, ?, ?)", cent_rows)
    dists = f"({distance_sql('p', 'c', keys=keys, cid='cluster')})"
    near = nearest_cte("a", dists, keys=keys, cid="cluster", mult=mult)
    lab = nearest_cte(
        "l", dists, keys=keys, cid="cluster", mult=mult, decode=True
    )
    upd = mean_cte("u", "p", "l", on=keys, by=("cluster", "dim"))

    def duck(sql: str) -> list[tuple]:
        return con.execute(sql).fetchall()

    key = [(10, 100 * mult + 2), (11, 362 * mult + 5),
           (12, 34 * mult + 5), (13, 50 * mult + 2)]
    assert sorted(tuple(r) for r in nearest.collect()) == key
    assert duck(f"WITH {near} SELECT * FROM a ORDER BY 1") == key
    mean = [(2, 1, 0), (2, 2, 1), (5, 1, -1), (5, 2, -6)]
    assert sorted(tuple(r) for r in means.collect()) == mean
    assert duck(f"WITH {lab}, {upd} SELECT * FROM u ORDER BY 1, 2") == mean


def test_label_spectrum_matches_local_numpy(spark):
    """The grouped-map kernel must reproduce an in-process numpy
    computation exactly (same sort order, same float64 path)."""
    import numpy as np

    from energy_data_pipeline_project_spark.operators.clustering import (
        QUERIES as CQ,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    from .conftest import SF_CORRECT

    got = {
        r["label"]: r
        for r in CQ["embedding_label_spectrum"](spark, SF_CORRECT).collect()
    }
    rows = load_table(spark, SF_CORRECT, "embeddings").collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append((r["vec_id"], r["embedding"]))
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        vecs.sort()
        m = np.stack([v for _, v in vecs]).astype(np.float64)
        c = np.cov(m, rowvar=False)
        assert got[label]["n_vectors"] == len(vecs)
        assert got[label]["cov_trace"] == round(float(np.trace(c)), 6)
        assert got[label]["top_eigenvalue"] == round(
            float(np.linalg.eigvalsh(c)[-1]), 6
        )


def test_label_spectrum_degenerate_dims(spark):
    """Modal dim 1 and modal dim 0 label groups (r11 fuzz seed 162).

    np.cov(rowvar=False) of an (n, 1) matrix is a 0-D scalar —
    eigvalsh raised LinAlgError and killed the whole job; an all-empty
    group has no spectrum. dim-1 math: top eigenvalue == variance ==
    trace, share 1. The mixed group keeps only its modal (dim-1)
    members."""
    from energy_data_pipeline_project_spark.operators.clustering import (
        label_spectrum,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5], 9),
            (2, [0.7], 9),
            (3, [], 10),
            (4, [], 10),
            # modal dim 1 with a ragged 2-dim outlier (dropped)
            (5, [0.1], 11),
            (6, [0.3], 11),
            (7, [0.1, 0.2], 11),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    got = {r["label"]: r for r in label_spectrum(df).collect()}
    var9 = round(0.02, 6)  # np.cov ddof=1 of [0.5, 0.7]
    assert (got[9]["n_vectors"], got[9]["dim"]) == (2, 1)
    assert got[9]["cov_trace"] == var9
    assert got[9]["top_eigenvalue"] == var9
    assert got[9]["top_eig_share"] == 1.0
    assert (got[10]["n_vectors"], got[10]["dim"]) == (2, 0)
    assert (got[10]["cov_trace"], got[10]["top_eigenvalue"]) == (0.0, 0.0)
    assert (got[11]["n_vectors"], got[11]["dim"]) == (2, 1)
    assert got[11]["top_eig_share"] == 1.0
