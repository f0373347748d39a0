"""Embedding clustering: distributed Lloyd's k-means, oracle-checked,
and the integer-grid Lloyd step that ``dedup_semantic``, the PQ
queries, ``ann_topk_ivfpq`` and the PQ server reuse. (``ann_topk_ivf``
shares only ``GRID_QUANT``: its centroids are per-label means with no
assignment step.)

Determinism strategy (k-means is normally float-order-dependent):
embeddings are quantized to an integer grid so every distance is EXACT
integer arithmetic, argmin ties break on the lowest centroid id via a
composite ``dist * mult + id`` BIGINT key, and centroid updates floor
the exact-integer mean. Each is one SQL text below that the DuckDB
oracles interpolate and the engine applies with ``selectExpr`` /
``F.expr``, so each oracle replays a full iterative algorithm under the
hash-equality gate, not a rows-only check.

Scale posture (100 TB of embeddings): the melted frame shuffles once
per iteration on ``dim`` (assignment join) and once on ``vec_id``
(update join); centroids are K×D rows — always broadcast. Each
iteration ends in ``localCheckpoint(eager=True)`` because iterative
plans that reference the prior frame twice double per round and
eventually OOM the ANALYZER (same lesson as
``dedup.dedup_cluster_cc``). The k-means melt is checkpointed once up
front so iterations re-read a materialized 3-column frame, not the
source parquet. For very high dim counts the melted formulation
trades 64× row inflation for exactness; the float fast path at scale
is the Arrow/BLAS kernel already in ``similarity.ann_topk_numpy``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.vectors import VALID_VEC_DUCK, VALID_VEC_SPARK
from ..sources.tables import load_table
from ._registry import make_registry

QUERIES, ORACLES, query = make_registry()

# ---------------------------------------------------------------------------
# The integer-grid Lloyd step
# ---------------------------------------------------------------------------
# Points are melted rows ``(id, dim, [sub,] val)``, centroids rows
# ``(centroid id, dim, [sub,] cval)``, paired on ``dim``. The texts are
# the whole arithmetic; the engine functions and their DuckDB twins
# below only wire joins and groupings around them, one per step. An id
# decodes from a key with ``%`` in both engines, a distance with
# ``DIV`` (Spark) or ``//`` (DuckDB).
GRID_QUANT = 10000  # val = FLOOR(v * GRID_QUANT) for every Lloyd operator


def grid_sql(v: str) -> str:
    """One embedding element on the integer grid, as BIGINT."""
    return f"CAST(FLOOR(CAST({v} AS DOUBLE) * {GRID_QUANT}) AS BIGINT)"


def sq_dist_sql(a: str, b: str) -> str:
    """Exact squared distance, summed over the dims a join pairs up
    (|val| <= 10^4 over 64 dims keeps it below 10^10)."""
    return f"SUM(({a} - {b}) * ({a} - {b}))"


def rank_key_sql(mult: int, cid: str) -> str:
    """Distance order, ties to the lowest id; exact while 0 <= cid < mult."""
    return f"dist * {mult} + {cid}"


def argmin_key_sql(mult: int, cid: str) -> str:
    """The nearest centroid as one key: id ``key % mult``, distance
    ``key DIV mult``."""
    return f"MIN({rank_key_sql(mult, cid)})"


def floored_mean_sql(val: str) -> str:
    """The centroid update. FLOOR, not ROUND: an integer mean lands on
    .5 often enough to hit the HALF_UP-vs-banker's engine divergence."""
    return f"CAST(FLOOR(CAST(SUM({val}) AS DOUBLE) / COUNT(*)) AS BIGINT)"


def grid_melt(
    frame: DataFrame, id_col: str = "vec_id", *, subdim: int | None = None
) -> DataFrame:
    """``(id_col, dim, [sub,] val)``: each valid ``embedding`` element
    on the grid, ``dim`` 1-based, ``sub = (dim - 1) DIV subdim``.
    Invalid vectors go first: a NaN/Inf element aborts the grid cast
    under ANSI."""
    sub = [f"pos0 DIV {subdim} AS sub"] if subdim else []
    return (
        frame.where(VALID_VEC_SPARK)
        .select(id_col, F.posexplode("embedding").alias("pos0", "v"))
        .selectExpr(
            id_col, "CAST(pos0 + 1 AS BIGINT) AS dim", *sub,
            f"{grid_sql('v')} AS val",
        )
    )


def centroid_distances(
    points: DataFrame, cent: DataFrame, *, keys: Sequence[str], cid: str,
    cval: str = "cval", out: str = "dist",
) -> DataFrame:
    """``(keys..., cid, out)``: each point's squared distance to each
    broadcast centroid; a vec_id held by two rows sums both. The
    centroid's copy of a point key (PQ's ``sub``) is dropped: ``dim``
    determines it."""
    return (
        points.join(F.broadcast(cent.drop(*keys)), "dim")
        .groupBy(*keys, cid)
        .agg(F.expr(f"{sq_dist_sql('val', cval)} AS {out}"))
    )


def nearest_centroid(
    points: DataFrame, cent: DataFrame, *, keys: Sequence[str], cid: str,
    mult: int, cval: str = "cval", decode: bool = False,
) -> DataFrame:
    """``(keys..., key)`` by ``argmin_key_sql``; with ``decode``,
    ``(keys..., cid)``."""
    key = argmin_key_sql(mult, cid)
    agg = f"{key} % {mult} AS {cid}" if decode else f"{key} AS key"
    return (
        centroid_distances(points, cent, keys=keys, cid=cid, cval=cval)
        .groupBy(*keys)
        .agg(F.expr(agg))
    )


def centroid_means(
    points: DataFrame, labels: DataFrame, *, on: Sequence[str],
    by: Sequence[str], out: str = "cval",
) -> DataFrame:
    """``(by..., out)``: the floored-mean update over the points that
    ``labels`` (joined on ``on``) tags with a centroid id."""
    return (
        points.join(labels, list(on))
        .groupBy(*by)
        .agg(F.expr(f"{floored_mean_sql('val')} AS {out}"))
    )


def lloyd(
    points: DataFrame, *, k: int, iters: int, keys: Sequence[str], cid: str,
    train: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd rounds from the points of the first ``k``
    vec_ids. The first ``iters - 1`` assign and update over ``train``
    (default ``points``), each centroid frame checkpointed eagerly; the
    last assigns every point. ``keys[0]`` is the point id; a further
    key (PQ's ``sub``) is carried onto the centroids. Returns the
    ``(keys..., key)`` assignment and the centroids it used."""
    train = points if train is None else train
    cent = points.where(F.col("vec_id") < k).withColumnsRenamed(
        {"vec_id": cid, "val": "cval"}
    )
    for _ in range(iters - 1):
        labels = nearest_centroid(train, cent, keys=keys, cid=cid, mult=k)
        cent = centroid_means(
            train, labels.selectExpr(*keys, f"key % {k} AS {cid}"),
            on=keys, by=(cid, *keys[1:], "dim"),
        ).localCheckpoint(eager=True)
    return nearest_centroid(points, cent, keys=keys, cid=cid, mult=k), cent


# The DuckDB twins. Each returns one CTE ``name AS (...)``, except
# ``distance_sql`` (a SELECT) and ``lloyd_ctes`` (a chain).
def melt_cte(
    name: str = "m", *, subdim: int | None = None, extra: Sequence[str] = (),
    materialized: bool = False,
) -> str:
    """``grid_melt`` of the ``embeddings`` table; ``extra`` adds
    columns over the raw element ``u['v']``."""
    sub = f"(u['d'] - 1) // {subdim} AS sub, " if subdim else ""
    more = "".join(f",\n             {e}" for e in extra)
    return f"""{name} AS {"MATERIALIZED " if materialized else ""}(
      SELECT vec_id, u['d'] AS dim, {sub}{grid_sql("u['v']")} AS val{more}
      FROM (SELECT vec_id,
                   unnest(list_transform(generate_series(1, len(embedding)),
                          i -> {{'d': i, 'v': embedding[i]}})) AS u
            FROM embeddings WHERE {VALID_VEC_DUCK})
    )"""


def seed_cte(name: str, points: str, *, k: int, cid: str) -> str:
    """``lloyd``'s init: the points of the first ``k`` vec_ids."""
    return f"""{name} AS (
      SELECT vec_id AS {cid}, * EXCLUDE (vec_id, val), val AS cval
      FROM {points} WHERE vec_id < {k}
    )"""


def distance_sql(
    points: str, cent: str, *, keys: Sequence[str], cid: str,
    cval: str = "cval", out: str = "dist",
) -> str:
    """``centroid_distances`` as a SELECT over two relations."""
    ks = ", ".join(f"p.{c}" for c in keys)
    return f"""SELECT {ks}, c.{cid}, {sq_dist_sql('p.val', f'c.{cval}')} AS {out}
            FROM {points} p JOIN {cent} c ON p.dim = c.dim
            GROUP BY {ks}, c.{cid}"""


def nearest_cte(
    name: str, dists: str, *, keys: Sequence[str], cid: str, mult: int,
    decode: bool = False, materialized: bool = False,
) -> str:
    """``nearest_centroid`` over a distance relation ``dists`` (a CTE
    name, or a parenthesized ``distance_sql``)."""
    ks, key = ", ".join(keys), argmin_key_sql(mult, cid)
    col = f"{key} % {mult} AS {cid}" if decode else f"{key} AS key"
    return f"""{name} AS {"MATERIALIZED " if materialized else ""}(
      SELECT {ks}, {col}
      FROM {dists}
      GROUP BY {ks}
    )"""


def mean_cte(
    name: str, points: str, labels: str, *, on: Sequence[str],
    by: Sequence[str], out: str = "cval",
) -> str:
    """``centroid_means``; materialized, as the next round (and a PQ
    lookup table) re-reads it."""
    cols = ", ".join(by)
    return f"""{name} AS MATERIALIZED (
      SELECT {cols}, {floored_mean_sql('val')} AS {out}
      FROM {points} JOIN {labels} USING ({", ".join(on)})
      GROUP BY {cols}
    )"""


def lloyd_ctes(
    points: str, *, k: int, iters: int, keys: Sequence[str], cid: str
) -> str:
    """``lloyd`` over every point as the chain ``c0, a1, c1, …,
    a{iters}``, each item led by ``", "``: ``a{iters}`` is the final
    ``(keys..., key)``, ``c{iters - 1}`` the centroids it used."""
    parts = [seed_cte("c0", points, k=k, cid=cid)]
    for it in range(1, iters + 1):
        dists = distance_sql(points, f"c{it - 1}", keys=keys, cid=cid)
        parts.append(
            nearest_cte(f"a{it}", f"({dists})", keys=keys, cid=cid, mult=k)
        )
        if it < iters:
            labels = f"(SELECT {', '.join(keys)}, key % {k} AS {cid} FROM a{it})"
            by = (cid, *keys[1:], "dim")
            parts.append(mean_cte(f"c{it}", points, labels, on=keys, by=by))
    return "".join(f", {p}" for p in parts)


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------
KMEANS_K = 8
KMEANS_ITERS = 3


def _kmeans_oracle() -> str:
    """The DuckDB twin: the same grid, init, and {KMEANS_ITERS}
    assign/update rounds as the Spark plan, as one CTE chain."""
    k = KMEANS_K
    chain = lloyd_ctes(
        "m", k=k, iters=KMEANS_ITERS, keys=("vec_id",), cid="cluster"
    )
    return f"""
    WITH {melt_cte("m")}{chain}
    SELECT vec_id, CAST(key % {k} AS BIGINT) AS cluster,
           CAST(key // {k} AS BIGINT) AS dist_sq
    FROM a{KMEANS_ITERS}
    """


@query("kmeans_embeddings", _kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations of k-means (K={KMEANS_K}) over the
    embeddings table on the integer grid; returns every vector's final
    cluster and exact squared distance.

    Init: the first K vec_ids' grid embeddings. Assignment:
    exact-integer distance argmin with lowest-cluster tie-break via the
    composite BIGINT key ``dist * K + cluster``. Update: floored
    exact-integer mean per (cluster, dim).

    The DuckDB oracle replays the identical iteration chain (generated
    from the same texts and constants), making this an iterative
    distributed algorithm under the exact hash gate."""
    return _kmeans(spark, sf_dir, KMEANS_ITERS)


def _kmeans(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    k = KMEANS_K
    emb = load_table(spark, sf_dir, "embeddings")
    melted = grid_melt(emb).localCheckpoint(eager=True)
    assign, _ = lloyd(
        melted, k=k, iters=iters, keys=("vec_id",), cid="cluster"
    )
    return assign.selectExpr(
        "vec_id", f"key % {k} AS cluster", f"key DIV {k} AS dist_sq"
    )


# ---------------------------------------------------------------------------
# Per-label covariance spectrum — the grouped-map (applyInPandas) kernel
# ---------------------------------------------------------------------------
# Embedding-space diagnostics a curation pipeline runs per class/source:
# covariance trace (total variance) and top eigenvalue (dominant-axis
# concentration). Eigen-decomposition is genuinely not expressible in
# SQL, so this is the repo's canonical GROUPED-MAP Pandas kernel: whole
# groups arrive as one Arrow-backed pandas frame, numpy does dense
# linear algebra per group, and the cluster-side contract (schema,
# group partitioning, determinism) is what the test pins. Rows are
# sorted by vec_id inside the kernel so results do not depend on
# shuffle arrival order. At 100 TB each group must fit one executor —
# labels are classes (dozens-hundreds), embeddings are 64-dim, so a
# group is rows×256B: fine. For million-class regimes switch the
# grouping key to (label, hash-bucket) and merge moments.
def label_spectrum(emb: DataFrame) -> DataFrame:
    import pandas as pd

    # a NULL label is not a profileable group: it reaches the kernel
    # as NaN and int(NaN) kills the task — the
    # same quarantine posture as the NULL/ragged embedding drop below
    emb = emb.where("label IS NOT NULL")

    schema = (
        "label int, n_vectors long, dim int, "
        "cov_trace double, top_eigenvalue double, top_eig_share double"
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        # Drop NULL / ragged embeddings BEFORE np.stack: one NULL cell
        # (nullable by parquet default) or a truncated array raises
        # inside the kernel and kills the whole job after task retries
        # — the same degenerate-input class the n<2 / tr==0 branches
        # already handle deliberately. The modal length decides d so
        # a single corrupt row cannot redefine the group's dimension.
        arrs = [a for a in pdf["embedding"].to_numpy() if a is not None]
        if arrs:
            lens = pd.Series([len(a) for a in arrs])
            d_mode = int(lens.mode().iloc[0])
            # NULL elements arrive as NaN inside the Arrow array and
            # poison cov/eigvalsh, and a ±Inf element makes eigvalsh
            # raise outright —
            # a vector with an unmeasured or non-finite component is
            # dropped like a NULL vector
            arrs = [
                a
                for a in arrs
                if len(a) == d_mode and np.isfinite(a).all()
            ]
        if not arrs:
            return pd.DataFrame(
                [[int(pdf["label"].iloc[0]), 0, 0, 0.0, 0.0, 0.0]],
                columns=[
                    "label", "n_vectors", "dim",
                    "cov_trace", "top_eigenvalue", "top_eig_share",
                ],
            )
        m = np.stack(arrs).astype(np.float64)
        n, d = m.shape
        if n < 2:
            return pd.DataFrame(
                [[int(pdf["label"].iloc[0]), n, d, 0.0, 0.0, 0.0]],
                columns=[
                    "label", "n_vectors", "dim",
                    "cov_trace", "top_eigenvalue", "top_eig_share",
                ],
            )
        if d == 0:
            # a label whose MODAL vector length is 0 (all-empty arrays
            # are valid, finite, uniform-length): there is no spectrum
            # — same zero readout as the no-valid-vectors branch, but
            # with the group's true n
            return pd.DataFrame(
                [[int(pdf["label"].iloc[0]), n, 0, 0.0, 0.0, 0.0]],
                columns=[
                    "label", "n_vectors", "dim",
                    "cov_trace", "top_eigenvalue", "top_eig_share",
                ],
            )
        # d == 1: np.cov(rowvar=False) collapses an (n, 1) matrix to a
        # 0-D scalar and eigvalsh raises LinAlgError (a label group
        # whose modal dim is 1). atleast_2d keeps
        # the same math: top eigenvalue == variance == trace, share 1.
        c = np.atleast_2d(np.cov(m, rowvar=False))
        ev = float(np.linalg.eigvalsh(c)[-1])
        tr = float(np.trace(c))
        # tr == 0 when every vector in the label is identical (dup
        # docs sharing one embedding): the spectrum is degenerate and
        # the share is 0 by the same convention as the n < 2 branch —
        # a bare ev/tr would raise ZeroDivisionError and abort the
        # whole job
        share = round(ev / tr, 6) if tr != 0.0 else 0.0
        return pd.DataFrame(
            [[int(pdf["label"].iloc[0]), n, d, round(tr, 6),
              round(ev, 6), share]],
            columns=[
                "label", "n_vectors", "dim",
                "cov_trace", "top_eigenvalue", "top_eig_share",
            ],
        )

    return emb.groupBy("label").applyInPandas(kernel, schema)


@query("embedding_label_spectrum")  # no oracle: eigendecomposition
def embedding_label_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label covariance trace / top eigenvalue / dominant-axis
    share over the embeddings table (rows-only driver check; exactness
    vs in-process numpy pinned by tests/test_clustering.py)."""
    return label_spectrum(load_table(spark, sf_dir, "embeddings"))
