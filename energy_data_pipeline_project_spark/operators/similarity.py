"""Similarity search over the ``embeddings`` table (``array<float>``).

Four search paths plus corpus profiling:

- ``ann_topk_bruteforce`` — exact top-k cosine for a small query set,
  expressed entirely in Catalyst higher-order functions (zip_with +
  aggregate → codegen'd JVM loops, no Python). Broadcast the query
  side; candidates stream by. This is the correctness baseline.
- ``ann_topk_lsh`` — multi-table random-hyperplane LSH (deterministic
  integer hyperplanes), candidates = union of the query's
  bucket-mates across L tables, then exact cosine re-rank. At 100 TB
  this turns an all-pairs scan into a bucket equi-join.
- ``ann_topk_ivf`` — centroid-cell inverted file with an ``nprobe``
  probe-width knob.
- ``ann_topk_numpy`` — Arrow-batched mapInPandas brute force (numpy
  matrix multiply per batch). Fastest single-node throughput; kept as
  a rows-only check (the SQL oracle covers correctness via the
  bruteforce twin above).
- ``embedding_norm_stats`` — per-label L2-norm profiling.

Both approximate paths carry recall@5 ≥ 0.8 gates vs brute force
(tests/test_similarity_recall.py).

Float-parity note: since r08 every oracle cosine in this tier is the
IDENTICAL IEEE expression tree as the Spark fold
(``V.cosine_duck``: a ``list_reduce`` replay of
``aggregate(zip_with(…))``, same products, same two sqrts, same
divide), so raw cosines are bit-identical across engines — verified
empirically over all 3992 bruteforce pairs at sf0.01 — and rankings
on the unrounded value can never split. The oracled queries emit the
RAW cosine: identical doubles canonicalize identically, whereas the
previous ``ROUND(,4)`` emission was itself a divergence source even
over bit-identical inputs (Spark rounds the shortest decimal repr
HALF_UP, DuckDB rounds the binary value — they split at exact
decimal halves, r07, measured). The previous formulation ranked on
each engine's own kernel (Spark fold vs DuckDB
``list_cosine_similarity``), which made the round load-bearing ulp
absorption with a documented near-tie residual (r07 advisor); both
the kernel mismatch and the round are now gone. ``ann_topk_numpy``
(rows-only, BLAS kernel, no oracle) keeps its display round, and
``embedding_norm_stats`` keeps its own note: a float SUM across rows
is partition-order-dependent in any engine, so its ROUND absorbs
re-association, not kernel, noise.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import vectors as V
from ..pipeline import artifacts as A
from ..sources.tables import load_table
from ._registry import make_registry

QUERIES, ORACLES, query = make_registry()

N_QUERY_VECS = 8
TOP_K = 5

# IVF probe width: each query searches its NPROBE nearest centroid
# cells (candidates stay assigned to their single home cell). The
# testdata corpus is weakly clustered (near-random vectors, label-mean
# centroids), so recall climbs slowly with probes: ~15% at nprobe=1,
# >=0.8 at nprobe=6 of 10 cells (pinned in
# tests/test_similarity_recall.py). On a genuinely clustered corpus a
# small nprobe/k fraction reaches the same recall.
IVF_NPROBE = 6

# Deterministic integer hyperplanes for sign-LSH (same literals embedded
# in Spark exprs and oracle SQL; zero-mean components in [-1024, 1024)).
#
# Multi-table LSH: L independent tables of k sign bits each. A single
# k-bit table has per-neighbor collision probability p^k where
# p = 1 - θ/π; on this weakly-clustered corpus (true top-5 cosine
# ~0.3-0.4 → p ≈ 0.61) one 8-bit table gives recall@5 ≈ 0.03. With
# L=12 tables of k=3 bits, collision is near-certain for true
# neighbors while random pairs still miss most tables — candidates are the
# union of the query's bucket-mates across tables, then exact re-rank.
# The tables/bits split is THE standard LSH recall/cost dial.
LSH_TABLES = 12
LSH_BITS = 3
LSH_DIM = 64

# Valid-vector predicate, one spelling per engine: the embeddings
# contract is non-NULL dim-64 arrays of FINITE floats, but real 100 TB
# ingest leaks NULL/ragged rows and NaN/±Inf elements, and those KILL
# whole jobs downstream (DuckDB list_dot_product rejects
# dim-mismatch/NULL; numpy stacks ragged batches as object arrays; the
# 1e4 integer-grid quantization casts NaN/Inf to BIGINT, which aborts
# under Spark ANSI and errors in DuckDB — the r10 third-wave sweep
# found 13 vector queries crashing or diverging on ONE non-finite
# element). Malformed vectors are excluded at the source of each
# vector operator — identically in the oracle — so one corrupt row
# degrades to "not indexed", never to a dead job.
EMB_DIM = 64
# The bad-ELEMENT lambda body, shared by both engines' spellings and
# by every inline fold guard in hof/multimodal/embedding queries:
# NULL, NaN, or ±Inf — any of them makes the vector unmeasurable.
BAD_ELEM_LAMBDA = (
    "x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
    " OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)"
)
VALID_VEC_SPARK = (
    f"(embedding IS NOT NULL AND size(embedding) = {EMB_DIM}"
    f" AND NOT exists(embedding, {BAD_ELEM_LAMBDA}))"
)
VALID_VEC_DUCK = (
    f"(embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
    f" AND len(list_filter(embedding, {BAD_ELEM_LAMBDA})) = 0)"
)


def _plane(j: int) -> list[int]:
    return [
        ((1103515245 * (j * LSH_DIM + d) + 12345) % 2048) - 1024
        for d in range(LSH_DIM)
    ]


def _table_bucket_sql(
    emb_col: str, t: int, *, duck: bool, pre_quantized: bool = False
) -> str:
    """Bucket id for table t: k sign bits from planes [t*k, (t+1)*k).

    ``pre_quantized=True`` means ``emb_col`` already holds the 1e4
    FLOOR grid values: the quantization then runs ONCE per row instead
    of inside all LSH_TABLES×LSH_BITS plane folds (the r09 profile
    showed 64 redundant FLOOR+CAST per element dominating the Spark
    side) — bitwise-identical sign bits either way."""
    # Components are FLOOR-quantized to the 1e4 integer grid before
    # the plane dot: every product and partial sum is then an exactly
    # representable integer-valued double (|term| <= 1e4*1024, 64-term
    # sum << 2^53), so the sign test is EXACT in both engines — the
    # raw-float dot was computed by different kernels (DuckDB
    # list_dot_product vs the Spark fold) whose near-zero results
    # could disagree and flip a vector's bucket (r07 review).
    terms = []
    for b in range(LSH_BITS):
        j = t * LSH_BITS + b
        if duck:
            lits = ", ".join(f"{c}.0" for c in _plane(j))
            src = (
                emb_col
                if pre_quantized
                else (
                    f"list_transform(CAST({emb_col} AS DOUBLE[]), "
                    f"x -> FLOOR(x * 10000.0))"
                )
            )
            dot = f"list_dot_product({src}, [{lits}]::DOUBLE[])"
            terms.append(f"CASE WHEN {dot} > 0.0 THEN {1 << b} ELSE 0 END")
        else:
            lits = ", ".join(f"{c}.0D" for c in _plane(j))
            elem = (
                "x * y"
                if pre_quantized
                else "FLOOR(CAST(x AS DOUBLE) * 10000.0) * y"
            )
            dot = (
                f"aggregate(zip_with({emb_col}, array({lits}), "
                f"(x, y) -> {elem}), "
                f"CAST(0.0 AS DOUBLE), "
                f"(acc, v) -> acc + v)"
            )
            terms.append(f"IF({dot} > 0.0, {1 << b}, 0)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


@query(
    "ann_topk_bruteforce",
    f"""
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de
                FROM embeddings WHERE {VALID_VEC_DUCK}),
    q AS (SELECT * FROM (
            SELECT vec_id AS query_id, de AS qe,
                   {V.norm_duck('de')} AS qn
            FROM e0 WHERE vec_id < {N_QUERY_VECS}) WHERE qn > 0.0),
    c AS (SELECT * FROM (
            SELECT vec_id AS neighbor_id, de AS ce,
                   {V.norm_duck('de')} AS cn
            FROM e0) WHERE cn > 0.0),
    s AS (SELECT query_id, neighbor_id,
                 ({V.dot_duck('qe', 'ce')} / (qn * cn)) AS cos
          FROM q, c WHERE query_id != neighbor_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rn
          FROM s)
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank,
           cos AS cosine
    FROM r WHERE rn <= {TOP_K}
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # positive-norm gates on BOTH engines (r07 applied them to every
    # integer-grid cosine; the raw-float rankings missed them): a
    # zero-norm vector's 0/0 cosine is Spark NULL (sorts LAST under
    # cos DESC) but DuckDB NaN (total order ranks it ABOVE every
    # number — rank 1 for every query) — latent only because the
    # fixture has no zero vectors (r08 review)
    # VALID_VEC + positive-norm (r11 fuzz hunt seed 31: a RAGGED
    # 65-dim candidate's cosine is NULL via Spark's zip_with pad but a
    # NUMBER via the oracle's generate_series fold, and NaN-element
    # vectors rank-tie differently per engine — the norm gate alone
    # passes both shapes)
    emb = load_table(spark, sf_dir, "embeddings").where(
        VALID_VEC_SPARK
    ).where(V.norm("embedding") > 0.0)
    q = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    s = (
        c.crossJoin(q)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", V.cosine("qe", "ce").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.col("cos").alias("cosine"))
    )


def _lsh_oracle() -> str:
    bucket_cols = ",\n                      ".join(
        f"{_table_bucket_sql('qde', t, duck=True, pre_quantized=True)}"
        f" AS b{t}"
        for t in range(LSH_TABLES)
    )
    melted = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS table_id, b{t} AS bucket FROM e"
        for t in range(LSH_TABLES)
    )
    return f"""
    WITH e0 AS MATERIALIZED (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de,
                      list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> FLOOR(x * 10000.0)) AS qde
               FROM embeddings WHERE {VALID_VEC_DUCK}),
    e AS MATERIALIZED (
               SELECT vec_id, de, {V.norm_duck("de")} AS nrm,
                      {bucket_cols}
               FROM e0),
    buckets AS (
    {melted}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q
      JOIN buckets c ON q.table_id = c.table_id AND q.bucket = c.bucket
                    AND c.vec_id != q.vec_id
      WHERE q.vec_id < {N_QUERY_VECS}
    ),
    s AS (SELECT cand.query_id, cand.neighbor_id,
                 ({V.dot_duck('qe.de', 'ce.de')} / (qe.nrm * ce.nrm)) AS cos
          FROM cand
          JOIN e qe ON cand.query_id = qe.vec_id
          JOIN e ce ON cand.neighbor_id = ce.vec_id
          WHERE qe.nrm > 0.0 AND ce.nrm > 0.0),
    r AS (SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rn
          FROM s)
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank,
           cos AS cosine
    FROM r WHERE rn <= {TOP_K}
    """


@query("ann_topk_lsh", _lsh_oracle())
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-k: L hash tables of k sign bits;
    candidates = union of the query's bucket-mates over tables
    (distinct), then exact cosine re-rank. Candidate generation is a
    (table_id, bucket) equi-join — the melted-bands shape shared with
    MinHash LSH — so at 100 TB it shuffles small int keys, never the
    O(n²) pair space. Recall@5 ≥ 0.8 vs brute force gated in
    tests/test_similarity_recall.py."""
    # malformed vectors out first (the oracle's e CTE carries the
    # same VALID_VEC filter): a NULL/ragged embedding would bucket as
    # a degenerate all-zero dot in Spark but ABORTS DuckDB's
    # fixed-width list kernel — and neither belongs in the index
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    # quantize ONCE per row (pre_quantized buckets): the grid FLOOR
    # previously re-ran inside all 64 plane folds (r09 profile)
    eq = emb.select(
        "vec_id",
        F.col("embedding").alias("de"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> FLOOR(x * 10000.0))"
        ).alias("qde"),
    )
    bucket_arr = F.array(
        *[
            F.expr(_table_bucket_sql("qde", t, duck=False, pre_quantized=True))
            for t in range(LSH_TABLES)
        ]
    )
    e = eq.select("vec_id", "de", bucket_arr.alias("buckets"))
    buckets = e.select(
        "vec_id", F.posexplode("buckets").alias("table_id", "bucket")
    )
    qb = buckets.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cand = (
        F.broadcast(qb)
        .join(
            buckets,
            (qb.table_id == buckets.table_id)
            & (qb.bucket == buckets.bucket)
            & (buckets.vec_id != qb.query_id),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # positive-norm gate at the RE-RANK stage only (matching the
    # oracle): a zero-norm vector's 0/0 cosine is Spark NULL vs DuckDB
    # NaN-ranks-first (r08 review). Gating the bucket stage instead
    # would shift capped bucket counts and change candidate sets.
    qe = e.where(
        (F.col("vec_id") < N_QUERY_VECS) & (V.norm("de") > 0.0)
    ).select(F.col("vec_id").alias("query_id"), F.col("de").alias("qe"))
    ce = e.where(V.norm("de") > 0.0).select(
        F.col("vec_id").alias("neighbor_id"), F.col("de").alias("ce")
    )
    s = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select("query_id", "neighbor_id", V.cosine("qe", "ce").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.col("cos").alias("cosine"))
    )


# IVF assignment grid — interpolated into the artifact signature AND
# both engines' expressions so a grid change can never serve a stale
# published centroid table (r09 second diff review)
IVF_GRID_QUANT = 10000


def _ivf_centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(label, cv)`` coarse-centroid arrays on the exact integer-sum
    grid — the IVF training artifact.

    Lake-artifact-backed (pipeline/artifacts.py, r08 verdict #3): at
    100 TB the centroid table is a published artifact an ANN serving
    tier reads, not a per-query full-corpus aggregation; a cold
    session reads the published frame and pays only the assignment
    join. The derivation is exact (integer sums, one correctly-rounded
    division per component), so read-back is bit-identical to
    recomputation and the oracle's replayed CTE chain stays
    hash-identical."""

    def _build() -> dict[str, DataFrame]:
        # VALID_VEC: Spark's FLOOR(double) returns BIGINT, so one ±Inf
        # element became a Long extreme and the centroid SUM overflowed
        # under ANSI (r10 third-wave sweep)
        emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
        # zero-grid-norm vectors are excluded from training exactly as
        # they are from assignment/query (the oracle trains its cent
        # CTE from the same filtered e; r09 degenerate sweep)
        grid = emb.select(
            "vec_id",
            "label",
            F.expr(
                "transform(CAST(embedding AS ARRAY<DOUBLE>),"
                f" x -> FLOOR(x * {IVF_GRID_QUANT}.0))"
            ).alias("qde"),
        ).where(F.expr("size(filter(qde, x -> x != 0)) > 0"))
        ep = grid.select(
            "vec_id",
            "label",
            F.posexplode("qde").alias("pos0", "qv"),
        ).select("label", (F.col("pos0") + 1).alias("pos"), "qv")
        cent = ep.groupBy("label", "pos").agg(
            (F.sum("qv") / F.count("*")).alias("c")
        )
        carr = cent.groupBy("label").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))),"
                " x -> x.c)"
            ).alias("cv")
        )
        return {"centroids": carr}

    # the @r2-q{grid} suffix is the algorithm signature (see
    # pq._PQ_CHAIN_REV's comment): a changed derivation must never
    # serve an index published by the old code. r2: VALID_VEC now
    # excludes NaN/Inf-element vectors, changing the training
    # population (r10 third-wave sweep).
    return A.shared(
        spark,
        f"ivf_coarse@r2-q{IVF_GRID_QUANT}",
        sf_dir,
        "embeddings",
        ("centroids",),
        _build,
    )["centroids"]


@query(
    "ann_topk_ivf",
    f"""
    WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de,
                      list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> FLOOR(x * 10000.0)) AS qde
               FROM embeddings WHERE {VALID_VEC_DUCK}),
    -- zero-grid-norm vectors (zero/empty/NULL embeddings, or magnitudes
    -- below the 1e-4 grid) have no direction on the assignment grid:
    -- their cosine is 0/0, which Spark's ANSI mode refuses and DuckDB
    -- NaN-ranks arbitrarily — both wrong answers. They are excluded
    -- from the index and the query set (r09 degenerate sweep).
    e AS (SELECT * FROM e0
          WHERE len(list_filter(qde, x -> x != 0)) > 0),
    ep AS (SELECT vec_id, label, i AS pos, qde[i] AS qv
           FROM e, LATERAL (SELECT unnest(generate_series(1, len(qde))) AS i)),
    cent AS (SELECT label, pos, SUM(qv) / COUNT(*) AS c
             FROM ep GROUP BY label, pos),
    carr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
             HAVING len(list_filter(list(c ORDER BY pos), x -> x != 0)) > 0),
    -- PER-ROW assignment via LATERAL (not a PARTITION BY vec_id
    -- window): a DUPLICATE vec_id carrying two different vectors must
    -- index each ROW under its own nearest cell — the window merged
    -- the pair and assigned the joint best cell to both, diverging
    -- from the Spark side's per-row sorted-struct expression (r11
    -- fuzz hunt seed 25)
    q AS (SELECT e.vec_id AS query_id, e.de AS qe, l.cell
          FROM e, LATERAL (
            SELECT carr.label AS cell FROM carr
            ORDER BY {V.cosine_duck('e.qde', 'carr.cv')} DESC, carr.label
            LIMIT {IVF_NPROBE}) l
          WHERE e.vec_id < {N_QUERY_VECS}),
    cand AS (SELECT e.vec_id AS neighbor_id, e.de AS ce, l.cell
             FROM e, LATERAL (
               SELECT carr.label AS cell FROM carr
               ORDER BY {V.cosine_duck('e.qde', 'carr.cv')} DESC, carr.label
               LIMIT 1) l),
    s AS (SELECT q.query_id, cand.neighbor_id,
                 {V.cosine_duck('q.qe', 'cand.ce')} AS cos
          FROM q JOIN cand ON q.cell = cand.cell
                          AND cand.neighbor_id != q.query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rn
          FROM s)
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank,
           cos AS cosine
    FROM r WHERE rn <= {TOP_K}
    """,
)
def ann_topk_ivf(
    spark: SparkSession, sf_dir: str, *, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF-style ANN: build a coarse quantizer (one centroid per label
    group — a deterministic stand-in for k-means training), assign every
    vector to its nearest centroid (the inverted file), then search the
    query's ``nprobe`` nearest cells.

    This is the scale path beyond sign-LSH: at 100 TB the assignment is
    a broadcast join against k centroid arrays (k ≪ corpus) + one
    zip_with cosine per vector, and search touches ~nprobe/k of the
    corpus per query. ``nprobe`` is the standard IVF speed/recall knob:
    on this weakly-clustered test corpus (max pairwise cosine ~0.4)
    recall@5 vs exact brute force is ~20% at nprobe=1 and >=0.8 at the
    default (asserted in tests/test_similarity_recall.py).
    """
    # VALID_VEC mirrors the oracle's e0 CTE (r10 third-wave sweep:
    # FLOOR(±Inf) → Long extreme → centroid SUM overflow)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    e = emb.select(
        "vec_id",
        "label",
        V.as_double("embedding").alias("de"),
        # assignment copy on the 1e4 FLOOR grid: sums of integer-
        # valued doubles are exact in any order, so the CENTROID
        # values are bit-identical across engines (exact sum, exact
        # count, one correctly-rounded division) — AVG over raw
        # doubles was partition-order-dependent (r07 review). The
        # assignment COSINE over those centroids is a float kernel;
        # it is bit-identical too, but only because the oracle runs
        # the same IEEE tree (V.cosine_duck, r08 — the r07 advisor
        # correctly flagged that quantized inputs alone don't pin a
        # kernel whose accumulation order differs). The final re-rank
        # cosine keeps the raw components.
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> FLOOR(x * 10000.0))"
        ).alias("qde"),
    )

    # the same zero-grid-norm exclusion as the oracle's e CTE (see
    # the oracle comment; r09 degenerate sweep)
    e = e.where(F.expr("size(filter(qde, x -> x != 0)) > 0"))
    carr = _ivf_centroid_arrays(spark, sf_dir).where(
        F.expr("size(filter(cv, x -> x != 0)) > 0")
    )
    # One row holding all k centroids: cell assignment becomes a pure
    # per-row EXPRESSION (sort k (−cos, label) structs, take the head)
    # instead of a crossJoin + row_number window — no assignment
    # shuffle, no second pass for the query probes. Arithmetic is
    # identical to V.cosine (dot / (norm·norm) over f64), and struct
    # ordering (−cos asc, label asc) replays the window's
    # (cos DESC, label ASC), so the oracle hash is unchanged.
    cents = F.broadcast(
        carr.agg(F.collect_list(F.struct("label", "cv")).alias("cents"))
    )
    cos_sql = (
        "(aggregate(zip_with(qde, c.cv, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
        "/ (sqrt(aggregate(qde, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x * x)) "
        "* sqrt(aggregate(c.cv, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x * x))))"
    )
    assigned = e.crossJoin(cents).withColumn(
        "cells",
        F.expr(
            "array_sort(transform(cents, c -> "
            f"struct(-{cos_sql} AS negcos, c.label AS clabel)))"
        ),
    )
    ec = assigned.select(
        "vec_id", "de", F.expr("cells[0].clabel").alias("cell")
    )
    # queries probe their nprobe nearest cells (candidates stay in
    # their single home cell, so each (query, candidate) pair is unique)
    q = F.broadcast(
        assigned.where(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("query_id"),
            F.col("de").alias("qe"),
            F.explode(
                F.expr(
                    f"transform(slice(cells, 1, {int(nprobe)}), "
                    "x -> x.clabel)"
                )
            ).alias("qcell"),
        )
    )
    s = (
        ec.join(
            q,
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine("qe", "de").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.col("cos").alias("cosine"))
    )


# Rows-only check (no SQL oracle): Arrow-batched numpy brute force.
@query("ann_topk_numpy")
def ann_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k via mapInPandas + numpy matrix multiply.

    The query matrix (small) is broadcast to every Arrow batch; each
    batch computes a (batch × queries) cosine matrix in one BLAS call
    and emits per-batch local top-k, which are then globally re-ranked.
    This is the high-throughput single-node path; at cluster scale each
    executor does the same with zero shuffle before the final top-k.
    """
    import numpy as np

    # valid + nonzero-norm vectors only: NULL/ragged rows make numpy
    # stack object arrays (task-killing ValueError) and a zero vector
    # normalizes to NaN cosines (r09 degenerate sweep); the oracled
    # bruteforce twin applies the same norm gate
    emb = load_table(spark, sf_dir, "embeddings").where(
        VALID_VEC_SPARK
    ).where(V.norm("embedding") > 0.0)
    qrows = (
        emb.where(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = spark.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    out_schema = "query_id long, neighbor_id long, cos double"

    def topk_batches(it):
        ids, qm = bq.value
        for pdf in it:
            if len(pdf) == 0:
                # an empty Arrow batch stacks to a 1-D shape-(0,)
                # array and norm(axis=1) raises AxisError, killing
                # the task (r08 review; partial_grams has the same
                # guard)
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ qm.T  # (batch, nq)
            for qi, qid in enumerate(ids):
                col = sims[:, qi]
                mask = c_ids != qid
                cand_ids, cand_cos = c_ids[mask], col[mask]
                if len(cand_ids) == 0:
                    continue
                k = min(TOP_K, len(cand_ids))
                # Deterministic local cut (r06 review catch): a bare
                # argpartition keeps an ARBITRARY side of a cosine tie
                # at the k-th boundary, so the emitted top-k depended
                # on Arrow batch boundaries. Widen to every candidate
                # tied with the boundary value, then order by the SAME
                # (cos DESC, neighbor_id ASC) key the global window
                # uses — local cut and global rank can never disagree.
                part = np.argpartition(-cand_cos, k - 1)[:k]
                bound = cand_cos[part].min()
                tied = np.flatnonzero(cand_cos >= bound)
                order = np.lexsort((cand_ids[tied], -cand_cos[tied]))[:k]
                idx = tied[order]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[idx],
                        "cos": cand_cos[idx],
                    }
                )

    local = emb.select("vec_id", "embedding").mapInPandas(
        topk_batches, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
    )


@query(
    "embedding_norm_stats",
    f"""
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
             AS avg_norm,
           ROUND(MIN(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
             AS min_norm,
           ROUND(MAX(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
             AS max_norm
    FROM embeddings WHERE {VALID_VEC_DUCK}
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-health profiling (the first sanity pass over any new
    embedding corpus): per-label L2-norm distribution. zip_with/
    aggregate dot products are codegen'd JVM loops — one scan, one
    partial+final agg, no Python. ROUND(,4) is safe: norms are
    continuous statistics (tie probability measure zero)."""
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    nrm = V.norm("embedding")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(nrm), 4).alias("avg_norm"),
        F.round(F.min(nrm), 4).alias("min_norm"),
        F.round(F.max(nrm), 4).alias("max_norm"),
    )


# Quantization scale for the HOF surface query. float32 -> double is
# exact, and x*10000 is the same IEEE double in both engines, so the
# rounded int is identical; both engines round ties away from zero.
HOF_Q_SCALE = 10000


@query(
    "hof_array_ops",
    f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           CAST(CASE WHEN embedding IS NULL
                     OR len(list_filter(embedding, {BAD_ELEM_LAMBDA})) > 0
                     THEN NULL
                ELSE COALESCE(list_aggregate(list_transform(embedding,
                  x -> CAST(ROUND(CAST(x AS DOUBLE) * {HOF_Q_SCALE}, 0) AS BIGINT)),
                'sum'), 0) END AS BIGINT) AS q_sum,
           CAST(CASE WHEN embedding IS NULL
                     OR len(list_filter(embedding, {BAD_ELEM_LAMBDA})) > 0
                     THEN NULL
                ELSE COALESCE(list_aggregate(list_transform(embedding,
                  x -> abs(CAST(ROUND(CAST(x AS DOUBLE) * {HOF_Q_SCALE}, 0) AS BIGINT))),
                'sum'), 0) END AS BIGINT) AS q_l1,
           CAST(CASE WHEN embedding IS NULL
                     OR len(list_filter(embedding, {BAD_ELEM_LAMBDA})) > 0
                     THEN NULL
                ELSE list_aggregate(list_transform(embedding,
                  x -> CAST(ROUND(CAST(x AS DOUBLE) * {HOF_Q_SCALE}, 0) AS BIGINT)),
                'max') END AS BIGINT) AS q_max
    FROM embeddings
    """,
)
def hof_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface: transform
    (quantize), filter (positive components), aggregate (fold to L1 /
    sum), array_max — all Catalyst lambda expressions running inside
    whole-stage codegen, the idiomatic way to process array<float>
    embedding columns WITHOUT exploding (a posexplode formulation
    would multiply the row count by dim and shuffle it; this is one
    map-side scan, zero shuffles).

    Cross-engine exactness: per-component quantization to BIGINT at
    HOF_Q_SCALE (see module note), then integer folds. The oracle
    COALESCEs the sum folds to 0 — but ONLY for non-NULL arrays:
    DuckDB `list_aggregate([], 'sum')` is NULL while Spark's
    `aggregate(..., 0, +)` returns the init value for an EMPTY array
    (the round-5 `array_to_string` lesson), yet for a NULL array both
    engines agree on NULL, so a bare COALESCE would over-correct
    (r06 diff review). `q_max` stays NULL/NULL in both cases.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * HOF_Q_SCALE, 0).cast("bigint"),
    )
    zero = F.lit(0).cast("bigint")
    # dim/n_pos NULL-guarded like the folds: Spark size(NULL) is -1
    # under legacy sizeOfNull (and NULL under ANSI) while the oracle's
    # len(NULL) is NULL — the one unguarded column pair in a query
    # whose siblings were CASE-guarded for exactly this row (r08
    # review). IF makes it NULL under BOTH Spark semantics.
    return emb.select(
        "vec_id",
        F.expr("IF(embedding IS NULL, NULL, size(embedding))")
        .cast("int")
        .alias("dim"),
        F.expr(
            "IF(embedding IS NULL, NULL,"
            " size(filter(embedding, x -> x > 0)))"
        )
        .cast("int")
        .alias("n_pos"),
        # Bad-element pin (r09 NULL-element + r10 NaN/Inf extension):
        # DuckDB's 'sum' SKIPS a NULL element while Spark's fold
        # NULL-propagates, and a NaN/Inf element aborts the BIGINT
        # cast in BOTH engines — an array with a NULL or non-finite
        # component has no well-defined fold; both engines emit NULL
        # (the multimodal _QABS pin, same class). CASE is lazy in both
        # engines, so the guarded branch never evaluates the cast.
        F.when(
            ~F.expr(f"exists(embedding, {BAD_ELEM_LAMBDA})"),
            F.aggregate(quant, zero, lambda a, x: a + x),
        ).alias("q_sum"),
        F.when(
            ~F.expr(f"exists(embedding, {BAD_ELEM_LAMBDA})"),
            F.aggregate(quant, zero, lambda a, x: a + F.abs(x)),
        ).alias("q_l1"),
        F.when(
            ~F.expr(f"exists(embedding, {BAD_ELEM_LAMBDA})"),
            F.array_max(quant),
        ).alias("q_max"),
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization accounting
# ---------------------------------------------------------------------------
# At 100 TB, embedding stores ship int8, not float32 (4× smaller, and
# SIMD dot products run on the quantized domain). This operator runs
# the quantization pass and accounts for its error budget in EXACT
# integer arithmetic: values land on the 1e-4 grid (same grid as the
# kmeans/SemDeDup machinery), each vector gets a symmetric max-abs
# scale, codes are produced by non-negative integer division (shifting
# by +amax first — signed integer division semantics differ between
# engines, non-negative division doesn't), and the rounding remainder
# of every dimension is summed exactly. sum_rem / (255·2·amax·n_dims)
# is the mean relative quantization error — kept as exact numerator /
# denominator columns so the gate never sees a float.
QUANT_GRID = 10000


@query(
    "embedding_quantize_int8",
    f"""
    WITH m AS (
      -- VALID_VEC: a NaN/Inf element aborts the grid cast in both
      -- engines (r10 third-wave sweep) — malformed vectors are not
      -- quantized, identically on both sides
      SELECT vec_id, CAST(FLOOR(CAST(u AS DOUBLE) * {QUANT_GRID}) AS BIGINT) AS vq
      FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings
            WHERE {VALID_VEC_DUCK})
    ), sc AS (
      SELECT vec_id, MAX(ABS(vq)) AS amax, COUNT(*) AS n_dims
      FROM m GROUP BY vec_id
    ), q AS (
      SELECT m.vec_id,
             ((m.vq + sc.amax) * 255) // (2 * sc.amax) - 128 AS code,
             ((m.vq + sc.amax) * 255) % (2 * sc.amax) AS rem
      FROM m JOIN sc USING (vec_id) WHERE sc.amax > 0
    )
    SELECT q.vec_id, sc.amax, sc.n_dims,
           CAST(SUM(q.code) AS BIGINT) AS sum_code,
           MIN(q.code) AS min_code, MAX(q.code) AS max_code,
           CAST(SUM(q.rem) AS BIGINT) AS sum_rem
    FROM q JOIN sc USING (vec_id)
    GROUP BY 1, 2, 3
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 codes + exact error accounting.

    Plan: melt (narrow Generate), per-vector max-abs (one map-side
    combined shuffle on vec_id), quantize in codegen'd int expressions,
    re-aggregate. The second join back to scales is vec_id-equi and
    reuses the aggregation exchange. min/max code bounds double as the
    saturation check (must stay within [-128, 127])."""
    # VALID_VEC mirrors the oracle melt (r10 third-wave sweep)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    m = emb.select(
        "vec_id", F.explode("embedding").alias("vf")
    ).select(
        "vec_id",
        F.floor(F.col("vf").cast("double") * QUANT_GRID)
        .cast("bigint")
        .alias("vq"),
    )
    sc = m.groupBy("vec_id").agg(
        F.max(F.abs("vq")).alias("amax"), F.count("*").alias("n_dims")
    )
    j = m.join(sc, "vec_id").where(F.col("amax") > 0)
    shifted = (F.col("vq") + F.col("amax")) * 255
    code = F.expr("((vq + amax) * 255) DIV (2 * amax) - 128")
    rem = shifted % (2 * F.col("amax"))
    return (
        j.select("vec_id", "amax", "n_dims", code.alias("code"), rem.alias("rem"))
        .groupBy("vec_id", "amax", "n_dims")
        .agg(
            F.sum("code").alias("sum_code"),
            F.min("code").alias("min_code"),
            F.max("code").alias("max_code"),
            F.sum("rem").alias("sum_rem"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift monitoring: centroid shift between corpus halves
# ---------------------------------------------------------------------------
# The ops query behind "did the embedding distribution move?": per
# label, the cosine between the centroid of the even-keyed half (the
# "reference" snapshot) and the odd-keyed half (the "new" batch).
# Everything before the final cosine is EXACT integer arithmetic:
# components quantize to ints (Q=10^4), per-(label, pos) sums are
# int64, and the centroid cosine algebraically cancels the 1/n
# factors — cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb) — so the dot/norm sums
# are exact int64 too (bounded: |q|≤10^4·Q ⇒ per-pos sums ≤ 10^4·n/2;
# safe through ~sf10, shrink Q beyond). The only floats are one
# sqrt/division chain per label, identical text in both engines,
# ROUND(…, 6).
DRIFT_Q = 10_000


def _drift_q(expr: str, *, duck: bool) -> str:
    cast = "CAST({} AS DOUBLE)".format(expr)
    return f"CAST(ROUND({cast} * {DRIFT_Q}, 0) AS BIGINT)"


@query(
    "embedding_centroid_drift",
    f"""
    WITH e AS (
      -- VALID_VEC on melt AND counts: one consistent "indexed
      -- vectors" population; a NaN/Inf element aborted the grid cast
      -- in both engines (r10 third-wave sweep)
      SELECT vec_id, label, i AS pos,
             {_drift_q("embedding[i]", duck=True)} AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      WHERE {VALID_VEC_DUCK}
    ),
    halves AS (
      SELECT label, pos,
             SUM(CASE WHEN vec_id % 2 = 0 THEN q ELSE 0 END) AS sa,
             SUM(CASE WHEN vec_id % 2 = 1 THEN q ELSE 0 END) AS sb
      FROM e GROUP BY label, pos
    ),
    sums AS (
      SELECT label,
             SUM(sa * sb) AS dot, SUM(sa * sa) AS na2, SUM(sb * sb) AS nb2
      FROM halves GROUP BY label
    ),
    counts AS (
      SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM embeddings WHERE {VALID_VEC_DUCK} GROUP BY label
    )
    SELECT s.label, c.n_ref, c.n_new,
           CASE WHEN s.na2 > 0 AND s.nb2 > 0 THEN
             CAST(s.dot AS DOUBLE)
                 / (sqrt(CAST(s.na2 AS DOUBLE))
                    * sqrt(CAST(s.nb2 AS DOUBLE)))
           END AS centroid_cosine
    FROM sums s JOIN counts c ON s.label = c.label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VALID_VEC mirrors the oracle's e and counts CTEs (r10 sweep)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(_drift_q("v", duck=False)).alias("q"),
    )
    halves = e.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, F.col("q")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, F.col("q")).otherwise(0)).alias("sb"),
    )
    sums = halves.groupBy("label").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("na2"),
        F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
    )
    # raw identical-IEEE-tree ratio over exact ints (no ROUND — the
    # r07 near-tie class), gated on positive norms: a zero half-norm
    # made Spark emit NULL while DuckDB emitted 0/0 = NaN, which its
    # total order ranks ABOVE every number (r07 review)
    cos = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("na2").cast("double"))
            * F.sqrt(F.col("nb2").cast("double"))
        ),
    )
    return sums.join(counts, "label").select(
        "label", "n_ref", "n_new", cos.alias("centroid_cosine")
    )


# ---------------------------------------------------------------------------
# Mislabeled-sample detection: per-label centroid-distance outliers
# ---------------------------------------------------------------------------
# The data-cleaning companion to embedding_centroid_drift: rank each
# vector by its distance to its OWN label's centroid and surface the
# top outliers — the candidates for relabeling or dropping before
# training. Exactness trick: with quantized components q and per-
# (label, pos) sums s over n vectors, n²·‖v − c‖² = Σ_p (q_p·n − s_p)²
# is pure int64 (the 1/n of the centroid is factored out), so the
# ranking key is exact and tie-broken on vec_id; only the reported
# distance divides/sqrts (fixed expression, ROUND 6). Two passes over
# the melted frame: one aggregate to (label, pos) sums, one join back
# — both shuffle 8-byte keyed ints; the top-k window is partitioned
# by label.
OUTLIER_TOP_K = 5


@query(
    "embedding_label_outliers",
    f"""
    WITH e AS (
      -- VALID_VEC: see embedding_centroid_drift (r10 third-wave sweep)
      SELECT vec_id, label, i AS pos,
             {_drift_q("embedding[i]", duck=True)} AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      WHERE {VALID_VEC_DUCK}
    ),
    stats AS (
      SELECT label, pos, SUM(q) AS s, COUNT(*) AS n
      FROM e GROUP BY label, pos
    ),
    d2 AS (
      SELECT e.vec_id, e.label,
             SUM((e.q * stats.n - stats.s) * (e.q * stats.n - stats.s))
               AS d2n2,
             MAX(stats.n) AS n
      FROM e JOIN stats ON e.label = stats.label AND e.pos = stats.pos
      GROUP BY e.vec_id, e.label
    ),
    ranked AS (
      SELECT label, vec_id, d2n2, n,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY d2n2 DESC, vec_id) AS rn
      FROM d2
    )
    SELECT label, vec_id, CAST(rn AS INT) AS rank,
           sqrt(CAST(d2n2 AS DOUBLE)) / (n * {DRIFT_Q}.0e0)
             AS centroid_dist
    FROM ranked WHERE rn <= {OUTLIER_TOP_K}
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VALID_VEC mirrors the oracle's e CTE (r10 third-wave sweep)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(_drift_q("v", duck=False)).alias("q"),
    )
    # COUNT(*), not COUNT(DISTINCT vec_id): the melted frame has
    # exactly one row per (vec_id, pos) by construction, so they are
    # provably equal — and the distinct form added a per-group dedup
    # pass over the 64×-melted hot path (r06 review catch).
    #
    # Overflow headroom: |q| <= DRIFT_Q, so |q*n - s| <= 2*DRIFT_Q*n
    # and d2n2 <= 64 * 4 * DRIFT_Q^2 * n^2 — int64-exact through
    # ~1.9e4 vectors per label at DRIFT_Q=1e4. Beyond that (the same
    # knob as embedding_centroid_drift's documented bound), shrink
    # DRIFT_Q (1e2 ⇒ ~1.9e6 per label) or replace the n-scaled form
    # with a floored centroid s DIV n; DuckDB RAISES on the overflow
    # while Spark's non-ANSI bigint wraps, so the bound is load-bearing
    # for cross-engine parity.
    stats = e.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    diff = F.col("q") * F.col("n") - F.col("s")
    d2 = (
        e.join(stats, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(diff * diff).alias("d2n2"), F.max("n").alias("n"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2n2"), "vec_id")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= OUTLIER_TOP_K)
        .select(
            "label",
            "vec_id",
            F.col("rn").cast("int").alias("rank"),
            # RAW value, no ROUND: d2n2/n are exact ints and both
            # engines run the identical sqrt/multiply/divide tree, so
            # the double is bit-identical — while ROUND(,6) itself
            # splits at exact decimal halves over bit-identical inputs
            # (the r08 rule; this was the tier's last rounded ranking
            # emission, r08 review)
            (
                F.sqrt(F.col("d2n2").cast("double"))
                / (F.col("n") * float(DRIFT_Q))
            ).alias("centroid_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + semantic top-k
# ---------------------------------------------------------------------------
# The standard two-tower serving shape (Cormack et al. 2009 RRF;
# every hybrid search stack): a lexical ranking (shingle Jaccard — the
# sparse arm) and a semantic ranking (embedding cosine — the dense
# arm) fused by rrf(d) = Σ_arms 1/(K + rank_arm(d)). Fusion needs only
# the two per-query top-k lists — never the underlying scores — which
# is what makes it robust to scale mismatches between arms.
#
# Exactness: the lexical arm and the fusion are pure int64 — ordering
# key (inter*10^6) // union, RRF terms RRF_SCALE // (K + rank) — and
# replay bitwise in DuckDB. The dense arm ranks by FLOAT cosine with a
# doc-id tie-break, the same cross-engine contract ann_topk_bruteforce
# already rides (both engines compute the identical IEEE-f64 chain;
# a last-ulp accumulation flip would reorder near-ties — accepted and
# parity-proven since r01 for the cosine tier).
# Scale shape: lexical candidates come from a postings equi-join with
# the (tiny) query-side postings broadcast — linear in corpus postings;
# the dense arm is the brute-force baseline here, with ann_topk_lsh /
# ann_topk_ivfpq as the documented drop-in at corpus scale; fusion
# joins two ≤(k·queries)-row frames — negligible.
RRF_K = 60  # the canonical constant from Cormack et al.
RRF_SCALE = 1_000_000  # fixed-point micro-units
RRF_LEX_TOP = 8  # lexical-arm list length
RRF_SHINGLE_N = 3


def _rrf_term(rank_col: str, *, duck: bool = True) -> str:
    """SQL fragment: fixed-point 1/(K+rank), 0 if NULL. Same text in
    both engines up to the integer-division spelling (// vs DIV)."""
    div = "//" if duck else "DIV"
    return f"COALESCE({RRF_SCALE} {div} ({RRF_K} + {rank_col}), 0)"


def _rrf_oracle() -> str:
    from ..functions import hashing as H

    toks = H.tokens_sql("text", duck=True)
    shingles = H.shingles_sql("toks", RRF_SHINGLE_N, duck=True)
    h = H.md5_int64("u", duck=True)
    nq, scale = N_QUERY_VECS, RRF_SCALE
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    post AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, unnest({shingles}) AS u FROM t)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM post GROUP BY 1),
    inter AS (
      SELECT qp.doc_id AS query_id, cp.doc_id AS cand_id,
             COUNT(*) AS inter
      FROM post qp JOIN post cp ON qp.h = cp.h AND cp.doc_id != qp.doc_id
      WHERE qp.doc_id < {nq}
      GROUP BY 1, 2
    ),
    lexr AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 (i.inter * {scale})
                   // (sq.n_sh + sc.n_sh - i.inter) DESC,
                 cand_id) AS lex_rank
      FROM inter i JOIN sizes sq ON sq.doc_id = i.query_id
                   JOIN sizes sc ON sc.doc_id = i.cand_id
    ),
    lex AS (SELECT * FROM lexr WHERE lex_rank <= {RRF_LEX_TOP}),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
                 {V.norm_duck("CAST(embedding AS DOUBLE[])")} AS qn
          FROM embeddings WHERE vec_id < {nq} AND {VALID_VEC_DUCK}),
    c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce,
                 {V.norm_duck("CAST(embedding AS DOUBLE[])")} AS cn
          FROM embeddings WHERE {VALID_VEC_DUCK}),
    semr AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 ({V.dot_duck('qe', 'ce')} / (qn * cn)) DESC,
                 cand_id) AS sem_rank
      FROM q, c WHERE query_id != cand_id AND qn > 0.0 AND cn > 0.0
    ),
    sem AS (SELECT * FROM semr WHERE sem_rank <= {TOP_K}),
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.cand_id, s.cand_id) AS doc_id,
             CAST(l.lex_rank AS INT) AS lex_rank,
             CAST(s.sem_rank AS INT) AS sem_rank,
             {_rrf_term("l.lex_rank")} + {_rrf_term("s.sem_rank")}
               AS rrf_micro
      FROM lex l FULL OUTER JOIN sem s
           ON l.query_id = s.query_id AND l.cand_id = s.cand_id
    )
    SELECT query_id, doc_id, lex_rank, sem_rank,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
    FROM fused
    """


@query("retrieval_rrf_hybrid", _rrf_oracle())
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of shingle-Jaccard lexical top-k and cosine semantic
    top-k per query doc. Query-side postings and vectors broadcast;
    corpus side streams — no pair explosion beyond per-query top-k."""
    from ..functions import hashing as H

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    toks = H.tokens_sql("text", duck=False)
    shingles = H.shingles_sql("toks", RRF_SHINGLE_N, duck=False)

    post = (
        docs.select("doc_id", F.expr(toks).alias("toks"))
        .select("doc_id", F.explode(F.expr(shingles)).alias("u"))
        .select("doc_id", F.expr(H.md5_int64("u", duck=False)).alias("h"))
    )
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    qpost = F.broadcast(
        post.where(F.col("doc_id") < N_QUERY_VECS).select(
            F.col("doc_id").alias("query_id"), "h"
        )
    )
    inter = (
        post.select(F.col("doc_id").alias("cand_id"), "h")
        .join(qpost, "h")
        .where(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        inter.join(
            sizes.select(F.col("doc_id").alias("query_id"),
                         F.col("n_sh").alias("nq")),
            "query_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("cand_id"),
                         F.col("n_sh").alias("nc")),
            "cand_id",
        )
        .withColumn(
            "jac_ppm",
            F.expr(f"(inter * {RRF_SCALE}) DIV (nq + nc - inter)"),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("jac_ppm"), "cand_id"
    )
    lex = (
        jac.withColumn("lex_rank", F.row_number().over(wl))
        .where(F.col("lex_rank") <= RRF_LEX_TOP)
        .select("query_id", "cand_id", "lex_rank")
    )

    # VALID_VEC + positive-norm gates on the semantic arm (r08 review:
    # Spark NULL vs DuckDB NaN-ranks-first on a zero vector's 0/0
    # cosine; r11 fuzz: a RAGGED 65-dim candidate — Spark's zip_with
    # pads it to NULL while the oracle's generate_series(1, len(q))
    # fold reads its first 64 elements and answers)
    emb = emb.where(VALID_VEC_SPARK)
    q = F.broadcast(
        emb.where(
            (F.col("vec_id") < N_QUERY_VECS)
            & (V.norm("embedding") > 0.0)
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), "cand_id"
    )
    sem = (
        emb.where(V.norm("embedding") > 0.0)
        .select(F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("ce"))
        .crossJoin(q)
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", V.cosine("qe", "ce").alias("cos"))
        .withColumn("sem_rank", F.row_number().over(ws))
        .where(F.col("sem_rank") <= TOP_K)
        .select("query_id", "cand_id", "sem_rank")
    )

    fused = (
        lex.withColumnRenamed("query_id", "lq")
        .withColumnRenamed("cand_id", "lc")
        .join(
            sem.withColumnRenamed("query_id", "sq")
            .withColumnRenamed("cand_id", "sc"),
            (F.col("lq") == F.col("sq")) & (F.col("lc") == F.col("sc")),
            "full_outer",
        )
        .select(
            F.coalesce("lq", "sq").alias("query_id"),
            F.coalesce("lc", "sc").alias("doc_id"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            (
                F.expr(_rrf_term("lex_rank", duck=False))
                + F.expr(_rrf_term("sem_rank", duck=False))
            ).alias("rrf_micro"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), "doc_id"
    )
    return fused.select(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.col("rrf_micro").cast("bigint").alias("rrf_micro"),
        F.row_number().over(wf).cast("int").alias("fused_rank"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------
# The standard pre-ANN compression step at 100 TB: project d=64 float
# dims onto RP_DIM Rademacher (+/-1) components (Achlioptas 2003 —
# database-friendly random projections: +/-1 entries need no float
# matrix, just sign flips). E||Rx||^2 = k*||x||^2, so the per-vector
# norm ratio concentrates around 1 with Var ~ 2/k — the distortion
# report column makes the JL guarantee observable per vector.
#
# Exactness: embeddings land on the PQ integer grid (floor(v*10^4)),
# signs are deterministic integer literals shared with the oracle via
# _plane(), and every projection/norm is an int64 sum — bitwise
# identical in DuckDB (list_sum yields HUGEINT; cast at the edge).
RP_DIM = 16
RP_QUANT = 10_000  # same integer grid as operators/pq.py


def _rp_signs(j: int) -> list[int]:
    """Rademacher row j: the sign bits of the LSH plane generator —
    one deterministic integer source for both engines."""
    return [1 if c >= 0 else -1 for c in _plane(j)]


def _rp_proj_expr(j: int) -> str:
    """Spark-side projection j: one zip_with fold per sign row."""
    lits = ", ".join(str(s) for s in _rp_signs(j))
    return (
        f"aggregate(zip_with(embedding, array({lits}), "
        f"(x, s) -> s * CAST(FLOOR(CAST(x AS DOUBLE) * {RP_QUANT}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _rp_oracle() -> str:
    """DuckDB twin. The sign matrix is hoisted into a per-row
    list-of-lists COLUMN: the earlier form indexed a 64-element list
    literal inside the per-element lambda (``([…])[d]``), which DuckDB
    re-materializes per element — 16 rows × 64 dims × 64-element
    builds per input row made this the slowest oracle on the surface
    (3.9 s for 500 rows at sf0.01; 0.04 s hoisted, bitwise-identical —
    r06 verdict #8, same lesson as the MATERIALIZED CTEs: DuckDB does
    not CSE expression literals)."""
    sgn_rows = ", ".join(
        "[" + ", ".join(str(s) for s in _rp_signs(j)) + "]"
        for j in range(RP_DIM)
    )
    return f"""
    WITH q AS MATERIALIZED (
      -- valid vectors only: NULL/ragged embeddings produced NULL
      -- projection components that the two engines' array_to_string
      -- render differently (r09 degenerate sweep); a malformed row
      -- is excluded, not silently projected
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {RP_QUANT}) AS BIGINT))
               AS ev,
             [{sgn_rows}] AS sgn
      FROM embeddings WHERE {VALID_VEC_DUCK}
    ),
    p AS MATERIALIZED (
      SELECT vec_id,
             list_transform(generate_series(1, {RP_DIM}),
               j -> CAST(list_sum(list_transform(
                      generate_series(1, {LSH_DIM}),
                      d -> sgn[j][d] * ev[d])) AS BIGINT)) AS proj,
             CAST(list_sum(list_transform(ev, x -> x * x)) AS BIGINT)
               AS orig_norm_sq
      FROM q
    )
    SELECT vec_id,
           array_to_string(proj, ',') AS proj_csv,
           CAST(list_sum(list_transform(proj, x -> x * x)) AS BIGINT)
             AS proj_norm_sq,
           CAST(list_sum(list_transform(proj, x -> x * x)) * 1000000
                // NULLIF({RP_DIM} * orig_norm_sq, 0) AS BIGINT)
             AS norm_ratio_ppm
    FROM p
    """


@query("embedding_random_projection", _rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL/Achlioptas +/-1 projection to RP_DIM int64 components with a
    per-vector norm-distortion report (ppm of the expected k*||x||^2).
    Pure codegen map — no shuffle, no Python; the 16 sign rows are
    compile-time literals, so at 100 TB this is a free pre-ANN pass.

    The projected vector is emitted as a comma-joined string
    (``proj_csv``) rather than ``array<bigint>``: the driver's value
    canonicalizer hashes results through pandas, which cannot sort or
    hash list-typed cells (r05 verdict — the only complex-typed output
    on the surface). Scalar-output-first is the driver contract."""
    # valid vectors only: see the oracle's q comment (r09 sweep)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    proj = F.array(
        *[F.expr(_rp_proj_expr(j)) for j in range(RP_DIM)]
    ).alias("proj")
    orig = F.expr(
        f"aggregate(embedding, CAST(0 AS BIGINT), (acc, x) -> acc + "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {RP_QUANT}) AS BIGINT) * "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {RP_QUANT}) AS BIGINT))"
    ).alias("orig_norm_sq")
    p = emb.select("vec_id", proj, orig).select(
        "vec_id",
        "proj",
        "orig_norm_sq",
        F.expr(
            "aggregate(proj, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("proj_norm_sq"),
    )
    return p.select(
        "vec_id",
        F.expr(
            "array_join(transform(proj, x -> CAST(x AS STRING)), ',')"
        ).alias("proj_csv"),
        "proj_norm_sq",
        F.expr(
            f"proj_norm_sq * 1000000 DIV NULLIF({RP_DIM} * orig_norm_sq, 0)"
        )
        .cast("bigint")
        .alias("norm_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# Top principal direction via in-plan power iteration (matrix-free PCA)
# ---------------------------------------------------------------------------
# The distributed-PCA building block: the top eigenvector of the mean
# Gram matrix A = (1/n) X^T X. d = 64, so A is a d^2-cell aggregate —
# the map-side-combined per-vector outer-product explode shuffles only
# d^2 partials per partition regardless of corpus size (at 100 TB this
# is THE standard shape: partial Grams per partition, one tiny
# reduce). Power iteration then runs d^2-sized joins: v <- A v,
# rescaled each round to a 2^16 magnitude cap. This corpus's spectrum
# is near-degenerate (lambda2/lambda1 ~ 0.93-0.98), so the DIRECTION
# cannot converge in few rounds — the honest quality claim, gated in
# tests, is the Rayleigh quotient: 8 rounds reach >= 0.85 of lambda1
# (measured 0.90 at sf0.001, 0.95 at sf0.01) from the all-ones start
# at ~0.5. On a corpus with real dominant structure the same rounds
# recover the direction itself.
#
# Exactness: embeddings on the PQ integer grid; A's cells are floored
# integer means (bounded by grid^2 = 1e8 INDEPENDENT of corpus size,
# so A*v sums stay far inside int64 at any scale); the rescale divisor
# (max|A v| DIV 2^16 + 1) is itself an exact integer statistic — the
# whole PI_ROUNDS-round chain replays bitwise in DuckDB. Direction quality vs
# numpy's exact eigendecomposition is gated in tests.
PI_ROUNDS = 8
PI_VSCALE = 1 << 16


def _pi_gram_cte() -> str:
    q, d = RP_QUANT, LSH_DIM
    return f"""g AS MATERIALIZED (
      SELECT u['d1'] AS d1, u['d2'] AS d2,
             CAST(FLOOR(CAST(SUM(u['p']) AS DOUBLE)
                  / (SELECT COUNT(*) FROM embeddings
                     WHERE {VALID_VEC_DUCK})) AS BIGINT) AS a
      FROM (
        SELECT unnest(flatten(list_transform(generate_series(1, {d}),
          d1 -> list_transform(generate_series(1, {d}),
            d2 -> {{'d1': d1, 'd2': d2,
                    'p': CAST(FLOOR(CAST(embedding[d1] AS DOUBLE) * {q})
                         AS BIGINT)
                       * CAST(FLOOR(CAST(embedding[d2] AS DOUBLE) * {q})
                         AS BIGINT)}})))) AS u
        FROM embeddings WHERE {VALID_VEC_DUCK})
      GROUP BY 1, 2
    )"""


def _pi_oracle() -> str:
    d, vs = LSH_DIM, PI_VSCALE
    parts = [f"""
    WITH {_pi_gram_cte()},
    v0 AS (SELECT unnest(generate_series(1, {d})) AS dim,
                  CAST(1 AS BIGINT) AS v)"""]
    for it in range(1, PI_ROUNDS + 1):
        prev = f"v{it - 1}"
        parts.append(f""", av{it} AS MATERIALIZED (
      SELECT g.d1 AS dim, CAST(SUM(g.a * p.v) AS BIGINT) AS av
      FROM g JOIN {prev} p ON g.d2 = p.dim
      GROUP BY 1
    ), v{it} AS MATERIALIZED (
      SELECT dim,
             CAST(av // ((SELECT MAX(ABS(av)) FROM av{it}) // {vs} + 1)
                  AS BIGINT) AS v
      FROM av{it}
    )""")
    parts.append(f"""
    SELECT dim, v FROM v{PI_ROUNDS}
    """)
    return "".join(parts)


@query("embedding_power_iteration", _pi_oracle())
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus.

    The Gram aggregate is the only corpus-sized stage and runs fully
    distributed (per-vector outer-product explode, map-side combined
    to d^2 partials per partition). The 8 power rounds then operate on
    a d x d matrix — dimension-bounded METADATA, not data — so they
    iterate driver-side with exact Python integers (the same
    bounded-collect carve as the layout bounds row / query-vector
    set) instead of PI_ROUNDS sets of Spark jobs over 4 KB frames.
    Division is truncated toward zero to match Spark DIV / DuckDB //
    exactly (Python // floors — different on negatives)."""
    import numpy as np

    # valid vectors only (oracle gram CTE + divisor carry the same
    # filter): a NULL/ragged embedding stacked ragged numpy batches
    # into object arrays and killed the Gram task (r09 degen sweep)
    emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
    q, d = RP_QUANT, LSH_DIM
    n = emb.count()

    # Partial Grams per Arrow batch: g^T g in int64 BLAS — the exact
    # SAME integer sums the per-pair explode computes (grid values are
    # int64, per-batch partials bounded by batch_rows * grid^2), at
    # matrix-multiply speed. The oracle replays the pair-explode
    # formulation; totals are identical by associativity of + .
    def partial_grams(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            g = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * q
            ).astype(np.int64)
            m = g.T @ g
            d1, d2 = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "d1": d1.ravel() + 1,
                    "d2": d2.ravel() + 1,
                    "p": m.ravel(),
                }
            )

    pairs = emb.select("embedding").mapInPandas(
        partial_grams, "d1 INT, d2 INT, p LONG"
    )
    gram_rows = (
        pairs.groupBy("d1", "d2")
        # DECIMAL(38,0) sum: the per-cell partial sum grows linearly
        # with corpus rows (p <= rows * grid^2) and crosses int64 near
        # 9e10 vectors — Spark's non-ANSI bigint SUM would wrap
        # silently while the oracle's HUGEINT stays exact (r07
        # review). Decimal -> double then mirrors the oracle's
        # HUGEINT -> DOUBLE conversion bit for bit.
        .agg(
            F.floor(
                F.sum(F.col("p").cast("decimal(38,0)")).cast("double") / n
            )
            .cast("bigint")
            .alias("a")
        )
        .collect()
    )
    A: dict[tuple[int, int], int] = {
        (r["d1"], r["d2"]): r["a"] for r in gram_rows
    }

    def trunc_div(a: int, b: int) -> int:
        qq = abs(a) // abs(b)
        return qq if (a >= 0) == (b >= 0) else -qq

    v = [1] * d
    for _ in range(PI_ROUNDS):
        av = [
            sum(A.get((d1, d2), 0) * v[d2 - 1] for d2 in range(1, d + 1))
            for d1 in range(1, d + 1)
        ]
        mx = max(abs(x) for x in av)
        div = trunc_div(mx, PI_VSCALE) + 1
        v = [trunc_div(x, div) for x in av]
    return spark.createDataFrame(
        [(dim, v[dim - 1]) for dim in range(1, d + 1)],
        "dim BIGINT, v BIGINT",
    )
