"""Product quantization (PQ): learned sub-codebooks + ADC search.

The storage/search compression tier for 100 TB embedding stores
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public): split each D-dim vector into M subspaces, learn
a K-centroid codebook per subspace (k-means), and store each vector as
M small codes (here 8×4 bits = 4 bytes instead of 64×4 bytes — 64×).
Search never reconstructs vectors: a per-query lookup table of
(subspace, code) → partial distance is built against the codebooks,
and a vector's approximate distance is the sum of M table lookups
(asymmetric distance computation, ADC).

Exactness strategy: every step is ``operators/clustering.py``'s
integer-grid Lloyd step, run per subspace (``keys=("vec_id", "sub")``):
embeddings are quantized to an integer grid, all distances are exact
int64 sums, argmins tie-break to the lowest code via a composite
``dist*K + code`` key, and centroid updates floor the exact integer
mean — so codebook training, encoding, AND the ADC ranking are bitwise
identical in the DuckDB oracle, which replays the full chain as a CTE
sequence generated from the same SQL texts. No floats anywhere,
including the reported distances.

Scale shape: codebooks are M×K×(D/M) rows — always broadcast; training
shuffles the melted frame once per Lloyd round (keyed by dim / vec);
encoding is one broadcast join + groupBy per vector; the query-time
LUT is N_QUERY×M×K rows — broadcast; ADC joins the 2-byte code frame,
never the raw vectors. Each training round ends in an eager
localCheckpoint (iterative-plan doubling — same lesson as kmeans/CC).

Reference repo: none of this exists (two-table energy ETL); SURVEY.md
§2.10 extension surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..pipeline import artifacts as A
from ..sources.tables import load_table
from ._registry import make_registry
from .clustering import (
    GRID_QUANT,
    centroid_distances,
    centroid_means,
    distance_sql,
    grid_melt,
    lloyd,
    lloyd_ctes,
    mean_cte,
    melt_cte,
    nearest_centroid,
    nearest_cte,
    rank_key_sql,
    sq_dist_sql,
)
from .similarity import N_QUERY_VECS, TOP_K

QUERIES, ORACLES, query = make_registry()

PQ_DIM = 64  # embedding dims (testdata schema)
PQ_M = 8  # subspaces
PQ_SUBDIM = PQ_DIM // PQ_M
PQ_K = 16  # codes per subspace (4 bits)
PQ_ITERS = 3  # Lloyd rounds per sub-codebook
PQ_QUANT = GRID_QUANT  # the Lloyd grid, under its historical name


def _code_key_case() -> str:
    """code → code * K^sub as a CASE over the M subspaces (portable
    integer exponentiation identical in Spark and DuckDB; K^sub stays
    tiny: 16^3 = 4096)."""
    arms = " ".join(
        f"WHEN {m} THEN {PQ_K ** m}" for m in range(PQ_M)
    )
    return f"(CASE sub {arms} END)"


def _pq_lloyd_chain(src: str) -> str:
    """CTE chain ``c0 … codes``: PQ_ITERS Lloyd rounds of per-subspace
    codebook training over any melted-grid relation ``src`` with
    columns (vec_id, dim, sub, val) — ``m`` for plain PQ, the residual
    frame for IVF-PQ. Emits ``codes`` = final (vec_id, sub, code,
    sq_err)."""
    k = PQ_K
    chain = lloyd_ctes(
        src, k=k, iters=PQ_ITERS, keys=("vec_id", "sub"), cid="code"
    )
    return f"""{chain}, codes AS MATERIALIZED (
      SELECT vec_id, sub, key % {k} AS code, key // {k} AS sq_err
      FROM a{PQ_ITERS}
    )"""


def _pq_oracle_prefix() -> str:
    """Shared CTE chain: melted grid → per-subspace codebook training
    (PQ_ITERS Lloyd rounds) → final code per (vec, sub)."""
    return f"""
    WITH {_pq_melt_cte()}{_pq_lloyd_chain("m")}"""


def _pq_melt_cte() -> str:
    """``m``: the embeddings table melted to the grid, with ``sub``.
    MATERIALIZED: every consumer (Lloyd rounds, LUT, refine) re-reads
    it, and DuckDB 1.0 inlines a CTE by default, re-running the melt
    per reference (13 s → 0.4 s on the IVF-PQ oracle)."""
    return melt_cte("m", subdim=PQ_SUBDIM, materialized=True)


def _codes_oracle() -> str:
    return f"""{_pq_oracle_prefix()}
    SELECT vec_id,
           CAST(SUM(code * {_code_key_case()}) AS BIGINT) AS code_key,
           CAST(SUM(sq_err) AS BIGINT) AS total_sq_err
    FROM codes GROUP BY vec_id
    """


PQ_SHORTLIST = 50  # ADC candidates refined with exact distances


def _refine_oracle_tail(shortlist_n: int) -> str:
    """Shared oracle tail: ADC shortlist → exact grid re-rank → top-k.
    Expects CTEs ``adist(query_id, neighbor_id, adist_sq)`` and the
    melted frame ``m``; plain PQ and IVF-PQ differ only in the
    shortlist size."""
    return f""", shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist_sq, neighbor_id) AS rn
        FROM adist WHERE query_id != neighbor_id
      ) WHERE rn <= {shortlist_n}
    ), refined AS (
      SELECT s.query_id, s.neighbor_id,
             CAST({sq_dist_sql("mq.val", "mn.val")} AS BIGINT) AS dist_sq
      FROM shortlist s
      JOIN m mq ON mq.vec_id = s.query_id
      JOIN m mn ON mn.vec_id = s.neighbor_id AND mn.dim = mq.dim
      GROUP BY 1, 2
    ), r AS (
      SELECT query_id, neighbor_id, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dist_sq, neighbor_id) AS rn
      FROM refined
    )
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, dist_sq
    FROM r WHERE rn <= {TOP_K}
    """


def _adc_oracle() -> str:
    # LUT against the codebook the final assignment used (c{ITERS-1});
    # ADC distance = sum of the M per-subspace table entries. The ADC
    # top-PQ_SHORTLIST per query is then re-ranked by the EXACT grid
    # distance (the standard PQ refine stage — ADC generates
    # candidates; the final order never depends on quantization error).
    qm = f"(SELECT vec_id AS query_id, dim, sub, val FROM m WHERE vec_id < {N_QUERY_VECS})"
    lut = distance_sql(
        qm, f"c{PQ_ITERS - 1}", keys=("query_id", "sub"), cid="code", out="d2"
    )
    return f"""{_pq_oracle_prefix()}, lut AS (
      {lut}
    ), adist AS (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS adist_sq
      FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
      GROUP BY 1, 2
    ){_refine_oracle_tail(PQ_SHORTLIST)}"""


def _n_vecs(spark: SparkSession, sf_dir: str) -> int:
    """Vector count for the training-sample knob (called only inside
    cold builds). COUNT(*) over parquet is answered from row-group
    metadata (no column IO), and the result is one long — bounded
    driver data, same contract as the min/max bounds collects in
    functions/layout.py."""
    return load_table(spark, sf_dir, "embeddings").count()


def _melted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table melted to the integer grid,
    ``(vec_id, dim, sub, val)`` — the common input of all three PQ
    queries and the online server, so it is a shared frame
    (``artifacts.shared``): melted once per corpus snapshot, not per
    query. All-BIGINT, so the parquet round-trip is bit-exact."""

    def _build() -> dict[str, DataFrame]:
        emb = load_table(spark, sf_dir, "embeddings")
        return {"melt": grid_melt(emb, subdim=PQ_SUBDIM)}

    return A.shared(
        spark,
        f"pq_melt@r{_PQ_CHAIN_REV}-q{GRID_QUANT}",
        sf_dir,
        "embeddings",
        ("melt",),
        _build,
    )["melt"]


# Codebook-training sample cap (vectors). Lloyd rounds melt the whole
# frame once per iteration; at 100 TB that is PQ_ITERS full-corpus
# shuffles for a codebook whose quality saturates at ~10^5 training
# vectors (Jégou et al. train on held-out samples). Above the cap,
# training runs on a deterministic xxhash64 sample of vectors while
# ENCODING still covers every vector. At every test/driver scale
# (<= 50k vecs) the cap is inactive, so the DuckDB oracle — which
# always trains on all vectors — stays hash-identical; the sampled
# path is pinned separately by tests/test_pq.py.
PQ_TRAIN_SAMPLE = 100_000


def _train_codes(
    melted: DataFrame, *, n_vecs: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """PQ_ITERS Lloyd rounds per subspace. Returns (codes, centroids):
    codes = (vec_id, sub, code, sq_err) for EVERY vector, assigned
    against the trained codebook; centroids = that codebook.

    When ``n_vecs`` is given and exceeds ``PQ_TRAIN_SAMPLE``, the
    Lloyd rounds run on a deterministic hash-sample of ~PQ_TRAIN_SAMPLE
    vectors (`pmod(xxhash64(vec_id), ceil(n/cap)) = 0`); the final
    full-frame assignment is unchanged in shape. With the cap inactive
    (or ``n_vecs`` omitted) the chain is bitwise identical to training
    on everything — the formulation the DuckDB oracle replays.
    """
    k = PQ_K
    train = melted
    if n_vecs is not None and n_vecs > PQ_TRAIN_SAMPLE:
        mod = -(-n_vecs // PQ_TRAIN_SAMPLE)
        train = melted.where(
            F.expr(f"pmod(xxhash64(CAST(vec_id AS STRING)), {mod}) = 0")
        )
    assign, cent = lloyd(
        melted, k=k, iters=PQ_ITERS, keys=("vec_id", "sub"), cid="code",
        train=train,
    )
    codes = assign.selectExpr(
        "vec_id", "sub", f"key % {k} AS code", f"key DIV {k} AS sq_err"
    )
    return codes, cent


def _trained_m(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """`(codes, centroids)` trained on the full melted frame —
    `embedding_pq_codes` and `ann_topk_pq` run the identical Lloyd
    chain, so in a single-session parity pass the second consumer
    reuses the first's frames.

    Tiering: ``artifacts.shared`` — session memo → published lake
    artifact → Lloyd training. A COLD process reads the
    code table + codebook published by an earlier run instead of
    retraining; the chain is integer-exact and deterministic, so
    read-back equals retraining bit for bit and the replayed-SQL
    oracle stays hash-identical."""

    def _build() -> dict[str, DataFrame]:
        codes, cent = _train_codes(
            _melted(spark, sf_dir), n_vecs=_n_vecs(spark, sf_dir)
        )
        return {
            "codes": codes.localCheckpoint(eager=True),
            "centroids": cent,
        }

    art = A.shared(
        spark,
        f"pq_m@r{_PQ_CHAIN_REV}-m{PQ_M}k{PQ_K}i{PQ_ITERS}"
        f"q{GRID_QUANT}s{PQ_TRAIN_SAMPLE}",
        sf_dir,
        "embeddings",
        ("codes", "centroids"),
        _build,
    )
    return art["codes"], art["centroids"]


@query("embedding_pq_codes", _codes_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's packed PQ code (M 4-bit codes → one BIGINT) and
    its exact total quantization error on the integer grid — the
    compression-quality report for the 64× storage path (256 B float32 vector → 4 B code)."""
    codes, _ = _trained_m(spark, sf_dir)
    return codes.groupBy("vec_id").agg(
        F.sum(F.col("code") * F.expr(_code_key_case()))
        .cast("bigint")
        .alias("code_key"),
        F.sum("sq_err").cast("bigint").alias("total_sq_err"),
    )


@query("ann_topk_pq", _adc_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k via PQ in the standard two-stage shape: (1) asymmetric
    distance computation — per-query LUT against the trained codebooks
    (N_QUERY×M×K rows, broadcast), candidate distance = sum of M
    lookups over the 4-byte code frame, top-PQ_SHORTLIST kept;
    (2) refine — the shortlist alone is re-ranked by EXACT grid
    distance against the raw vectors (touches PQ_SHORTLIST×N_QUERY
    vectors, not the corpus). Everything int64-exact; recall vs brute
    force is pinned in tests/test_pq.py."""
    melted = _melted(spark, sf_dir)
    codes, cent = _trained_m(spark, sf_dir)
    qm = melted.where(F.col("vec_id") < N_QUERY_VECS)
    adist = adc_distances(
        qm.withColumnRenamed("vec_id", "query_id"), codes, cent
    )
    return _refine_topk(adist, qm, melted, PQ_SHORTLIST)


def adc_distances(
    qm: DataFrame, codes: DataFrame, cent: DataFrame
) -> DataFrame:
    """LUT + asymmetric distances for a melted query frame carrying
    ``(query_id, dim, sub, val)``: per-query per-subspace lookup table
    against the codebook, candidate distance = sum of M lookups over
    the code frame. One spelling for the batch query (ann_topk_pq) and
    the online server (streaming/serving.py)."""
    lut = centroid_distances(
        qm, cent, keys=("query_id", "sub"), cid="code", out="d2"
    )
    return (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("adist_sq"))
    )


def _refine_topk(
    adist: DataFrame,
    qm: DataFrame,
    melted: DataFrame,
    shortlist_n: int,
    *,
    exclude_self: bool = True,
    qm_query_col: str = "vec_id",
) -> DataFrame:
    """Shared refine stage: ADC shortlist → exact grid re-rank →
    top-k, the Spark twin of ``_refine_oracle_tail``, shared by plain
    PQ, IVF-PQ and streaming/serving.py. ``exclude_self`` drops
    query_id == neighbor_id matches — correct when queries ARE corpus
    vectors, wrong for external request ids; ``qm_query_col`` names
    the query-id column in ``qm`` (vec_id for the batch twins,
    query_id for the server's already-melted batch)."""
    if exclude_self:
        adist = adist.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy("adist_sq", "neighbor_id")
    shortlist = (
        adist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )
    refined = (
        shortlist.join(
            F.broadcast(
                qm.select(
                    F.col(qm_query_col).alias("query_id"),
                    "dim",
                    F.col("val").alias("qval"),
                )
            ),
            "query_id",
        )
        .join(
            melted.select(
                F.col("vec_id").alias("neighbor_id"),
                "dim",
                F.col("val").alias("nval"),
            ),
            ["neighbor_id", "dim"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr(f"CAST({sq_dist_sql('qval', 'nval')} AS BIGINT) AS dist_sq"))
    )
    wr = Window.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        refined.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rn").cast("int").alias("rank"),
            "dist_sq",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted file + residual product quantization + ADC
# ---------------------------------------------------------------------------
# The composition serving 100 TB vector stores in practice (Jégou et
# al. 2011 §V, "IVFADC"): a coarse quantizer partitions the corpus
# into cells (the inverted file), each vector stores only its PQ code
# of the RESIDUAL x − c(x) (residuals are far more compressible than
# raw vectors), and a query scans just its nprobe nearest cells,
# ranking candidates by per-cell ADC lookup tables. Search cost is
# ~nprobe/k of the corpus in 4-byte codes; nothing re-reads raw
# vectors until the exact refine of the shortlist.
#
# Exactness strategy: identical grid to plain PQ. The coarse
# quantizer is the per-label floored-integer-mean centroid (the
# deterministic stand-in ann_topk_ivf established); assignment and
# probe order use the composite key dist*CELL_MULT + cell so
# tie-breaks are engine-independent; residuals stay on the integer
# grid (val − ccval is exact int64), so the whole Lloyd chain, ADC
# ranking, and refine replay bitwise in DuckDB.
IVFPQ_NPROBE = 7  # recall >= 0.8 at sf0.001 and sf0.01 with the trained coarse
IVFPQ_CELL_MULT = 1024  # composite-key multiplier; labels < 1024
# Lloyd rounds refining the label-seeded coarse quantizer. Labels are
# not geometric, so raw label-mean cells scatter true neighbors across
# cells (measured recall 0.725-0.75 at nprobe=6); two integer-grid
# Lloyd rounds make the cells geometric and lift recall to the >= 0.8
# house bar at the SAME nprobe — training the coarse quantizer, not
# probing more cells, is how IVFADC earns its nprobe/k scan fraction
# at scale (Jégou et al. 2011 §V-A).
IVFPQ_COARSE_ITERS = 2

# Artifact algorithm signatures: the lake artifact
# store is content-addressed by CORPUS fingerprint, which cannot see
# code — a changed Lloyd chain would silently serve the OLD published
# index while the replayed-SQL oracle computes the NEW chain. The
# signature folds every training-relevant constant in automatically;
# bump the REV literal on any LOGIC change to the chain itself.
# r2: the melt now excludes NaN/Inf-element vectors via VALID_VEC —
# the training population changed, so published r1 indexes are stale.
_PQ_CHAIN_REV = 2
_IVFPQ_CHAIN_REV = 2
# IVF-PQ refines a larger ADC shortlist than plain PQ: residual codes
# rank slightly differently per probed cell and the exact-refine stage
# is the cheap part (shortlist x D int ops per query), so a 2x
# shortlist buys the recall bar without touching scan cost.
IVFPQ_SHORTLIST = 100


def _ivfpq_head_ctes() -> str:
    """CTEs up to the residual melt: coarse centroids (label-seeded,
    then IVFPQ_COARSE_ITERS Lloyd rounds), cell distances and
    assignment, and the residual frame ``rm``."""
    cm = IVFPQ_CELL_MULT
    keys = ("vec_id",)
    parts = [
        mean_cte(
            "co0", "m", "(SELECT vec_id, label AS cell FROM embeddings)",
            on=keys, by=("cell", "dim"), out="ccval",
        )
    ]
    for it in range(1, IVFPQ_COARSE_ITERS + 1):
        dists = distance_sql(
            "m", f"co{it - 1}", keys=keys, cid="cell", cval="ccval"
        )
        parts += [
            nearest_cte(
                f"ka{it}", f"({dists})",
                keys=keys, cid="cell", mult=cm, decode=True,
            ),
            mean_cte(
                f"co{it}", "m", f"ka{it}",
                on=keys, by=("cell", "dim"), out="ccval",
            ),
        ]
    cdist = distance_sql("m", "coarse", keys=keys, cid="cell", cval="ccval")
    parts += [
        f"""coarse AS MATERIALIZED (
      SELECT cell, dim, ccval FROM co{IVFPQ_COARSE_ITERS}
    )""",
        f"""cdist AS MATERIALIZED (
      {cdist}
    )""",
        nearest_cte(
            "cells", "cdist",
            keys=keys, cid="cell", mult=cm, decode=True, materialized=True,
        ),
        """rm AS MATERIALIZED (
      SELECT m.vec_id, m.dim, m.sub, m.val - co.ccval AS val
      FROM m JOIN cells ce ON m.vec_id = ce.vec_id
             JOIN coarse co ON co.cell = ce.cell AND co.dim = m.dim
    )""",
    ]
    return "".join(f", {p}" for p in parts)


def _ivfpq_oracle() -> str:
    np_, nq, cm = IVFPQ_NPROBE, N_QUERY_VECS, IVFPQ_CELL_MULT
    # the query's residual against each probed cell, then its LUT
    # against the residual codebook
    resid = """(SELECT q.query_id, q.cell, m.dim, m.sub,
                    m.val - co.ccval AS val
             FROM qprobe q
             JOIN m ON m.vec_id = q.query_id
             JOIN coarse co ON co.cell = q.cell AND co.dim = m.dim)"""
    lut = distance_sql(
        resid, f"c{PQ_ITERS - 1}",
        keys=("query_id", "cell", "sub"), cid="code", out="d2",
    )
    return f"""
    WITH {_pq_melt_cte()}{_ivfpq_head_ctes()}{_pq_lloyd_chain("rm")},
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY {rank_key_sql(cm, "cell")}) AS rn
        FROM cdist WHERE vec_id < {nq}
      ) WHERE rn <= {np_}
    ), lut AS (
      {lut}
    ), adist AS (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS adist_sq
      FROM codes cd
      JOIN cells ce ON ce.vec_id = cd.vec_id
      JOIN lut l ON l.cell = ce.cell AND l.sub = cd.sub
                AND l.code = cd.code
      GROUP BY 1, 2
    ){_refine_oracle_tail(IVFPQ_SHORTLIST)}"""


def _trained_ivfpq(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """IVFADC training artifacts: (coarse centroids, cell assignment,
    residual codes, residual codebook). Deterministic Lloyd chains
    over checkpointed frames.

    Tiering: ``artifacts.shared`` — session memo → published lake
    artifact → training. At 100 TB these four frames
    ARE the index a serving fleet reads — coarse centroids + codebook
    broadcast-sized, cells + codes the per-vector inverted file
    (partition by cell there) — so a cold session reads the published
    tables (~1s) instead of paying the ~3.6s Lloyd chain. Integer-exact
    training makes read-back bit-identical to retraining, which is why
    the replayed-SQL oracle needs no changes."""
    art = A.shared(
        spark,
        f"ivfpq@r{_IVFPQ_CHAIN_REV}-m{PQ_M}k{PQ_K}i{PQ_ITERS}"
        f"q{GRID_QUANT}s{PQ_TRAIN_SAMPLE}"
        f"c{IVFPQ_CELL_MULT}ci{IVFPQ_COARSE_ITERS}",
        sf_dir,
        "embeddings",
        ("coarse", "cells", "codes", "codebook"),
        lambda: _train_ivfpq_chain(spark, sf_dir),
    )
    return art["coarse"], art["cells"], art["codes"], art["codebook"]


def _train_ivfpq_chain(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The actual IVFADC Lloyd chain (artifact-store build callback)."""
    melted = _melted(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cm = IVFPQ_CELL_MULT

    lab = emb.select("vec_id", F.col("label").alias("cell"))
    keys = ("vec_id",)

    def nearest_cell(coarse: DataFrame) -> DataFrame:
        return nearest_centroid(
            melted, coarse, keys=keys, cid="cell", mult=cm, cval="ccval",
            decode=True,
        )

    def cell_means(assign: DataFrame) -> DataFrame:
        # cells x dims rows, checkpointed so the rounds don't stack
        # re-computed plans
        return centroid_means(
            melted, assign, on=keys, by=("cell", "dim"), out="ccval"
        ).localCheckpoint(eager=True)

    # Label-seeded init, then IVFPQ_COARSE_ITERS Lloyd rounds so the
    # cells are geometric.
    coarse = cell_means(lab)
    for _ in range(IVFPQ_COARSE_ITERS):
        coarse = cell_means(nearest_cell(coarse))
    cells = nearest_cell(coarse).localCheckpoint(eager=True)
    # materialize the residual frame: Lloyd training re-scans its
    # input once per round (plus the final full assignment), and
    # without this every scan re-runs the coarse/cdist/assignment
    # join-aggregate chain — measured ~4-5x the query's actual cost
    rm = (
        melted.join(cells, "vec_id")
        .join(F.broadcast(coarse), ["cell", "dim"])
        .selectExpr("vec_id", "dim", "sub", "val - ccval AS val")
        .localCheckpoint(eager=True)
    )
    codes, cb = _train_codes(rm, n_vecs=_n_vecs(spark, sf_dir))
    return {
        "coarse": coarse,
        "cells": cells,
        "codes": codes.localCheckpoint(eager=True),
        "codebook": cb,
    }


@query("ann_topk_ivfpq", _ivfpq_oracle())
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k via IVF-PQ (IVFADC): coarse cells from broadcast
    Lloyd-trained centroids (label-seeded init), residual-PQ codes, per-(query, probed-cell)
    ADC lookup tables, exact refine of the shortlist.

    Scale shape: the coarse codebook (cells×D ints) and the LUT
    (queries×nprobe×M×K rows) are always broadcast; assignment is one
    broadcast join over the melted frame; ADC joins only code rows of
    vectors in probed cells — at 100 TB, with the inverted file
    partitioned BY cell, a query's scan touches ~nprobe/k of the code
    frame and none of the raw vectors. Recall vs brute force is
    pinned in tests/test_pq.py."""
    melted = _melted(spark, sf_dir)
    coarse, cells, codes, cb = _trained_ivfpq(spark, sf_dir)
    cm = IVFPQ_CELL_MULT
    # per-call: full-corpus cell distances feed only the query probe
    # set, so the vec_id < N_QUERY_VECS predicate pushes through the
    # aggregate into the melted scan — serving cost, not training cost
    cdist = centroid_distances(
        melted, coarse, keys=("vec_id",), cid="cell", cval="ccval"
    )
    wq = Window.partitionBy("vec_id").orderBy(F.expr(rank_key_sql(cm, "cell")))
    qprobe = (
        cdist.where(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    qm = melted.where(F.col("vec_id") < N_QUERY_VECS)
    # the query's residual against each probed cell, then its LUT
    # against the residual codebook
    resid = (
        qm.withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(qprobe), "query_id")
        .join(F.broadcast(coarse), ["cell", "dim"])
        .selectExpr("query_id", "cell", "dim", "sub", "val - ccval AS val")
    )
    lut = centroid_distances(
        resid, cb, keys=("query_id", "cell", "sub"), cid="code", out="d2"
    )
    adist = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("adist_sq"))
    )
    return _refine_topk(adist, qm, melted, IVFPQ_SHORTLIST)
