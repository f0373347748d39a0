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

Exactness strategy (same as ``clustering.kmeans_embeddings``, whose
Lloyd-on-integer-grid idiom this reuses per subspace): embeddings are
quantized to an integer grid, all distances are exact int64 sums,
argmins tie-break to the lowest code via a composite ``dist*K + code``
key, and centroid updates floor the exact integer mean — so codebook
training, encoding, AND the ADC ranking are bitwise identical in the
DuckDB oracle, which replays the full chain as a generated CTE
sequence. No floats anywhere, including the reported distances.

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
from .similarity import N_QUERY_VECS, TOP_K, VALID_VEC_DUCK, VALID_VEC_SPARK

QUERIES, ORACLES, query = make_registry()

PQ_DIM = 64  # embedding dims (testdata schema)
PQ_M = 8  # subspaces
PQ_SUBDIM = PQ_DIM // PQ_M
PQ_K = 16  # codes per subspace (4 bits)
PQ_ITERS = 3  # Lloyd rounds per sub-codebook
PQ_QUANT = 10000  # integer grid, matches clustering.KMEANS_QUANT


def _code_key_case() -> str:
    """code → code * K^sub as a CASE over the M subspaces (portable
    integer exponentiation identical in Spark and DuckDB; K^sub stays
    tiny: 16^3 = 4096)."""
    arms = " ".join(
        f"WHEN {m} THEN {PQ_K ** m}" for m in range(PQ_M)
    )
    return f"(CASE sub {arms} END)"


def _pq_melt_cte() -> str:
    """``m``: the embeddings table melted to the integer grid."""
    # MATERIALIZED: every consumer (Lloyd rounds, LUT, refine) re-reads
    # this CTE; DuckDB 1.0 inlines by default, re-running the melt per
    # reference — measured 13s→0.4s on the IVF-PQ oracle (r06).
    q, sd = PQ_QUANT, PQ_SUBDIM
    # VALID_VEC: a NaN/Inf element would abort the integer-grid cast
    # in BOTH engines (r10 third-wave sweep) — malformed vectors are
    # excluded from training and encoding, identically on both sides.
    return f"""m AS MATERIALIZED (
      SELECT vec_id, u['d'] AS dim, (u['d'] - 1) // {sd} AS sub,
             CAST(FLOOR(CAST(u['v'] AS DOUBLE) * {q}) AS BIGINT) AS val
      FROM (SELECT vec_id,
                   unnest(list_transform(generate_series(1, len(embedding)),
                          i -> {{'d': i, 'v': embedding[i]}})) AS u
            FROM embeddings WHERE {VALID_VEC_DUCK})
    )"""


def _pq_lloyd_chain(src: str) -> str:
    """CTE chain ``c0 … codes``: PQ_ITERS Lloyd rounds of per-subspace
    codebook training over any melted-grid CTE ``src`` with columns
    (vec_id, dim, sub, val) — ``m`` for plain PQ, the residual frame
    for IVF-PQ. Emits ``codes`` = final (vec_id, sub, code, sq_err)."""
    k = PQ_K
    parts = [
        f""", c0 AS (
      SELECT vec_id AS code, sub, dim, val AS cval
      FROM {src} WHERE vec_id < {k}
    )"""
    ]
    for it in range(1, PQ_ITERS + 1):
        prev = f"c{it - 1}"
        parts.append(
            f""", a{it} AS (
      SELECT vec_id, sub, MIN(dist * {k} + code) AS key
      FROM (SELECT s.vec_id, s.sub, c.code,
                   SUM((s.val - c.cval) * (s.val - c.cval)) AS dist
            FROM {src} s JOIN {prev} c ON s.dim = c.dim
            GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    )"""
        )
        if it < PQ_ITERS:
            parts.append(
                f""", c{it} AS MATERIALIZED (
      SELECT a.key % {k} AS code, s.sub, s.dim,
             CAST(FLOOR(CAST(SUM(s.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS cval
      FROM {src} s JOIN a{it} a ON s.vec_id = a.vec_id AND s.sub = a.sub
      GROUP BY 1, 2, 3
    )"""
            )
    parts.append(
        f""", codes AS MATERIALIZED (
      SELECT vec_id, sub, key % {k} AS code, key // {k} AS sq_err
      FROM a{PQ_ITERS}
    )"""
    )
    return "".join(parts)


def _pq_oracle_prefix() -> str:
    """Shared CTE chain: melted grid → per-subspace codebook training
    (PQ_ITERS Lloyd rounds) → final code per (vec, sub)."""
    return f"""
    WITH {_pq_melt_cte()}{_pq_lloyd_chain("m")}"""


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
    melted frame ``m``; identical between plain PQ and IVF-PQ except
    the shortlist size (r07 review: was copy-pasted in both oracles,
    mirroring the copy-pasted Spark block)."""
    return f""", shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist_sq, neighbor_id) AS rn
        FROM adist WHERE query_id != neighbor_id
      ) WHERE rn <= {shortlist_n}
    ), refined AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(SUM((mq.val - mn.val) * (mq.val - mn.val)) AS BIGINT)
               AS dist_sq
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
    return f"""{_pq_oracle_prefix()}, lut AS (
      SELECT m.vec_id AS query_id, c.sub, c.code,
             SUM((m.val - c.cval) * (m.val - c.cval)) AS d2
      FROM m JOIN c{PQ_ITERS - 1} c ON m.dim = c.dim
      WHERE m.vec_id < {N_QUERY_VECS}
      GROUP BY 1, 2, 3
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
        # VALID_VEC mirrors the oracle melt: one NaN/Inf element
        # aborted the FLOOR→BIGINT grid cast under ANSI (r10 third-wave
        # sweep)
        emb = load_table(spark, sf_dir, "embeddings").where(VALID_VEC_SPARK)
        return {
            "melt": emb.select(
                "vec_id", F.posexplode("embedding").alias("pos0", "v")
            ).select(
                "vec_id",
                (F.col("pos0") + 1).cast("bigint").alias("dim"),
                (F.col("pos0") / PQ_SUBDIM).cast("bigint").alias("sub"),
                F.floor(F.col("v").cast("double") * PQ_QUANT)
                .cast("bigint")
                .alias("val"),
            )
        }

    return A.shared(
        spark,
        f"pq_melt@r{_PQ_CHAIN_REV}-q{PQ_QUANT}",
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


def _assign(frame: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-(vec, sub) argmin code vs a broadcast codebook, as the
    exact composite key ``min(dist*K + code)``."""
    return (
        frame.join(F.broadcast(cent.drop("sub")), "dim")
        .groupBy("vec_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("dist")
        )
        .groupBy("vec_id", "sub")
        .agg(F.min(F.col("dist") * PQ_K + F.col("code")).alias("key"))
    )


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
    cent = melted.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("code"), "sub", "dim", F.col("val").alias("cval")
    )
    for _ in range(PQ_ITERS - 1):
        assign = _assign(train, cent)
        cent = (
            train.join(
                assign.select(
                    "vec_id", "sub", (F.col("key") % k).alias("code")
                ),
                ["vec_id", "sub"],
            )
            .groupBy("code", "sub", "dim")
            .agg(
                F.floor(F.sum("val").cast("double") / F.count("*"))
                .cast("bigint")
                .alias("cval")
            )
            .localCheckpoint(eager=True)
        )
    codes = _assign(melted, cent).select(
        "vec_id",
        "sub",
        (F.col("key") % k).alias("code"),
        F.expr(f"key DIV {k}").alias("sq_err"),
    )
    return codes, cent


def _trained_m(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """`(codes, centroids)` trained on the full melted frame —
    `embedding_pq_codes` and `ann_topk_pq` run the identical Lloyd
    chain, so in a single-session parity pass the second consumer
    reuses the first's frames.

    Tiering (r08 verdict #3): ``artifacts.shared`` — session memo →
    published lake artifact → Lloyd training. A COLD process reads the
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
        f"q{PQ_QUANT}s{PQ_TRAIN_SAMPLE}",
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
    the online server (streaming/serving.py), which had drifted into a
    third copy of the block (r08 review)."""
    lut = (
        qm.join(F.broadcast(cent.drop("sub")), "dim")
        .groupBy("query_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("d2")
        )
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
    top-k, the Spark twin of ``_refine_oracle_tail`` (r07 review: the
    ~45-line block was copy-pasted between plain PQ and IVF-PQ, so a
    refine fix could land in only one of them; r08 retired the third
    copy in streaming/serving.py). ``exclude_self`` drops
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
        .agg(
            F.sum(
                (F.col("qval") - F.col("nval"))
                * (F.col("qval") - F.col("nval"))
            )
            .cast("bigint")
            .alias("dist_sq")
        )
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

# Artifact algorithm signatures (r09 diff review): the lake artifact
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
    """CTEs up to the residual melt: coarse centroids, cell
    assignment, and the residual frame ``rm``."""
    cm = IVFPQ_CELL_MULT
    parts = [
        f""", co0 AS (
      SELECT l.label AS cell, m.dim,
             CAST(FLOOR(CAST(SUM(m.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS ccval
      FROM m JOIN (SELECT vec_id, label FROM embeddings) l
             ON m.vec_id = l.vec_id
      GROUP BY 1, 2
    )"""
    ]
    for it in range(1, IVFPQ_COARSE_ITERS + 1):
        parts.append(
            f""", ka{it} AS (
      SELECT vec_id, MIN(dist * {cm} + cell) % {cm} AS cell
      FROM (SELECT m.vec_id, c.cell,
                   SUM((m.val - c.ccval) * (m.val - c.ccval)) AS dist
            FROM m JOIN co{it - 1} c ON m.dim = c.dim
            GROUP BY 1, 2)
      GROUP BY 1
    ), co{it} AS (
      SELECT a.cell, m.dim,
             CAST(FLOOR(CAST(SUM(m.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS ccval
      FROM m JOIN ka{it} a USING (vec_id)
      GROUP BY 1, 2
    )"""
        )
    parts.append(
        f""", coarse AS MATERIALIZED (
      SELECT cell, dim, ccval FROM co{IVFPQ_COARSE_ITERS}
    ), cdist AS MATERIALIZED ("""
    )
    return "".join(parts) + f"""
      SELECT m.vec_id, c.cell,
             SUM((m.val - c.ccval) * (m.val - c.ccval)) AS dist
      FROM m JOIN coarse c ON m.dim = c.dim
      GROUP BY 1, 2
    ), cells AS MATERIALIZED (
      SELECT vec_id, MIN(dist * {cm} + cell) % {cm} AS cell
      FROM cdist GROUP BY 1
    ), rm AS MATERIALIZED (
      SELECT m.vec_id, m.dim, m.sub, m.val - co.ccval AS val
      FROM m JOIN cells ce ON m.vec_id = ce.vec_id
             JOIN coarse co ON co.cell = ce.cell AND co.dim = m.dim
    )"""


def _ivfpq_oracle() -> str:
    np_, nq, cm = IVFPQ_NPROBE, N_QUERY_VECS, IVFPQ_CELL_MULT
    return f"""
    WITH {_pq_melt_cte()}{_ivfpq_head_ctes()}{_pq_lloyd_chain("rm")},
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY dist * {cm} + cell) AS rn
        FROM cdist WHERE vec_id < {nq}
      ) WHERE rn <= {np_}
    ), lut AS (
      SELECT q.query_id, q.cell, cb.sub, cb.code,
             SUM((m.val - co.ccval - cb.cval)
                 * (m.val - co.ccval - cb.cval)) AS d2
      FROM qprobe q
      JOIN m ON m.vec_id = q.query_id
      JOIN coarse co ON co.cell = q.cell AND co.dim = m.dim
      JOIN c{PQ_ITERS - 1} cb ON cb.dim = m.dim
      GROUP BY 1, 2, 3, 4
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

    Tiering (r08 verdict #3): ``artifacts.shared`` — session memo →
    published lake artifact → training. At 100 TB these four frames
    ARE the index a serving fleet reads — coarse centroids + codebook
    broadcast-sized, cells + codes the per-vector inverted file
    (partition by cell there) — so a cold session reads the published
    tables (~1s) instead of paying the ~3.6s Lloyd chain. Integer-exact
    training makes read-back bit-identical to retraining, which is why
    the replayed-SQL oracle needs no changes."""
    art = A.shared(
        spark,
        f"ivfpq@r{_IVFPQ_CHAIN_REV}-m{PQ_M}k{PQ_K}i{PQ_ITERS}"
        f"q{PQ_QUANT}s{PQ_TRAIN_SAMPLE}"
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

    def _cell_means(assign: DataFrame) -> DataFrame:
        return (
            melted.join(assign, "vec_id")
            .groupBy("cell", "dim")
            .agg(
                F.floor(F.sum("val").cast("double") / F.count("*"))
                .cast("bigint")
                .alias("ccval")
            )
        )

    # Label-seeded init, then IVFPQ_COARSE_ITERS Lloyd rounds on the
    # integer grid (composite-key argmin, floored-int-mean update) so
    # cells are geometric. Each centroid frame is cells x dims rows —
    # checkpointed so the iteration doesn't stack re-computed plans.
    coarse = _cell_means(lab).localCheckpoint(eager=True)
    for _ in range(IVFPQ_COARSE_ITERS):
        assign = (
            melted.join(F.broadcast(coarse), "dim")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    (F.col("val") - F.col("ccval"))
                    * (F.col("val") - F.col("ccval"))
                ).alias("dist")
            )
            .groupBy("vec_id")
            .agg(
                (F.min(F.col("dist") * cm + F.col("cell")) % cm)
                .alias("cell")
            )
        )
        coarse = _cell_means(assign).localCheckpoint(eager=True)
    cells = (
        melted.join(F.broadcast(coarse), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(
                (F.col("val") - F.col("ccval"))
                * (F.col("val") - F.col("ccval"))
            ).alias("dist")
        )
        .groupBy("vec_id")
        .agg((F.min(F.col("dist") * cm + F.col("cell")) % cm).alias("cell"))
        .localCheckpoint(eager=True)
    )
    # materialize the residual frame: Lloyd training re-scans its
    # input once per round (plus the final full assignment), and
    # without this every scan re-runs the coarse/cdist/assignment
    # join-aggregate chain — measured ~4-5x the query's actual cost
    rm = (
        melted.join(cells, "vec_id")
        .join(F.broadcast(coarse), ["cell", "dim"])
        .select(
            "vec_id", "dim", "sub", (F.col("val") - F.col("ccval")).alias("val")
        )
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
    cdist = (
        melted.join(F.broadcast(coarse), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(
                (F.col("val") - F.col("ccval"))
                * (F.col("val") - F.col("ccval"))
            ).alias("dist")
        )
    )

    wq = Window.partitionBy("vec_id").orderBy(
        F.col("dist") * cm + F.col("cell")
    )
    qprobe = (
        cdist.where(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    qm = melted.where(F.col("vec_id") < N_QUERY_VECS)
    lut = (
        qm.withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(qprobe), "query_id")
        .join(F.broadcast(coarse), ["cell", "dim"])
        .join(F.broadcast(cb.drop("sub")), "dim")
        .groupBy("query_id", "cell", "sub", "code")
        .agg(
            F.sum(
                (F.col("val") - F.col("ccval") - F.col("cval"))
                * (F.col("val") - F.col("ccval") - F.col("cval"))
            ).alias("d2")
        )
    )
    adist = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("adist_sq"))
    )
    return _refine_topk(adist, qm, melted, IVFPQ_SHORTLIST)
