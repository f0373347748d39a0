"""Corpus-curation operators: semantic dedup, hashed quality
classification, interval (range) joins, and containment detection.

These extend the LLM-data surface in ``operators/dedup.py`` /
``operators/text.py`` with the next tier of techniques a training-data
pipeline needs (reference repo has none of these — it is a two-table
energy ETL, ``/root/reference/src/main.py:1-118``; this module is pure
engine extension per SURVEY.md §2.10):

- ``dedup_semantic`` — SemDeDup-style: cluster embeddings, then look
  for near-duplicates ONLY within a cluster. Pair space drops from
  O(n²) to O(n²/k); at 100 TB, k scales with the corpus so per-cluster
  work stays bounded.
- ``text_quality_classifier`` — fastText-style hashed linear scorer:
  token → hash bucket → weight, document score = mean bucket weight.
  The weights here are a deterministic pseudo-random table keyed by
  bucket id (a real deployment broadcasts trained weights — same plan
  shape, different literals); everything is codegen'd integer math.
- ``join_range_interval`` — event-in-interval join via bucketized
  equi-join (the standard trick to keep Catalyst off a broadcast
  nested-loop plan for pure range predicates). Hash-matching the
  naive inequality-join oracle proves the bucketization lossless.
- ``text_containment`` — asymmetric shingle containment
  |A∩B| / |A| ≥ t: catches quotes / doc-inside-doc pairs that
  symmetric Jaccard misses (a 30-word quote inside a 3000-word doc has
  Jaccard ≈ 0.01 but containment 1.0).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions import hashing as H
from ..pipeline import artifacts as A
from ..sources.tables import load_table
from ._registry import make_registry
from . import dedup as D
from .clustering import (
    GRID_QUANT,
    argmin_key_sql,
    distance_sql,
    grid_sql,
    melt_cte,
    nearest_cte,
    seed_cte,
)
from .similarity import EMB_DIM, VALID_VEC_SPARK
from .timeseries import _CENTS_TPL, _cents  # noqa: E402
from .dedup import (
    COSINE_QUANT,
    SHINGLE_DOC_CAP,
    SHINGLE_N,
    _bucket_pairs_sql,
    _cached,
)

QUERIES, ORACLES, query = make_registry()

_TOKS_DUCK = H.tokens_sql("text", duck=True)
_TOKS_SPARK = H.tokens_sql("text", duck=False)

# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-pair semantic deduplication
# ---------------------------------------------------------------------------
# Facebook's SemDeDup (Abbas et al. 2023, public) deduplicates web-scale
# corpora by k-means-clustering embeddings and comparing cosine
# similarity only within each cluster. The assignment is one step of
# operators/clustering.py's integer-grid Lloyd step, so it is EXACT and
# reproducible in DuckDB: each vector goes to its nearest seed centroid
# (vec_id < K, ties to the lowest cluster id via the composite argmin
# key); then exact float cosine is computed for within-cluster pairs
# only. The engine keeps each vector as one row holding its grid array
# and folds the distance over the array (``semantic_cluster_assignment``);
# the oracle runs the shared melt-form CTEs. Both sum a duplicated
# vec_id's distance over every pair of copies.
SEM_K = 8
SEM_QUANT = GRID_QUANT  # the Lloyd grid, under its historical name
SEM_THRESHOLD = 0.3  # calibrated: testdata embedding pairs max out ~0.5


def _semantic_oracle() -> str:
    # qv rides the SAME integer grid as dedup_embedding_cosine
    # (ROUND at COSINE_QUANT), so within-cluster cosines are exactly
    # the global operator's values where both report a pair (pinned
    # by tests/test_curation_ops.py); val (the Lloyd grid) stays the
    # assignment grid. Integer dp/n2 sums are partition-order-independent,
    # where float sums are not.
    k, t = SEM_K, SEM_THRESHOLD
    qv = f"CAST(ROUND(CAST(u['v'] AS DOUBLE) * {COSINE_QUANT}, 0) AS BIGINT) AS qv"
    keys = ("vec_id",)
    dists = distance_sql("m", "cent", keys=keys, cid="cluster")
    asn = nearest_cte(
        "asn", f"({dists})", keys=keys, cid="cluster", mult=k, decode=True
    )
    return f"""
    WITH {melt_cte("m", extra=[qv])},
    {seed_cte("cent", "m", k=k, cid="cluster")},
    {asn},
    nrm AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2
               FROM m GROUP BY 1),
    ec AS (
      SELECT m.vec_id, CAST(asn.cluster AS INT) AS cluster, m.dim, m.qv
      FROM m JOIN asn USING (vec_id)
    ), dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster AS cluster,
             CAST(SUM(a.qv * b.qv) AS BIGINT) AS dp
      FROM ec a JOIN ec b
        ON a.cluster = b.cluster AND a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    )
    SELECT vec_a, vec_b, cluster,
           dp / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
    FROM dots
    JOIN nrm na ON vec_a = na.vec_id
    JOIN nrm nb ON vec_b = nb.vec_id
    WHERE na.n2 > 0 AND nb.n2 > 0
      AND dp / (sqrt(na.n2) * sqrt(nb.n2)) >= {t}
    """


def _int_sum(expr: str) -> Column:
    """Exact BIGINT left fold of an integer array expression."""
    return F.expr(f"aggregate({expr}, CAST(0 AS BIGINT), (acc, x) -> acc + x)")


def _semantic_grids(emb: DataFrame) -> DataFrame:
    """``(vec_id, val, qv)`` — one row per valid embeddings row: its
    embedding on the Lloyd grid (assignment) and on the
    ROUND grid at COSINE_QUANT (pairs; dedup_embedding_cosine's grid,
    so within-cluster cosines equal the global operator's exactly).
    VALID_VEC mirrors the oracle, so each array holds exactly EMB_DIM
    finite elements."""
    return emb.where(VALID_VEC_SPARK).select(
        "vec_id",
        F.expr(f"transform(embedding, x -> {grid_sql('x')})").alias("val"),
        F.expr(
            "transform(embedding,"
            f" x -> CAST(ROUND(CAST(x AS DOUBLE) * {COSINE_QUANT}, 0) AS BIGINT))"
        ).alias("qv"),
    )


def semantic_cluster_assignment(
    emb: DataFrame, *, k: int = SEM_K
) -> DataFrame:
    """``(vec_id, cluster)`` — the SemDeDup coarse assignment: each
    valid vector's nearest seed centroid (valid ``vec_id < k``) by
    squared grid distance, one exact integer fold per broadcast
    centroid; ties go to the lowest cluster via the shared argmin key.
    A vec_id held by several valid rows sums the distance over every
    pair of copies, as the oracle's per-dimension join does. This
    stays per-row, not the shared melt: the published frame and the
    pair stage hold one array row per vector too. Public so
    tests can verify the decomposition is LOSSLESS (within one
    cluster, exactly the global pairs are found)."""
    g = _semantic_grids(emb)
    cent = F.broadcast(
        g.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cluster"), F.col("val").alias("cval")
        )
    )
    dist = _int_sum("zip_with(val, cval, (x, y) -> (x - y) * (x - y))")
    return (
        g.crossJoin(cent)
        .groupBy("vec_id", "cluster")
        .agg(F.sum(dist).alias("dist"))
        .groupBy("vec_id")
        .agg(
            F.expr(
                f"CAST({argmin_key_sql(k, 'cluster')} % {k} AS INT) AS cluster"
            )
        )
    )


def semantic_assigned_vectors(
    emb: DataFrame, *, k: int = SEM_K
) -> DataFrame:
    """``(vec_id, cluster, qv, n2)`` — one row per valid vec_id: its
    cosine-grid array and squared norm, tagged with its SemDeDup
    cluster, i.e. exactly the frame the within-cluster pair stage
    consumes. A vec_id held by several valid rows folds into one row
    the way the oracle's per-dimension sums see it: ``qv`` is the
    elementwise sum of the copies (so ``dp`` sums over every pair of
    copies) and ``n2`` the sum of their squared norms. All-integer
    columns, so a parquet round-trip is bit-exact (the artifact-tier
    contract)."""
    q = F.col("qv")
    vectors = _semantic_grids(emb).groupBy("vec_id").agg(
        F.array(*(F.sum(q[i]) for i in range(EMB_DIM))).alias("qv"),
        F.sum(_int_sum("transform(qv, x -> x * x)")).alias("n2"),
    )
    return vectors.join(
        semantic_cluster_assignment(emb, k=k), "vec_id"
    ).select("vec_id", "cluster", "qv", "n2")


def semantic_dup_pairs(
    emb: DataFrame, *, k: int = SEM_K, threshold: float = SEM_THRESHOLD
) -> DataFrame:
    """Within-cluster cosine near-dup pairs (SemDeDup shape): assign
    each vector to a cluster, then pair only within clusters — pair
    space is Σ n_c², never n². At 100 TB, k grows with the corpus
    (SemDeDup uses k ≈ √n·const) keeping n_c bounded."""
    ec = _cached(semantic_assigned_vectors(emb, k=k))
    return semantic_pairs_from_assigned(ec, threshold=threshold)


def semantic_pairs_from_assigned(
    ec: DataFrame, *, threshold: float = SEM_THRESHOLD
) -> DataFrame:
    """The SemDeDup pair stage over an (already persisted/published)
    assigned-vectors frame: a join on ``cluster`` with ``vec_a <
    vec_b`` emits one row per within-cluster pair, and ``dp`` is an
    exact BIGINT fold over the two EMB_DIM-element arrays — a fixed
    bound per row, unlike a ``collect_list`` per (cluster, dim), which
    grows with the cluster. The streamed side is spread over
    ``defaultParallelism`` partitions so the pairs use every core even
    when the published frame is one file.

    Norms come from ``ec`` itself: a never-assigned vector cannot be
    in any within-cluster pair, so this matches the oracle, whose nrm
    CTE covers all valid vectors but only ever joins assigned ones."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"vec_{s}"),
            "cluster",
            F.col("qv").alias(f"q{s}"),
            F.col("n2").alias(f"n{s}2"),
        )

    spread = ec.repartition(ec.sparkSession.sparkContext.defaultParallelism)
    a, b = side(spread, "a"), side(ec, "b")
    dp = _int_sum("zip_with(qa, qb, (x, y) -> x * y)")
    # raw ratio of exact-int grid values — identical IEEE tree in both
    # engines, where ROUND(double, 4) diverges on near-ties.
    # Positive-norm gate: a zero-norm vector's 0/0 is NULL in Spark
    # but NaN in DuckDB, which would rank it above the threshold.
    cos = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        dp / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
    )
    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "cluster", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# Bump on ANY change to the assignment derivation or published layout
# (quantization grids, K, centroid init, VALID_VEC semantics,
# tie-break, columns) — see dedup._LSH_PAIRS_CHAIN_REV.
_SEM_EC_CHAIN_REV = 2


def shared_semantic_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Published SemDeDup assigned-vectors frame of
    ``{sf_dir}/embeddings``: the k-means assignment is a model trained
    on the corpus, so a warm process reads it instead of re-quantizing
    and re-assigning per query. All-integer columns make the parquet
    round-trip bit-exact; the kind carries every chain constant."""
    kind = (
        f"sem_ec@r{_SEM_EC_CHAIN_REV}"
        f"-k{SEM_K}q{GRID_QUANT}c{COSINE_QUANT}"
    )
    return A.shared(
        spark,
        kind,
        sf_dir,
        "embeddings",
        ("ec",),
        lambda: {
            "ec": semantic_assigned_vectors(load_table(spark, sf_dir, "embeddings"))
        },
    )["ec"]


@query("dedup_semantic", _semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_pairs_from_assigned(
        shared_semantic_assignment(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style scoring plan)
# ---------------------------------------------------------------------------
# Production quality filters (CCNet, fastText-based LLM corpus filters)
# score each document with a linear model over hashed token features.
# The plan below is exactly that inference: token → bucket (md5 % B) →
# weight lookup → mean over the document → threshold. Weights are a
# deterministic pseudo-random table W(b) = (b * KNUTH) % WMOD so both
# engines materialize identical integers; swapping in trained weights
# is a broadcast-join against a (bucket, weight) table with the same
# plan shape. Score stays in exact integer milli-units: the sigmoid is
# monotone, so thresholding the raw mean is equivalent to thresholding
# the probability — no float in the gate.
CLS_BUCKETS = 4096
CLS_KNUTH = 2654435761  # Knuth multiplicative-hash constant (public)
CLS_WMOD = 10007  # prime: weights in [0, 10007)
CLS_CUTOFF_MILLI = 5_000_000  # ≈ mean-weight * 1000: keeps ~half


def _classifier_weight(bucket_sql: str) -> str:
    """Weight-table lookup as pure integer SQL (identical both engines).

    bucket < 4096 so bucket * KNUTH < 2^44 — no int64 overflow."""
    return f"(({bucket_sql}) * {CLS_KNUTH}) % {CLS_WMOD}"


# The full scoring SELECT, reused verbatim as a CTE body by
# corpus_dedup_keep_best's oracle.
_CLS_ORACLE = f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents),
    f AS (SELECT doc_id,
                 {_classifier_weight(H.md5_int64("tok", duck=True) + f" % {CLS_BUCKETS}")} AS w
          FROM t),
    s AS (SELECT doc_id, COUNT(*) AS n_tok,
                 CAST(SUM(w) AS BIGINT) AS sum_w
          FROM f GROUP BY doc_id)
    SELECT doc_id, n_tok, sum_w,
           CAST((sum_w * 1000) // n_tok AS BIGINT) AS score_milli,
           CAST((sum_w * 1000) // n_tok >= {CLS_CUTOFF_MILLI} AS INT) AS keep
    FROM s
    """


def quality_scores(docs: DataFrame) -> DataFrame:
    """Hashed-linear-model scores: (doc_id, n_tok, sum_w, score_milli,
    keep). Token-less documents emit no row (explode drops them)."""
    t = docs.select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("tok"))
    bucket = H.md5_int64("tok", duck=False) + f" % {CLS_BUCKETS}"
    f = t.select(
        "doc_id", F.expr(_classifier_weight(bucket)).alias("w")
    )
    s = f.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"), F.sum("w").alias("sum_w")
    )
    score = F.expr("CAST((sum_w * 1000) DIV n_tok AS BIGINT)")
    return s.select(
        "doc_id",
        "n_tok",
        "sum_w",
        score.alias("score_milli"),
        (score >= CLS_CUTOFF_MILLI).cast("int").alias("keep"),
    )


@query("text_quality_classifier", _CLS_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the hashed linear model.

    One narrow shuffle (groupBy doc_id over 16-byte rows); everything
    else is whole-stage-codegen'd string/int expressions. At 100 TB
    this is embarrassingly parallel — the weight 'table' is an
    expression, so there is no join at all; with trained weights it
    becomes one broadcast hash join.
    """
    return quality_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Interval (range) join via bucketized equi-join
# ---------------------------------------------------------------------------
# "Count attributed clicks inside the 24 h window opened by each
# high-value purchase." A pure range-predicate join gives Catalyst no
# equi-key and degenerates to broadcast-nested-loop; the scalable
# formulation buckets time into interval-length cells, explodes each
# window onto the (≤2) cells it covers, equi-joins on
# (user_id, bucket), and re-applies the exact range predicate. The
# DuckDB oracle runs the naive inequality join — hash equality proves
# the bucket decomposition lossless.
RANGE_WINDOW_HOURS = 24
RANGE_BUCKET_SECS = RANGE_WINDOW_HOURS * 3600  # bucket width == window length
RANGE_MIN_VALUE = 100


@query(
    "join_range_interval",
    f"""
    WITH w AS (SELECT event_id AS window_id, user_id, ts AS w_start,
                      ts + INTERVAL {RANGE_WINDOW_HOURS} HOUR AS w_end
               FROM events
               WHERE event_type = 'purchase' AND value >= {RANGE_MIN_VALUE}),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT w.window_id, w.user_id,
           COUNT(*) AS n_clicks,
           CAST(SUM({_CENTS_TPL.format("c.value")}) AS BIGINT)
             AS click_cents
    FROM w JOIN c
      ON c.user_id = w.user_id AND c.ts >= w.w_start AND c.ts < w.w_end
    GROUP BY 1, 2
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: equi-join on (user_id, time-bucket).

    Each window spans at most 2 buckets (width == window length), so
    the build side inflates ≤2× and the probe side not at all; the
    join is a plain shuffled hash join on two int keys. At 100 TB the
    shuffle carries (user_id, bucket, ts, value) — no payload — and
    skew is bounded by events-per-user-per-day. Contrast with the
    range-only join: Catalyst would pick BroadcastNestedLoopJoin and
    scan every (window, click) combination per user.
    """
    ev = load_table(spark, sf_dir, "events")
    w = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("value") >= RANGE_MIN_VALUE)
    ).select(
        F.col("event_id").alias("window_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr(f"INTERVAL {RANGE_WINDOW_HOURS} HOUR")).alias(
            "w_end"
        ),
    )
    wb = w.withColumn(
        "bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("w_start") / RANGE_BUCKET_SECS),
                F.floor(F.unix_timestamp("w_end") / RANGE_BUCKET_SECS),
            )
        ),
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        "value",
        F.floor(F.unix_timestamp("ts") / RANGE_BUCKET_SECS).alias("bkt"),
    )
    return (
        c.join(wb, ["user_id", "bkt"])
        .where((F.col("c_ts") >= F.col("w_start")) & (F.col("c_ts") < F.col("w_end")))
        .groupBy("window_id", "user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            # integer cents, never ROUND(SUM(double)): a float sum is
            # partition-order-dependent and decimal rounding of it
            # splits across engines on near-ties
            F.sum(_cents("value"))
            .cast("bigint")
            .alias("click_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment (doc-inside-doc detection)
# ---------------------------------------------------------------------------
# Containment C(A→B) = |S(A) ∩ S(B)| / |S(A)| finds quotes, excerpts,
# and boilerplate-wrapped copies that symmetric Jaccard misses. Same
# capped inverted index as dedup_shingle_jaccard (postings shuffle as
# 8-byte hashes; hot shingles dropped pre-pairing), but both pair
# orientations are emitted, each thresholded on ITS OWN size.
CONTAINMENT_THRESHOLD = 0.6


@query(
    "text_containment",
    f"""{D.shingle_index_ctes()},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), both_dirs AS (
      SELECT doc_a AS doc_inner, doc_b AS doc_outer, c FROM common
      UNION ALL
      SELECT doc_b AS doc_inner, doc_a AS doc_outer, c FROM common
    )
    SELECT doc_inner, doc_outer, (c * 1.0 / sz.n) AS containment
    FROM both_dirs JOIN sz ON doc_inner = sz.doc_id
    WHERE c * 1.0 / sz.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over the capped shingle inverted index.

    Identical index plan to ``shingle_jaccard_pairs`` (see
    operators/dedup.py for the cap rationale); the pair expansion is
    in-array (O(cap²) per posting, codegen'd), then each unordered
    pair fans out to its two orientations and is thresholded against
    the inner doc's own shingle count. Call
    ``dedup.release_cached_frames()`` after consuming.
    """
    # the ONE capped-index core (dedup.py): in-row-distinct postings +
    # hot-shingle cap + sizes — no local copy, so a set-semantics or
    # cap fix reaches this operator too.
    # Postings ride the published shingle-postings artifact: a warm
    # process pays a parquet read, not the tokenize→shingle→md5
    # explode.
    hx = D.shared_shingle_postings(spark, sf_dir)
    grouped, sz = D.capped_posting_arrays(hx)
    common = (
        grouped.where(F.size("ds") >= 2)
        .select(F.explode(F.expr(_bucket_pairs_sql("ds"))).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("c"))
    )
    both = common.select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        "c",
    ).unionAll(
        common.select(
            F.col("doc_b").alias("doc_inner"),
            F.col("doc_a").alias("doc_outer"),
            "c",
        )
    )
    cont = F.col("c") * 1.0 / F.col("n")
    return (
        both.join(sz.withColumnRenamed("doc_id", "doc_inner"), "doc_inner")
        .where(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_inner", "doc_outer", cont.alias("containment"))
    )


# ---------------------------------------------------------------------------
# BPE merge-rule training (iterative pair-merge vocabulary induction)
# ---------------------------------------------------------------------------
# Gage's byte-pair-encoding algorithm, run at word granularity (the
# alphabet is whitespace tokens instead of bytes — the melted-frame
# plans are identical, corpus phrase mining instead of subword
# induction): repeatedly find the most frequent adjacent symbol pair
# and merge every greedy-left-to-right occurrence into one symbol.
# Training a tokenizer IS a corpus-scale data job, and the interesting
# part is making the merge step — inherently sequential within a
# document — a pure window-function plan:
#
#   match(i)   = (sym_i, sym_{i+1}) == best pair     (lead window)
#   islands    = contiguous match runs               (pos - row_number)
#   valid(i)   = match(i) AND even offset in island  (min-over-island)
#   consumed   = lag(valid)                          (drop right halves)
#
# The island/offset step is what makes greedy semantics exact for
# self-overlapping runs ("a a a a" with pair (a,a) → merge positions
# 1-2 and 3-4, never 2-3); for non-self-adjacent pairs every island
# has length 1 and the rule degenerates to plain matching. The DuckDB
# oracle replays the identical window chain per iteration, so three
# rounds of a data-dependent iterative algorithm sit under the exact
# hash gate.
BPE_ITERS = 3


def _bpe_iter_sql(i: int) -> str:
    """One merge round as DuckDB CTEs: s{i-1} -> pc{i}, best{i}, s{i}."""
    p, c = i - 1, i
    return f"""
    , pc{c} AS (
      SELECT tok AS tok_a, nxt AS tok_b, COUNT(*) AS cnt
      FROM (SELECT tok, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM s{p})
      WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), best{c} AS (
      SELECT tok_a, tok_b, cnt FROM pc{c}
      ORDER BY cnt DESC, tok_a, tok_b LIMIT 1
    ), m{c} AS (
      SELECT doc_id, pos, tok, nxt,
             COALESCE(tok = b.tok_a AND nxt = b.tok_b, FALSE) AS mt
      FROM (SELECT doc_id, pos, tok,
                   LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM s{p}) CROSS JOIN best{c} b
    ), i{c} AS (
      SELECT *, CASE WHEN mt THEN pos - ROW_NUMBER()
                       OVER (PARTITION BY doc_id, mt ORDER BY pos)
                END AS isl
      FROM m{c}
    ), v{c} AS (
      SELECT *, CASE WHEN mt THEN
                  (pos - MIN(pos) OVER (PARTITION BY doc_id, isl)) % 2 = 0
                ELSE FALSE END AS valid
      FROM i{c}
    ), s{c} AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             CASE WHEN valid THEN tok || ' ' || nxt ELSE tok END AS tok
      FROM (SELECT *, COALESCE(LAG(valid)
                        OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                      AS consumed
            FROM v{c})
      WHERE NOT consumed
    )"""


def _bpe_oracle() -> str:
    head = f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    s0 AS (
      SELECT doc_id, u['p'] AS pos, u['t'] AS tok
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks)),
                          i -> {{'p': i, 't': toks[i]}})) AS u
            FROM t)
    )"""
    iters = "".join(_bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, tok_a, tok_b, cnt AS pair_count FROM best{i}"
        for i in range(1, BPE_ITERS + 1)
    )
    return head + iters + "\n" + sel


def _bpe_merge_chain(m: DataFrame) -> DataFrame:
    """The greedy-merge window chain over a frame carrying
    (doc_id, pos, tok, nxt, mt): islands → even-offset validity →
    consumed-right-half drop → renumber. Shared verbatim by the
    trainer (rule from a 1-row argmax broadcast) and the apply-only
    encoder (rule as literals), so the two paths cannot drift."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    wisl = Window.partitionBy("doc_id", "mt").orderBy("pos")
    i_ = m.withColumn(
        "isl",
        F.when(F.col("mt"), F.col("pos") - F.row_number().over(wisl)),
    )
    wmin = Window.partitionBy("doc_id", "isl")
    v = i_.withColumn(
        "valid",
        F.when(
            F.col("mt"),
            (F.col("pos") - F.min("pos").over(wmin)) % 2 == 0,
        ).otherwise(F.lit(False)),
    )
    return (
        v.withColumn(
            "consumed",
            F.coalesce(F.lag("valid").over(wdoc), F.lit(False)),
        )
        .where(~F.col("consumed"))
        .select(
            "doc_id",
            F.row_number().over(wdoc).alias("pos"),
            F.when(
                F.col("valid"), F.concat_ws(" ", "tok", "nxt")
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    )


def _bpe_merge_round(s: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round: returns (best-pair frame, merged sequence frame)."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    with_next = s.withColumn("nxt", F.lead("tok").over(wdoc))
    best = (
        with_next.where(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("tok_a"), F.col("nxt").alias("tok_b"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok_a", "tok_b")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    m = with_next.crossJoin(
        F.broadcast(
            best.select(
                F.col("tok_a").alias("b_a"), F.col("tok_b").alias("b_b")
            )
        )
    ).withColumn(
        "mt",
        F.coalesce(
            (F.col("tok") == F.col("b_a")) & (F.col("nxt") == F.col("b_b")),
            F.lit(False),
        ),
    )
    nxt_seq = _bpe_merge_chain(m).localCheckpoint(eager=True)
    return best, nxt_seq


def _bpe_apply_rule(s: DataFrame, tok_a: str, tok_b: str) -> DataFrame:
    """Apply ONE known merge rule — the encoder's round. Identical
    semantics to the trainer's round (same `_bpe_merge_chain`), but
    the rule is a literal, so no pair count, no argmax, and no eager
    checkpoint: the whole multi-round encode is one static plan."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    m = s.withColumn("nxt", F.lead("tok").over(wdoc)).withColumn(
        "mt",
        F.coalesce(
            (F.col("tok") == F.lit(tok_a)) & (F.col("nxt") == F.lit(tok_b)),
            F.lit(False),
        ),
    )
    return _bpe_merge_chain(m)


# Bump on ANY change to the training chain (tokenization, pair
# counting, tie-break, merge semantics) — see pq._PQ_CHAIN_REV.
_BPE_CHAIN_REV = 1


def trained_bpe_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {BPE_ITERS}-row merge-rule table
    ``(step, tok_a, tok_b, pair_count)`` as a content-addressed lake
    artifact: the rules are deterministic on the
    corpus fingerprint exactly like the IVF/PQ codebooks, so training
    runs once per corpus snapshot and every later session — batch
    encode, bench, parity — reads the published table and pays only
    its apply pass. At 100 TB a tokenizer build is precisely this
    shape: one expensive offline trainer, many cheap appliers."""

    def _build() -> dict[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        s = toks.select(
            "doc_id", F.posexplode("toks").alias("pos0", "tok")
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        rules = []
        for step in range(1, BPE_ITERS + 1):
            best, s = _bpe_merge_round(s)
            rules.append(
                best.select(
                    F.lit(step).alias("step"),
                    "tok_a",
                    "tok_b",
                    F.col("cnt").alias("pair_count"),
                )
            )
        out = rules[0]
        for r in rules[1:]:
            out = out.unionAll(r)
        return {"rules": out}

    return A.shared(
        spark,
        f"bpe_rules@r{_BPE_CHAIN_REV}-i{BPE_ITERS}",
        sf_dir,
        "documents",
        ("rules",),
        _build,
    )["rules"]


@query("text_bpe_merges", _bpe_oracle())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_ITERS} BPE merge rules over the document corpus
    (served from the lake artifact when one is published — see
    :func:`trained_bpe_rules`).

    Per training round: pair counting is one map-side-combined shuffle
    on (tok_a, tok_b); the argmax is a TakeOrdered of ONE row
    (broadcast back — the only driver-sized data); the merge itself is
    windows partitioned by doc_id (state bounded by document length)
    plus a broadcast of the single rule. Each round ends in an eager
    localCheckpoint: BPE is data-dependent — round n's plan cannot be
    declared until round n-1's argmax is known — and checkpointing
    keeps the lineage flat (same pattern as clustering.kmeans).
    At 100 TB, production trainers amortize scans by applying the
    top-k non-overlapping pairs per round instead of top-1 — same
    plan, wider broadcast."""
    return trained_bpe_rules(spark, sf_dir)


def _bpe_encode_oracle() -> str:
    head = f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    s0 AS (
      SELECT doc_id, u['p'] AS pos, u['t'] AS tok
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks)),
                          i -> {{'p': i, 't': toks[i]}})) AS u
            FROM t)
    )"""
    iters = "".join(_bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    return head + iters + f"""
    SELECT r.doc_id,
           CAST(r.n AS BIGINT) AS n_tokens_raw,
           CAST(e.n AS BIGINT) AS n_tokens_bpe,
           CAST(r.n - e.n AS BIGINT) AS n_merges_applied
    FROM (SELECT doc_id, COUNT(*) AS n FROM s0 GROUP BY doc_id) r
    JOIN (SELECT doc_id, COUNT(*) AS n FROM s{BPE_ITERS} GROUP BY doc_id) e
      USING (doc_id)
    """


@query("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the {BPE_ITERS} trained merge rules corpus-wide and report
    per-document compression: raw vs encoded token counts and how many
    merges landed in each document.

    The rules come from :func:`trained_bpe_rules` (published lake
    artifact or one training run), so the encode itself pays ONLY the
    apply pass: with the rules known, all {BPE_ITERS} merge rounds are
    literal-rule window chains in ONE static plan — no per-round pair
    count, argmax, or eager checkpoint. The
    ``.collect()`` is bounded at BPE_ITERS rows (one rule per round) —
    driver-sized by construction, like the IVF query-vector set.
    Semantics are unchanged from the trainer's own merged sequence
    (the apply rounds share ``_bpe_merge_chain`` verbatim), so the
    exact hash gate holds; docs where no rule fires keep their raw
    length. Trainer edge replayed exactly: a round with NO adjacent
    pairs publishes no rule, and the trainer's cross join against an
    empty argmax empties the sequence — the encoder mirrors that with
    an empty filter."""
    rules = {
        int(r["step"]): (r["tok_a"], r["tok_b"])
        for r in trained_bpe_rules(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    s = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    raw = s.groupBy("doc_id").agg(F.count("*").alias("n_tokens_raw"))
    for step in range(1, BPE_ITERS + 1):
        rule = rules.get(step)
        if rule is None:
            s = s.where(F.lit(False))
            break
        s = _bpe_apply_rule(s, rule[0], rule[1])
    enc = s.groupBy("doc_id").agg(F.count("*").alias("n_tokens_bpe"))
    return raw.join(enc, "doc_id").select(
        "doc_id",
        F.col("n_tokens_raw").cast("bigint"),
        F.col("n_tokens_bpe").cast("bigint"),
        (F.col("n_tokens_raw") - F.col("n_tokens_bpe"))
        .cast("bigint")
        .alias("n_merges_applied"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4) — table-valued document segmentation
# ---------------------------------------------------------------------------
# Completes the UDF API surface (§2.8: scalar pandas_udf, mapInPandas,
# applyInPandas, applyInPandasWithState are already exercised): a
# lateral-joined Python UDTF that explodes each document into fixed
# 10-token segments. The semantics are deliberately SQL-expressible so
# the UDTF path itself is what's under test — the DuckDB twin
# recomputes the segmentation relationally and the hash gate proves
# the Python table function emits byte-identical rows. Real users put
# genuinely non-relational logic here (tokenizer-aware splitting,
# layout parsing); this pins the plumbing they'd rely on.
SEGMENT_TOKS = 10


def _register_segment_udtf(spark: SparkSession) -> None:
    from pyspark.sql.functions import udtf

    class SegmentDoc:
        def eval(self, text):  # noqa: ANN001 — UDTF protocol
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(0, len(toks), SEGMENT_TOKS):
                seg = toks[i : i + SEGMENT_TOKS]
                yield i // SEGMENT_TOKS + 1, " ".join(seg), len(seg)

    spark.udtf.register(
        "segment_doc",
        udtf(SegmentDoc, returnType="seg_pos int, segment string, seg_toks int"),
    )


@query(
    "text_segments_udtf",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    seg AS (
      SELECT doc_id, i AS seg_pos,
             list_slice(toks, (i - 1) * {SEGMENT_TOKS} + 1,
                        LEAST(i * {SEGMENT_TOKS}, len(toks))) AS seg
      FROM t, LATERAL (SELECT unnest(generate_series(1,
             CAST(CEIL(len(toks) / {SEGMENT_TOKS}.0) AS BIGINT))) AS i)
    )
    SELECT doc_id, CAST(seg_pos AS INT) AS seg_pos,
           array_to_string(seg, ' ') AS segment,
           CAST(len(seg) AS INT) AS seg_toks
    FROM seg
    """,
)
def text_segments_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL Python UDTF over documents.

    The UDTF runs once per input row in a Python worker (Arrow-batched
    transfer in Spark 4) — acceptable here because segmentation is a
    narrow map with no shuffle, and the declared contract is 'arbitrary
    Python emitting rows'. For splitting that IS relational, prefer the
    pure-SQL plans (text_chunk, text_segment_dedup) — this query
    exists to keep the UDTF path tested."""
    _register_segment_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.seg_pos, s.segment, s.seg_toks
        FROM _udtf_docs d, LATERAL segment_doc(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Keep-best duplicate resolution (clusters × quality, one plan)
# ---------------------------------------------------------------------------
# The decision step a real curation pipeline runs after near-dup
# detection: collapse each duplicate cluster to its single
# highest-quality member (not an arbitrary min-id — dropping the
# better-written copy is a real data-quality loss). Composes three
# verified pieces without new machinery: MinHash-LSH pairs →
# connected components → hashed-classifier scores, argmax by an exact
# integer composite key so ties are deterministic (higher score wins,
# then lower doc_id). Oracle nests the recursive-CTE closure and the
# classifier CTE and replays the same composite-key argmin.
KEEP_SCORE_BOUND = 20_000_000  # > max score_milli (≈1.0e7); composite
KEEP_ID_SPACE = 4_294_967_296  # 2^32 > any doc_id; key fits int64


def _keep_best_oracle() -> str:
    from .dedup import _cc_oracle

    b, m = KEEP_SCORE_BOUND, KEEP_ID_SPACE
    return f"""
    WITH cc AS ({_cc_oracle()}),
    cls AS ({_CLS_ORACLE}),
    j AS (
      SELECT cc.component_id, cc.component_size, cls.doc_id,
             cls.score_milli,
             ({b} - cls.score_milli) * {m} + cls.doc_id AS k
      FROM cc JOIN cls ON cc.doc_id = cls.doc_id
    )
    SELECT component_id, CAST(component_size AS BIGINT) AS component_size,
           MIN(k) % {m} AS kept_doc_id,
           {b} - MIN(k) // {m} AS kept_score_milli
    FROM j
    GROUP BY 1, 2
    """


@query("corpus_dedup_keep_best", _keep_best_oracle())
def corpus_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keep-decision row per duplicate component.

    Plan: the LSH pair graph and CC labels come from the iterative
    components machinery (work proportional to the dup subgraph —
    singletons take the one-join label path); scores are the
    no-join classifier expression; the argmax is a single groupBy on
    component_id over an int64 composite key — no window, no second
    pass. At 100 TB every stage shuffles ids and 8-byte keys only."""
    from .dedup import shared_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return keep_best_per_component(docs, shared_lsh_pairs(spark, sf_dir))


def keep_best_per_component(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Frame-level keep-best: one decision row per duplicate component
    of ``docs`` under the given pair graph. Exposed so composed
    pipelines (examples/curate_corpus.py) can run the dedup over an
    already-filtered corpus — e.g. quality survivors — instead of the
    raw table."""
    from .dedup import duplicate_components

    comps = duplicate_components(docs, pairs)
    scores = quality_scores(docs)
    k = (
        (F.lit(KEEP_SCORE_BOUND) - F.col("score_milli"))
        * F.lit(KEEP_ID_SPACE)
        + F.col("doc_id")
    )
    return (
        comps.join(scores, "doc_id")
        .select(
            "component_id",
            F.col("component_size").cast("bigint").alias("component_size"),
            k.alias("k"),
        )
        .groupBy("component_id", "component_size")
        .agg(
            (F.min("k") % KEEP_ID_SPACE).alias("kept_doc_id"),
            (F.lit(KEEP_SCORE_BOUND) - F.expr(f"min(k) DIV {KEEP_ID_SPACE}")).alias(
                "kept_score_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) join with blocking — record-linkage pattern
# ---------------------------------------------------------------------------
# Entity resolution over dirty text: find document pairs whose leading
# characters are within a small Levenshtein distance. Naively that is
# an O(n²) string-DP join; the scalable shape is block-and-verify —
# candidates must share a cheap equi-key before any edit distance is
# computed. Blocking here: (first token, length band), with the LEFT
# side exploding to its band ±1 so near-boundary pairs aren't lost;
# band membership is equi-joinable while |band_a − band_b| ≤ 1 is not.
# Each qualifying pair meets exactly once (the right side keeps its
# single true band). levenshtein() is the same classic DP in both
# engines — the distances hash-match exactly.
FUZZY_PREFIX_CHARS = 60
FUZZY_BAND_CHARS = 20  # length band width
FUZZY_MAX_DIST = 10


@query(
    "join_fuzzy_prefix",
    f"""
    WITH p AS (
      SELECT doc_id, substr(text, 1, {FUZZY_PREFIX_CHARS}) AS pfx,
             list_filter(string_split(text, ' '), x -> x != '')[1] AS t1,
             len(text) // {FUZZY_BAND_CHARS} AS band
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.pfx, b.pfx) AS lev_dist
    FROM p a JOIN p b
      ON a.t1 = b.t1 AND abs(a.band - b.band) <= 1 AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {FUZZY_MAX_DIST}
    """,
)
def join_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: equi-join on (first token, band),
    left side exploded to band ±1, Levenshtein verify after blocking.

    The DP verify runs only on candidates (~0.1% of the pair space on
    this corpus); everything before it shuffles short strings and two
    ints. Band explosion is the standard equi-fication of a ±1
    inequality — 3× the left postings, not 3× the pairs. At 100 TB the
    blocking key must be chosen against real skew (a stopword first
    token would flood one reducer — compose with the hot-bucket caps
    from operators/dedup.py if the key can't be trusted)."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: p feeds both self-join sides (different projections,
    # no exchange to reuse) — unpersisted, documents was scanned and
    # tokenized twice per run
    p = _cached(docs.select(
        "doc_id",
        F.expr(f"substr(text, 1, {FUZZY_PREFIX_CHARS})").alias("pfx"),
        # try_element_at: under Spark 4 ANSI mode (default on, and the
        # driver's vanilla session never disables it) element_at([],1)
        # THROWS for an empty/whitespace-only document; the oracle's
        # list[1] yields NULL and simply drops the row from the
        # equi-join. NULL t1 rows fall out of the join on both engines.
        F.expr(f"try_element_at({_TOKS_SPARK}, 1)").alias("t1"),
        F.expr(f"length(text) DIV {FUZZY_BAND_CHARS}").alias("band"),
    ))
    a = p.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pfx").alias("pfx_a"),
        "t1",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("jband"),
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pfx").alias("pfx_b"),
        "t1",
        F.col("band").alias("jband"),
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        a.join(b, ["t1", "jband"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.alias("lev_dist"))
        .where(F.col("lev_dist") <= FUZZY_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# Duplicate-rate monitoring by source (ops metric for curation)
# ---------------------------------------------------------------------------
# The per-source health dashboard a curation pipeline publishes every
# run: what fraction of each source's documents sit in a multi-doc
# duplicate component? A source whose dup rate jumps is re-crawling
# itself or mirroring another — the signal that drives per-source caps
# (docs_source_cap) and crawl scheduling.
def _dup_rate_oracle() -> str:
    from .dedup import _cc_oracle

    return f"""
    WITH cc AS ({_cc_oracle()}),
    -- DISTINCT on both sides: a duplicated doc_id row multiplied
    -- through the join with its (also duplicated) component label,
    -- quadrupling one doc's weight in the rate; keyless docs cannot
    -- join to a component at all. The metric is over DISTINCT doc
    -- ids.
    j AS (
      SELECT DISTINCT d.doc_id, d.source, cc.component_size
      FROM (SELECT DISTINCT doc_id, source FROM documents
            WHERE doc_id IS NOT NULL) d
      JOIN (SELECT DISTINCT doc_id, component_size FROM cc) cc
        ON d.doc_id = cc.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(CASE WHEN component_size >= 2 THEN 1 END) AS BIGINT)
             AS n_dup_docs,
           COUNT(CASE WHEN component_size >= 2 THEN 1 END) * 1.0 / COUNT(*)
             AS dup_rate
    FROM j GROUP BY source
    """


@query("docs_dup_rate_by_source", _dup_rate_oracle())
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join CC labels to the source dimension and aggregate.

    Work beyond the components run itself is one broadcast-sized join
    (source is a low-cardinality column on the docs frame — the join
    is docs ⋈ labels on doc_id, then a tiny groupBy). dup_rate is an
    exact-int ratio, bitwise identical cross-engine."""
    from .dedup import duplicate_components, shared_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    comps = duplicate_components(docs, shared_lsh_pairs(spark, sf_dir))
    dup = F.count(F.when(F.col("component_size") >= 2, F.lit(1)))
    # DISTINCT both sides of the rejoin: see the oracle's j comment
    return (
        docs.select("doc_id", "source")
        .where("doc_id IS NOT NULL")
        .distinct()
        .join(comps.select("doc_id", "component_size").distinct(), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            dup.cast("bigint").alias("n_dup_docs"),
            (dup * F.lit(1.0) / F.count("*")).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDAF — trimmed mean
# ---------------------------------------------------------------------------
# Completes the UDF API matrix (§2.8): scalar exprs, mapInPandas,
# applyInPandas, applyInPandasWithState, and the Python UDTF are all
# exercised — this adds the GROUPED_AGG pandas_udf (a vectorized UDAF:
# one Arrow batch per group in, one scalar out). The aggregate is a
# 10%-trimmed mean over integer cents with a tie-free composite order,
# so the Python path is exactly reproducible in SQL: sum of ints is
# order-independent, making the UDAF hash-checkable — the point is
# verifying the UDAF plumbing, not hiding logic in Python. Real users
# put genuinely non-SQL reductions here (robust estimators, sketch
# finalizers).
TRIM_FRACTION_DENOM = 10  # drop floor(n/10) rows from each tail


@query(
    "agg_trimmed_mean_pandas",
    f"""
    WITH c AS (
      SELECT event_type, event_id,
             {_CENTS_TPL.format("value")} AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type, MAX(n) AS n,
           CAST(MAX(n) - 2 * (MAX(n) // {TRIM_FRACTION_DENOM}) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn > n // {TRIM_FRACTION_DENOM}
                     AND rn <= n - n // {TRIM_FRACTION_DENOM}
                    THEN cents END) AS BIGINT) AS trimmed_sum_cents
    FROM r GROUP BY event_type
    """,
)
def agg_trimmed_mean_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed sum per event type via a GROUPED_AGG pandas UDAF.

    The UDAF receives (cents, event_id) Arrow batches per group, sorts
    by the composite key, drops floor(n/10) rows from each tail, and
    returns the exact integer sum. Count and kept-count stay JVM-side
    (they need no per-row Python). Grouped-agg UDAFs hold one group in
    memory per call — fine for bounded groups like event types; for
    unbounded groups prefer two-phase SQL (the oracle's window form).
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses postponed
    # annotations (PEP 563), which defeats pandas_udf's hint-based
    # GROUPED_AGG inference
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def trimmed_sum(cents, eid):
        df = pd.DataFrame({"c": cents, "e": eid}).sort_values(["c", "e"])
        k = len(df) // TRIM_FRACTION_DENOM
        kept = df.iloc[k : len(df) - k] if k else df
        # SQL SUM semantics: NULL cents (arriving as NaN) are skipped,
        # and an all-NULL kept range sums to NULL, not 0 — pandas
        # .sum() would otherwise return 0.0 where the oracle's SUM
        # returns NULL
        if kept["c"].count() == 0:
            return None
        return int(kept["c"].sum())

    ev = load_table(spark, sf_dir, "events")
    # persisted: c feeds BOTH the UDAF aggregate and the JVM counts —
    # different aggregates, no exchange reuse, so the events scan ran
    # twice
    c = _cached(
        ev.select(
            "event_type",
            "event_id",
            _cents("value").alias("cents"),
        )
    )
    # Catalyst refuses GROUPED_AGG UDFs alongside JVM aggregates in one
    # Aggregate — counts run as a plain agg and join back on the tiny
    # group key (broadcast)
    trimmed = c.groupBy("event_type").agg(
        trimmed_sum("cents", "event_id").alias("trimmed_sum_cents")
    )
    n = F.count("*")
    counts = c.groupBy("event_type").agg(
        n.alias("n"),
        F.expr(
            f"CAST(count(*) - 2 * (count(*) DIV {TRIM_FRACTION_DENOM})"
            " AS BIGINT)"
        ).alias("n_kept"),
    )
    # null-safe join: a NULL event_type is a legitimate group in both
    # engines' GROUP BY, but a plain equi-join between the two
    # aggregates silently drops it: every group-key rejoin must be
    # eqNullSafe
    return counts.join(
        trimmed, counts["event_type"].eqNullSafe(trimmed["event_type"])
    ).select(
        counts["event_type"], "n", "n_kept", "trimmed_sum_cents"
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (training-pair construction)
# ---------------------------------------------------------------------------
# Contrastive / recsys training needs (entity, negative) pairs drawn
# from items the entity did NOT interact with — reproducibly, so a
# re-run of the pipeline emits identical training data. Candidates are
# hash-generated per (customer, draw): part = md5(cust:i) mod |parts|,
# a fixed oversample of draws per customer; one anti-join against the
# positives removes accidental hits, in-customer dedup keeps the first
# occurrence of a repeated part, and the first K surviving draws are
# the sample. Everything is the cross-engine md5, so the oracle
# reproduces the exact sample — determinism IS the tested property.
# Scale: candidates are K'·|customers| rows (no cartesian), the
# anti-join shuffles on (cust, part) ids, windows partition by
# customer.
NEG_DRAWS = 12  # oversample per customer
NEG_KEEP = 4  # negatives kept per customer


def _neg_part(duck: bool) -> str:
    """Candidate part = md5(cust:i) mod |parts| + 1, referencing an
    ``n_parts`` column (broadcast 1-row count frame / scalar-count
    cross join). The earlier hardcoded ``% 2000`` was the sf0.01 part
    count and off-by-one against TPC-H partkeys 1..N: it could emit
    the nonexistent partkey 0 and never sample partkey 2000, and at
    any larger sf ignored all but the first 2000 parts."""
    cast = "VARCHAR" if duck else "STRING"
    h = H.md5_int64(f"(CAST(c_custkey AS {cast}) || ':' || CAST(i AS {cast}))", duck=duck)
    return f"((({h}) % n_parts) + 1)"


@query(
    "training_negative_samples",
    f"""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    draws AS (
      SELECT c.c_custkey, t.i, {_neg_part(True)} AS p
      FROM customer c,
           (SELECT COUNT(*) AS n_parts FROM part) np,
           LATERAL (SELECT unnest(generate_series(1, {NEG_DRAWS})) AS i) t
    ),
    neg AS (
      SELECT d.c_custkey, d.i, d.p
      FROM draws d LEFT JOIN pos ON d.c_custkey = pos.c_custkey AND d.p = pos.p
      WHERE pos.p IS NULL
    ),
    dedup AS (
      SELECT c_custkey, i, p,
             ROW_NUMBER() OVER (PARTITION BY c_custkey, p ORDER BY i) AS dup_rn
      FROM neg
    ),
    ranked AS (
      SELECT c_custkey, p, i,
             ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY i) AS rn
      FROM dedup WHERE dup_rn = 1
    )
    SELECT c_custkey, p AS p_partkey, CAST(rn AS INT) AS sample_rank
    FROM ranked WHERE rn <= {NEG_KEEP}
    """,
)
def training_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    n_parts = (
        load_table(spark, sf_dir, "part").agg(
            F.count("*").alias("n_parts")
        )
    )
    pos = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("p"),
        )
        .distinct()
    )
    draws = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(n_parts))
        .select(
            "c_custkey",
            "n_parts",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_DRAWS))).alias("i"),
        )
        .select("c_custkey", "i", F.expr(_neg_part(False)).alias("p"))
    )
    neg = draws.join(pos, ["c_custkey", "p"], "left_anti")
    wd = Window.partitionBy("c_custkey", "p").orderBy("i")
    wr = Window.partitionBy("c_custkey").orderBy("i")
    return (
        neg.withColumn("dup_rn", F.row_number().over(wd))
        .where(F.col("dup_rn") == 1)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= NEG_KEEP)
        .select(
            "c_custkey",
            F.col("p").alias("p_partkey"),
            F.col("rn").cast("int").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Exact edit-distance self-join via PassJoin segment pigeonhole
# ---------------------------------------------------------------------------
# The string-similarity sibling of dedup_prefix_jaccard: find ALL
# distinct-name pairs within Levenshtein distance EDJOIN_TAU without
# the O(n²) pair space (Li et al., "PassJoin", VLDB 2012 — public).
# Pigeonhole: partition every string into TAU+1 segments; if
# ed(r, s) <= TAU, at least one of r's segments survives unedited and
# therefore occurs VERBATIM in s, at a position shifted by at most
# TAU and with |len(r) - len(s)| <= TAU. So the candidate join is
# (segment rows of r) ⋈ (bounded substring probes of s): 3 index rows
# per string vs <= (2TAU+1)·(TAU+1)·(2TAU+1) = 75 probe rows per
# string — constants, not corpus-sized — on short substring keys, and
# only the candidates pay the levenshtein verify. The DuckDB oracle
# is the NAIVE all-pairs join; the driver hash match is the proof the
# blocking is lossless. Segment scheme (deterministic, both sides):
# base = L div 3, rem = L mod 3; seg i in 0..2 has length
# base + (i < rem), start = i*base + least(i, rem). Strings shorter
# than 3 chars are excluded by definition (a segment would be empty);
# the oracle applies the same floor.
EDJOIN_TAU = 2


def _edjoin_seg(col_l: str, i: str) -> tuple[str, str]:
    """(start, length) SQL for segment ``i`` of a string of length
    ``col_l`` under the 3-way partition scheme (0-based start)."""
    base = f"({col_l} div 3)"
    rem = f"({col_l} % 3)"
    start = f"({i} * {base} + least({i}, {rem}))"
    length = f"({base} + CASE WHEN {i} < {rem} THEN 1 ELSE 0 END)"
    return start, length


@query(
    "join_fuzzy_editdist",
    f"""
    WITH names AS (
      SELECT DISTINCT p_name AS nm FROM part WHERE length(p_name) >= 3
    )
    SELECT a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS edit_distance
    FROM names a JOIN names b ON a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= {EDJOIN_TAU}
    """,
)
def join_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All distinct part-name pairs within edit distance EDJOIN_TAU,
    via lossless PassJoin blocking (naive all-pairs oracle)."""
    tau = EDJOIN_TAU
    part = load_table(spark, sf_dir, "part")
    # persisted: names feeds the segment index AND the probe fan-out
    # (two different explode subtrees) — unpersisted, part was scanned
    # and DISTINCT-shuffled twice per run
    names = _cached(
        part.select(F.col("p_name").alias("nm"))
        .where(F.length("nm") >= 3)
        .distinct()
        .withColumn("l", F.length("nm"))
    )

    # Index side: the 3 segments of every string, keyed by
    # (segment id, string length, segment text).
    st, ln = _edjoin_seg("l", "i")
    segs = names.select(
        F.col("nm").alias("nm_a"),
        F.explode(F.expr("sequence(0, 2)")).alias("i"),
        "l",
    ).select(
        "nm_a",
        "i",
        F.col("l").alias("lr"),
        F.expr(f"substring(nm_a, {st} + 1, {ln})").alias("seg"),
    )

    # Probe side: for every string, every substring that could equal
    # an unedited segment of a partner of length lr in [l-tau, l+tau],
    # at segment i's position shifted by at most tau. Bounded fan-out:
    # (2*tau+1)^2 * 3 rows per string.
    stp, lnp = _edjoin_seg("lr", "i")
    probes = (
        names.select(
            F.col("nm").alias("nm_b"),
            "l",
            F.explode(
                F.expr(f"sequence(greatest(l - {tau}, 3), l + {tau})")
            ).alias("lr"),
        )
        .select(
            "nm_b",
            "l",
            "lr",
            F.explode(F.expr("sequence(0, 2)")).alias("i"),
        )
        .select(
            "nm_b",
            "l",
            "lr",
            "i",
            F.explode(F.expr(f"sequence(-{tau}, {tau})")).alias("shift"),
        )
        .select(
            "nm_b",
            "i",
            "lr",
            F.expr(
                f"CASE WHEN {stp} + shift >= 0"
                f" AND {stp} + shift + {lnp} <= l"
                f" THEN substring(nm_b, {stp} + shift + 1, {lnp}) END"
            ).alias("seg"),
        )
        .where(F.col("seg").isNotNull())
        .distinct()
    )

    cand = (
        segs.join(probes, ["i", "lr", "seg"])
        .where(F.col("nm_a") != F.col("nm_b"))
        .select(
            F.least("nm_a", "nm_b").alias("name_a"),
            F.greatest("nm_a", "nm_b").alias("name_b"),
        )
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.expr("levenshtein(name_a, name_b)").cast("bigint").alias(
            "edit_distance"
        ),
    ).where(F.col("edit_distance") <= tau)
