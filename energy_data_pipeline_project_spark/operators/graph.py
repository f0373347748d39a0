"""Graph analytics over the near-dup pair graph: exact PageRank.

Corpus-curation use: near-dup components are resolved to keep-one
clusters by ``dedup.dedup_cluster_cc``; PageRank over the same graph
is the standard *centrality* refinement — pick the most-connected doc
as the cluster representative, or down-weight docs whose connectivity
says "template family" rather than "original content".

Determinism strategy (PageRank is normally float-order-dependent):
ranks live on an INTEGER fixed-point grid (``RANK_SCALE`` = 10^12 per
node), the damping split d = 17/20 is exact in integer arithmetic, and
every per-edge contribution is an integer DIV. Sums of ints are
order-independent, so three iterations are bitwise identical across
engines, and the DuckDB oracle replays the same chain as generated
CTEs — an iterative graph algorithm under the exact hash gate, like
``clustering.kmeans_embeddings``.

Scale posture: per iteration one join of the rank frame to the edge
list (shuffle on src) + one aggregate (shuffle on dst) — the textbook
distributed PageRank step. The loop state holds only nodes incident
to a dup edge (the near-dup subgraph, tiny vs the corpus);
``localCheckpoint`` per round truncates the doubling logical plan
(same analyzer-OOM lesson as dedup_cluster_cc). Damping mass lost to
integer flooring stays in the system as a constant per-node term —
exactness of the ranking order, not probability-mass conservation, is
the goal here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ._registry import make_registry
from .dedup import _minhash_oracle, shared_lsh_pairs, symmetric_edges

QUERIES, ORACLES, query = make_registry()

RANK_SCALE = 10**12  # fixed-point unit: every node starts at 10^12
PAGERANK_ITERS = 3
# d = 17/20 = 0.85: r' = (3*SCALE) DIV 20 + (17 * sum(contrib)) DIV 20


def pagerank_exact(pairs: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Integer-exact PageRank over an undirected pair list.

    Returns ``(doc_id, rank)`` for every node incident to at least one
    pair, ``rank`` on the RANK_SCALE fixed-point grid.
    """
    edges = symmetric_edges(pairs)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # (src, dst, deg) is iteration-invariant: checkpoint once up front
    # so each round re-reads a materialized frame, not the whole
    # LSH candidate plan.
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    ranks = (
        ed.select("src")
        .distinct()
        .select("src", F.lit(RANK_SCALE).cast("bigint").alias("rank"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # DECIMAL(38,0) sum: per-node incoming mass is bounded only by
        # the subgraph's TOTAL mass (n·RANK_SCALE — a hub can receive
        # nearly everything), so 17·s wraps int64 once the near-dup
        # subgraph passes ~5.4e5 nodes while the DuckDB oracle's SUM
        # promotes to HUGEINT and stays exact — the same silent
        # wrap-vs-promotion divergence as the r07 power-iteration gram
        # sums (r08 review). Spark's decimal DIV is exact integral
        # division returning BIGINT (verified: 1.581e20 DIV 20 exact),
        # so ranks stay BIGINT between rounds; the final rank itself
        # needs n ≲ 9e6 at this RANK_SCALE to fit int64 — shrink
        # RANK_SCALE for larger dup subgraphs.
        contrib = (
            ed.join(ranks, "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("s"))
        )
        ranks = (
            contrib.select(
                F.col("dst").alias("src"),
                F.expr(
                    f"CAST({3 * RANK_SCALE} AS BIGINT) DIV 20"
                    " + (17 * s) DIV 20"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("src").alias("doc_id"), "rank")


def _edges_preamble() -> str:
    """Shared oracle preamble: the LSH pair list symmetrized into an
    edge list. Pairs are DISTINCT and ordered (doc_a < doc_b) by
    construction — the invariant ``dedup.symmetric_edges`` centralizes
    on the Spark side — so UNION ALL is duplicate-free; one spelling
    here replaces four per-oracle copies, two of which used UNION and
    paid a needless dedup (r07 review)."""
    return f"""
    WITH pairs AS MATERIALIZED (
      {_minhash_oracle()}
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    )"""


def _pagerank_oracle() -> str:
    parts = [
        _edges_preamble()
        + f""",
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    ed AS MATERIALIZED (
      SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT DISTINCT src, CAST({RANK_SCALE} AS BIGINT) AS rank
           FROM edges)"""
    ]
    for it in range(1, PAGERANK_ITERS + 1):
        prev = f"r{it - 1}"
        parts.append(
            f""", r{it} AS (
      SELECT dst AS src,
             CAST({3 * RANK_SCALE} AS BIGINT) // 20 + (17 * SUM(rank // deg)) // 20
               AS rank
      FROM ed JOIN {prev} USING (src)
      GROUP BY 1
    )"""
        )
    parts.append(
        f"""
    SELECT src AS doc_id, CAST(rank AS BIGINT) AS rank
    FROM r{PAGERANK_ITERS}
    """
    )
    return "".join(parts)


@query("pagerank_dup_graph", _pagerank_oracle())
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact fixed-point PageRank iterations over the MinHash-LSH
    near-dup graph (same pair generation as ``dedup_cluster_cc``)."""
    return pagerank_exact(shared_lsh_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph
# ---------------------------------------------------------------------------
# The standard clustering-coefficient signal: near-dup TEMPLATE
# families (boilerplate variants) form near-cliques — triangle-dense —
# while chains of pairwise-similar-but-distinct docs don't. Triangle
# density per component is the cheap discriminator between "drop all
# but one" and "inspect before dropping". The ordered-edge triple join
# (a<b<c: wedge join + closing-edge join) counts each triangle exactly
# once and is the textbook distributed formulation — no recursion, two
# equi-joins, skew bounded by max degree (the LSH bucket caps already
# bound degree upstream).
@query(
    "graph_triangle_count",
    f"""
    WITH pairs AS ({{pairs}}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e ab JOIN e bc ON ab.b = bc.a
                JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """.format(pairs=_minhash_oracle()),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the LSH near-dup graph.

    Edges arrive ordered (doc_a < doc_b) from the pair generator, so
    the wedge join (ab.b = bc.a) enumerates each candidate a<b<c once;
    the second join checks the closing edge. Both joins shuffle 8-byte
    id pairs. At 100 TB the guard is the max-degree bound the LSH
    bucket caps enforce — wedge count is Σ deg(v)², capped at
    cap²·buckets."""
    e = shared_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    ab = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    bc = e.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    ac = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = (
        ab.join(bc, "t_b")
        .join(ac, ["t_a", "t_c"])
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    # broadcast the 1-row aggregate like every other scalar crossJoin
    # in the repo (r10 review: this was the lone unhinted instance —
    # without it Spark may plan a cartesian product exchange for two
    # single-row frames instead of a broadcast nested loop)
    return edges.crossJoin(F.broadcast(tri)).select(
        "n_edges", F.col("n_triangles").cast("bigint").alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# k-core decomposition (peeling) over the near-dup graph
# ---------------------------------------------------------------------------
# Curation use: the k-core of the near-dup graph isolates DENSE template
# families (every member similar to >= k others) from incidental pairwise
# matches. Components/PageRank say "connected"/"central"; the k-core says
# "mutually redundant" — the set a curator can drop wholesale.
# k = 2 (cycle-closing density) keeps the core non-empty at the
# driver's sf0.01 correctness scale; the k knob is free.
#
# Determinism: peeling is a monotone fixpoint (each round only removes
# nodes), so the result is independent of evaluation order — no floats,
# no tie-breaks. BOTH engines run exactly KCORE_ROUNDS peel rounds (the
# oracle as generated CTEs, the Spark loop with an early exit on
# convergence, which is equal because converged rounds are idempotent).
# A graph whose peel depth exceeds KCORE_ROUNDS — e.g. a chain of
# pairwise-similar docs loses only its 2 endpoints per k=2 round —
# yields the round-N OVER-approximation of the true core, identically
# in both engines; an earlier version raised RuntimeError instead,
# crashing the whole query on legitimate chain topologies (r07 review).
KCORE_K = 2
KCORE_ROUNDS = 8


def kcore_nodes(pairs: DataFrame, k: int = KCORE_K) -> DataFrame:
    """Nodes of the (≤KCORE_ROUNDS-round) k-core with their within-core
    degree. Converged graphs (the near-clique dup families this runs
    on: degeneracy peel depth 1-2) give the exact k-core; a
    pathological deep-peel graph gives the fixed-round
    over-approximation the oracle computes too.

    Scale shape: each peel round is one semi-join of the edge list
    against the surviving node set (both endpoints) + one degree
    aggregate — all on 8-byte ids. ``localCheckpoint`` truncates the
    per-round plan growth exactly as in the CC/PageRank loops, and an
    ``Observation`` reads the round's counts off that checkpoint's job.
    """
    assert KCORE_ROUNDS >= 1  # the loop must assign `core`
    edges = symmetric_edges(pairs).localCheckpoint(eager=True)
    alive = edges.select(F.col("src").alias("v")).distinct()
    survives = F.col("core_degree") >= k
    counts = (F.count("*").alias("n"), F.count_if(survives).alias("kept"))
    for _ in range(KCORE_ROUNDS):
        obs = Observation()
        deg = (
            edges.join(alive.withColumnRenamed("v", "src"), "src")
            .join(alive.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("core_degree"))
            .observe(obs, *counts)
        )
        core = deg.where(survives)
        alive = core.select(F.col("src").alias("v")).localCheckpoint(eager=True)
        if obs.get["kept"] == obs.get["n"]:
            # fixpoint: every later round is identical (an alive node
            # missing from ``deg`` has no alive neighbour, so dropping
            # it changes no degree)
            break
    return core.select(F.col("src").alias("doc_id"), "core_degree")


def _kcore_oracle() -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # alive set twice, and DuckDB inlines plain CTEs — without it the
    # whole LSH pair pipeline would be re-planned 2^rounds times.
    parts = [
        _edges_preamble()
        + """,
    a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges)"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        prev = f"a{r - 1}"
        parts.append(
            f""", d{r} AS MATERIALIZED (
      SELECT e.src AS v, COUNT(*) AS c
      FROM edges e
      JOIN {prev} pa ON e.src = pa.v
      JOIN {prev} pb ON e.dst = pb.v
      GROUP BY 1
    ), a{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE c >= {KCORE_K})"""
        )
    parts.append(
        f"""
    SELECT v AS doc_id, c AS core_degree
    FROM d{KCORE_ROUNDS} WHERE c >= {KCORE_K}
    """
    )
    return "".join(parts)


@query("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the MinHash-LSH near-dup graph (k = KCORE_K)."""
    return kcore_nodes(shared_lsh_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous, deterministic)
# ---------------------------------------------------------------------------
# Community detection distinguishes sub-families INSIDE a connected
# component (CC merges everything reachable; LPA splits it where
# connectivity is thin). Synchronous LPA with a total tie order is
# fully deterministic: every node simultaneously adopts the most
# frequent label among its neighbors, ties broken by smallest label —
# counts are integers, labels are doc ids, no randomness.
LPA_ROUNDS = 3


def label_propagation(pairs: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """(doc_id, community, community_size) after ``rounds`` synchronous
    LPA steps over the undirected pair graph; community = the adopted
    label (a doc id), size = members after the final round.

    Scale shape per round: one join of the label frame onto edges
    (shuffle on dst), one (node, label) count aggregate, one
    row_number window partitioned by node — all on 8-byte ids. The
    window partitions by node over at most deg(node) rows, so the
    per-partition sort is bounded by max degree (capped upstream by
    the LSH bucket caps)."""
    from pyspark.sql import Window

    edges = symmetric_edges(pairs).localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), "label")
    for _ in range(rounds):
        labels = (
            edges.join(
                labels.select(F.col("v").alias("dst"), "label"), "dst"
            )
            .groupBy("src", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("v"), "label")
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("community"),
        "community_size",
    )


def _lpa_oracle() -> str:
    parts = [
        _edges_preamble()
        + """,
    l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM edges)"""
    ]
    for r in range(1, LPA_ROUNDS + 1):
        prev = f"l{r - 1}"
        parts.append(
            f""", l{r} AS MATERIALIZED (
      SELECT v, label FROM (
        SELECT e.src AS v, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.src
                    ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN {prev} l ON e.dst = l.v
        GROUP BY e.src, l.label
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT l.v AS doc_id, l.label AS community,
           s.community_size
    FROM l{LPA_ROUNDS} l
    JOIN (SELECT label, COUNT(*) AS community_size
          FROM l{LPA_ROUNDS} GROUP BY 1) s USING (label)
    """
    )
    return "".join(parts)


@query("graph_label_propagation", _lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synchronous deterministic LPA rounds over the near-dup
    graph; splits CC components into densely-linked sub-families."""
    return label_propagation(shared_lsh_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multi-source BFS: hop distance to the nearest local-minimum node
# ---------------------------------------------------------------------------
# The distance metric that completes the graph family (CC says
# "connected", PageRank "central", k-core "dense"; BFS says "how FAR
# from a representative"). Sources are the graph's LOCAL MINIMA (nodes
# smaller than every neighbor) — derivable from the edge list alone
# with one aggregation, no CC pre-pass, and every component contains
# at least one (its global minimum). Distances relax synchronously for
# a FIXED number of rounds in pure integer arithmetic with an
# unreachable sentinel (no NULL algebra); the oracle replays the same
# rounds as generated CTEs, so the hash gate holds even if a
# pathological graph hasn't converged — and near-dup components are
# near-cliques (observed diameter 1-2), which BFS_ROUNDS = 3 covers
# with a round to spare. Each round is one edge-list join on 8-byte
# ids + a min-aggregate, localCheckpoint-truncated like the CC loop.
BFS_ROUNDS = 3
_BFS_SENT = 1 << 30


def bfs_to_local_minima(pairs: DataFrame) -> DataFrame:
    edges = symmetric_edges(pairs).localCheckpoint(eager=True)
    dist = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("v"),
            F.when(F.col("src") < F.col("nmin"), 0)
            .otherwise(_BFS_SENT)
            .alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(BFS_ROUNDS):
        relaxed = (
            edges.join(
                dist.select(F.col("v").alias("dst"), F.col("d").alias("nd")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min(F.col("nd") + 1).alias("best_nbr"))
        )
        dist = (
            dist.join(
                relaxed, dist["v"] == relaxed["src"], "left"
            )
            .select(
                "v",
                F.least(
                    F.col("d"),
                    F.coalesce(F.col("best_nbr"), F.lit(_BFS_SENT)),
                ).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    return dist.where(F.col("d") < _BFS_SENT).select(
        F.col("v").alias("doc_id"),
        F.col("d").cast("int").alias("hops"),
    )


def _bfs_oracle() -> str:
    parts = [
        _edges_preamble()
        + f""",
    d0 AS MATERIALIZED (
      SELECT src AS v,
             CASE WHEN src < MIN(dst) THEN 0 ELSE {_BFS_SENT} END AS d
      FROM edges GROUP BY src
    )"""
    ]
    for r in range(1, BFS_ROUNDS + 1):
        prev = f"d{r - 1}"
        parts.append(
            f""", d{r} AS MATERIALIZED (
      SELECT cur.v,
             LEAST(cur.d,
                   COALESCE(MIN(nd.d + 1), {_BFS_SENT})) AS d
      FROM {prev} cur
      LEFT JOIN edges e ON e.src = cur.v
      LEFT JOIN {prev} nd ON nd.v = e.dst
      GROUP BY cur.v, cur.d
    )"""
        )
    parts.append(
        f"""
    SELECT v AS doc_id, CAST(d AS INT) AS hops
    FROM d{BFS_ROUNDS} WHERE d < {_BFS_SENT}
    """
    )
    return "".join(parts)


@query("graph_bfs_distances", _bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance to the nearest local-minimum over the LSH dup graph."""
    return bfs_to_local_minima(shared_lsh_pairs(spark, sf_dir))
