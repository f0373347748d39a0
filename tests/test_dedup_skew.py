"""Hot-bucket skew caps for the near-dedup candidate generators.

One boilerplate-heavy LSH band value or shingle otherwise creates a
quadratic candidate bucket — at 100 TB the difference between linear
and quadratic work. These tests build a pathological corpus (hundreds
of docs sharing boilerplate) and assert the candidate-pair space stays
bounded, plus result parity on the normal testdata corpus when the cap
does not fire.
"""

from __future__ import annotations

from energy_data_pipeline_project_spark.operators import dedup
from energy_data_pipeline_project_spark.pipeline.artifacts import release_shared
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _boilerplate_corpus(spark, n=300):
    """n docs sharing one boilerplate sentence + a unique tail.

    Every doc contains the same 8-token prefix, so every 3-shingle of
    the prefix appears in all n docs, and (with identical prefixes
    dominating the shingle set) LSH bands collide heavily.
    """
    boiler = "terms of service apply to all content herein"
    rows = [(i, f"{boiler} item {i}") for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_hot_shingle_cap_bounds_pairs(spark):
    docs = _boilerplate_corpus(spark, n=300)
    try:
        # uncapped, the 6 boilerplate shingles alone would emit
        # 300*299/2 ≈ 45k candidate pairs; the cap drops them
        out = dedup.shingle_jaccard_pairs(
            dedup._shingle_hashes(docs), shingle_cap=50
        )
        assert out.count() == 0
    finally:
        dedup.release_cached_frames()


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    docs = _boilerplate_corpus(spark, n=300)
    try:
        capped = dedup.minhash_lsh_pairs(
            dedup._shingle_hashes(docs), bucket_cap=50
        )
        # the "item {i}" tails differ, but the boilerplate prefix
        # dominates the minimum hashes → most docs share band values;
        # the cap must keep the pair space far below quadratic
        assert capped.count() < 300
    finally:
        dedup.release_cached_frames()


def test_caps_do_not_change_testdata_results(spark):
    """On the non-pathological corpus the caps never fire."""
    docs = load_table(spark, SF_SMOKE, "documents")
    try:
        capped = {
            tuple(r)
            for r in dedup.minhash_lsh_pairs(
                dedup._shingle_hashes(docs), bucket_cap=dedup.LSH_BUCKET_CAP
            )
            .select("doc_a", "doc_b")
            .collect()
        }
        uncapped = {
            tuple(r)
            for r in dedup.minhash_lsh_pairs(
                dedup._shingle_hashes(docs), bucket_cap=10**9
            )
            .select("doc_a", "doc_b")
            .collect()
        }
        assert capped == uncapped

        jc = {
            tuple(r)
            for r in dedup.shingle_jaccard_pairs(
                dedup._shingle_hashes(docs), shingle_cap=dedup.SHINGLE_DOC_CAP
            )
            .select("doc_a", "doc_b")
            .collect()
        }
        ju = {
            tuple(r)
            for r in dedup.shingle_jaccard_pairs(
                dedup._shingle_hashes(docs), shingle_cap=10**9
            )
            .select("doc_a", "doc_b")
            .collect()
        }
        assert jc == ju
    finally:
        dedup.release_cached_frames()


def test_release_cached_frames_unpersists(spark):
    # Other tests in the shared session may have live localCheckpoint
    # RDDs (pagerank/kmeans/CC) that only vanish on GC, so assert the
    # DELTA this query adds is fully released, not a globally clean
    # session. A still-persisted shared_lsh_pairs frame would be
    # plan-substituted by the CacheManager into this fresh run (its
    # logical plan is identical), so drop the memo first.
    release_shared()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    docs = load_table(spark, SF_SMOKE, "documents")
    out = dedup.minhash_lsh_pairs(dedup._shingle_hashes(docs))
    out.count()  # materialize → signature frame cached
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before
    dedup.release_cached_frames()
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before


def test_connected_components_transitive_closure(spark):
    # A~B, B~C must land in one component even though A~C was never a
    # pair; D-E is a separate component; F is a singleton.
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6]], "doc_id bigint"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a bigint, doc_b bigint"
    )
    try:
        out = {
            r["doc_id"]: (r["component_id"], r["component_size"])
            for r in dedup.duplicate_components(docs, pairs).collect()
        }
    finally:
        dedup.release_cached_frames()
    assert out == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (4, 2),
        5: (4, 2),
        6: (6, 1),
    }


def test_connected_components_long_chain_converges(spark):
    # a 64-node path graph: pointer jumping must converge well inside
    # CC_MAX_ITERS (O(log n) rounds), labeling everything with node 0
    n = 64
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    try:
        rows = dedup.duplicate_components(docs, pairs).collect()
    finally:
        dedup.release_cached_frames()
    assert {r["component_id"] for r in rows} == {0}
    assert all(r["component_size"] == n for r in rows)


def test_bloom_prefilter_lossless_and_pruning(spark):
    """The bloom prefilter must keep every true benchmark match (no
    false negatives — the property the oracle hash-match also proves)
    while discarding ~all non-matching corpus postings map-side."""
    docs = load_table(spark, SF_SMOKE, "documents")
    corp, bench = dedup._contamination_postings(docs)
    bloom = dedup.bloom_build(bench.select("h").distinct())
    survivors = dedup.bloom_prefilter(corp, bloom)
    true_matches = corp.join(bench, "h").select("doc_id", "h").distinct()
    n_corp = corp.count()
    n_surv = survivors.count()
    n_true = true_matches.count()
    # lossless: every true match survives the prefilter
    assert true_matches.join(survivors, ["doc_id", "h"], "left_anti").count() == 0
    # effective: false-positive overhead stays tiny (observed 222 vs
    # 212 true over 24507 postings at sf0.001)
    assert n_true <= n_surv < n_true + 0.01 * n_corp
    # the filter itself is broadcast-sized regardless of build side
    assert bloom.count() <= dedup.BLOOM_M_BITS // 64


def test_incremental_lsh_finds_cross_split_dups(spark):
    """Exact duplicates whose two copies land on opposite sides of the
    batch/index hash split must be reported (batch doc -> index doc,
    est 1.0); same-side duplicates are out of scope by contract."""
    import hashlib

    def is_batch(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return h % dedup.INCR_BATCH_MOD == dedup.INCR_BATCH_REM

    rows = []
    for i in range(20):
        t = (
            f"alpha{i} bravo{i} charlie{i} delta{i} "
            f"echo{i} fox{i} golf{i} hotel{i}"
        )
        rows.append((i, t))
        rows.append((i + 100, t))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    try:
        got = {
            (r["doc_id"], r["dup_of"]): r["est_jaccard"]
            for r in dedup.incremental_lsh_matches(
                dedup._shingle_hashes(docs)
            ).collect()
        }
    finally:
        dedup.release_cached_frames()
    expected = {}
    for i in range(20):
        a, b = i, i + 100
        if is_batch(a) and not is_batch(b):
            expected[(a, b)] = 1.0
        elif is_batch(b) and not is_batch(a):
            expected[(b, a)] = 1.0
    assert expected, "fixture must produce at least one crossing pair"
    assert got == expected


def test_bfs_distances_path_graph_semantics(spark):
    """On a path graph 0-1-2-3-4-5 the only local minimum is 0; after
    BFS_ROUNDS=3 synchronous relaxations exactly hops 0..3 are final
    and nodes farther than 3 hops stay unreachable (fixed-round
    contract — the oracle replays the same rounds)."""
    from energy_data_pipeline_project_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a bigint, doc_b bigint"
    )
    out = {r["doc_id"]: r["hops"] for r in G.bfs_to_local_minima(pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_kcore_deep_peel_chain_returns_fixed_round_core(spark):
    """A chain of 18 pairwise-similar docs peels only its 2 endpoints
    per k=2 round, so emptying needs 9 rounds — past KCORE_ROUNDS=8.
    The fixed-round contract (identical to the oracle's generated
    CTEs) returns the round-8 over-approximation {v8, v9} with
    core_degree 2; an earlier version raised RuntimeError on exactly
    this legitimate topology (r07 review)."""
    from energy_data_pipeline_project_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(17)], "doc_a bigint, doc_b bigint"
    )
    out = {
        r["doc_id"]: r["core_degree"]
        for r in G.kcore_nodes(pairs).collect()
    }
    assert out == {8: 2, 9: 2}, out

    # a converged graph (triangle) still returns the exact 2-core
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["doc_id"]: r["core_degree"] for r in G.kcore_nodes(tri).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}, got


def test_shared_lsh_pairs_matches_fresh_and_keys_on_mtime(spark, tmp_path):
    """The session-memoized pair frame must be bit-identical to a
    fresh minhash_lsh_pairs run, hit the memo on a second call, and
    MISS it when the underlying parquet is rewritten (mtime keying) —
    the guard against serving pairs of a stale corpus snapshot."""
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")

    try:
        fresh = {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in dedup.minhash_lsh_pairs(
                dedup._shingle_hashes(load_table(spark, sf, "documents"))
            ).collect()
        }
        shared1 = dedup.shared_lsh_pairs(spark, sf)
        assert {
            (r.doc_a, r.doc_b, r.est_jaccard) for r in shared1.collect()
        } == fresh
        assert dedup.shared_lsh_pairs(spark, sf) is shared1, "memo hit"

        # rewrite the table (new mtime) → memo must miss
        os.utime(f"{sf}/documents.parquet")
        assert dedup.shared_lsh_pairs(spark, sf) is not shared1
    finally:
        release_shared()
        dedup.release_cached_frames()


def test_documents_dedup_reads_shared_postings(spark, tmp_path, monkeypatch):
    """Once ``shared_shingle_postings`` is memoized, no documents-table
    shingle query and no cold ``shared_lsh_pairs`` build shingles the
    corpus again: they all take the published postings frame."""
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "artifacts"))
    release_shared()
    try:
        dedup.shared_shingle_postings(spark, sf)

        def _boom(*a, **k):
            raise AssertionError("documents shingled in-plan")

        monkeypatch.setattr(dedup, "_shingle_hashes", _boom)
        got = {}
        for name in (
            "dedup_minhash_lsh",
            "dedup_shingle_jaccard",
            "dedup_incremental_lsh",
        ):
            got[name] = dedup.QUERIES[name](spark, sf).collect()
            dedup.release_cached_frames()
        pairs = sorted(map(tuple, dedup.shared_lsh_pairs(spark, sf).collect()))
        assert pairs and pairs == sorted(map(tuple, got["dedup_minhash_lsh"]))
    finally:
        release_shared()
        dedup.release_cached_frames()


def test_graph_loops_launch_no_count_jobs(spark, monkeypatch):
    """The k-core and connected-components loops read their per-round
    counts from the round's checkpoint job, never a ``count()``; the
    results match a plain-Python replay of the same fixed rounds."""
    from energy_data_pipeline_project_spark.operators import graph as G

    try:
        rows = dedup.shared_lsh_pairs(spark, SF_SMOKE).collect()
    finally:
        release_shared()
    edges = {(r.doc_a, r.doc_b) for r in rows}
    assert edges, "smoke corpus must produce near-dup pairs"
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a bigint, doc_b bigint"
    )
    nodes = sorted({v for e in edges for v in e})
    docs = spark.createDataFrame([(v,) for v in nodes], "doc_id bigint")

    def _boom(*a, **k):
        raise AssertionError("count() job in a graph loop")

    monkeypatch.setattr(type(pairs), "count", _boom)
    core = {r.doc_id: r.core_degree for r in G.kcore_nodes(pairs).collect()}
    comps = {
        r.doc_id: (r.component_id, r.component_size)
        for r in dedup.duplicate_components(docs, pairs).collect()
    }
    dedup.release_cached_frames()

    nbrs = {v: set() for v in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    alive = set(nodes)
    for _ in range(G.KCORE_ROUNDS):
        deg = {v: len(nbrs[v] & alive) for v in alive}
        deg = {v: d for v, d in deg.items() if d > 0}
        want_core = {v: d for v, d in deg.items() if d >= G.KCORE_K}
        alive = set(want_core)
    assert core == want_core

    label = {}
    for v in nodes:
        if v in label:
            continue
        seen, stack = {v}, [v]
        while stack:
            for w in nbrs[stack.pop()] - seen:
                seen.add(w)
                stack.append(w)
        for w in seen:
            label[w] = (min(seen), len(seen))
    assert comps == label


def test_salted_join_rejects_nonpositive_salt(spark):
    """range(n_salt <= 0) is empty, so the small side replicated zero
    times — an inner join silently lost every row (r08 review). The
    knob now fails fast."""
    import pytest

    from energy_data_pipeline_project_spark.functions.skew import (
        salted_join,
    )

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k long, w string")
    for bad in (0, -4):
        with pytest.raises(ValueError, match="n_salt"):
            salted_join(big, small, "k", n_salt=bad)
