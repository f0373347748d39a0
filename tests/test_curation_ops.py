"""Round-3 curation operators: semantic dedup, hashed quality
classifier, bucketized interval join, containment detection.

Oracle parity is covered by test_oracle_parity.py (these all register
DuckDB twins); this file pins the SEMANTIC invariants and the
physical-plan properties the 100 TB posture depends on.
"""

from __future__ import annotations

import math
import random
import re
import struct
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.operators import curation, dedup
from energy_data_pipeline_project_spark.operators.curation import (
    CONTAINMENT_THRESHOLD,
    COSINE_QUANT,
    SEM_K,
    SEM_QUANT,
    SEM_THRESHOLD,
    semantic_cluster_assignment,
    semantic_dup_pairs,
)
from energy_data_pipeline_project_spark.operators.similarity import EMB_DIM
from energy_data_pipeline_project_spark.plans.analyze import plan_report
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_range_interval_join_is_equi_not_nested_loop(spark):
    """The whole point of bucketization: Catalyst must get an equi-key.

    A pure range-predicate join plans as BroadcastNestedLoopJoin —
    O(|windows| * |clicks|) compared pairs per user regardless of
    cluster size. The bucketized form must plan as hash/merge joins
    only, with no Python anywhere."""
    df = curation.QUERIES["join_range_interval"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert "BroadcastNestedLoopJoin" not in rep.plan
    assert "CartesianProduct" not in rep.plan
    assert rep.joins >= 1
    assert not rep.python_eval and not rep.arrow_eval


def test_range_interval_matches_unbucketed_join(spark):
    """Lossless-decomposition check against a plain range join built
    directly on DataFrames (independent of the DuckDB oracle)."""
    ev = load_table(spark, SF_SMOKE, "events")
    w = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("value") >= curation.RANGE_MIN_VALUE)
    ).select(
        F.col("event_id").alias("window_id"),
        F.col("user_id").alias("w_user"),
        F.col("ts").alias("w_start"),
        (
            F.col("ts")
            + F.expr(f"INTERVAL {curation.RANGE_WINDOW_HOURS} HOUR")
        ).alias("w_end"),
    )
    c = ev.where(F.col("event_type") == "click")
    naive = (
        c.join(
            w,
            (F.col("user_id") == F.col("w_user"))
            & (F.col("ts") >= F.col("w_start"))
            & (F.col("ts") < F.col("w_end")),
        )
        .groupBy("window_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    got = {
        r["window_id"]: r["n_clicks"]
        for r in curation.QUERIES["join_range_interval"](
            spark, SF_SMOKE
        ).collect()
    }
    want = {r["window_id"]: r["n_clicks"] for r in naive.collect()}
    assert got == want and got  # non-trivial at this SF


def test_quality_classifier_plan_jvm_only(spark):
    """Inference is pure codegen'd expressions: one aggregation
    exchange, no joins, no Python."""
    df = curation.QUERIES["text_quality_classifier"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert not rep.python_eval and not rep.arrow_eval
    assert rep.joins == 0
    assert rep.n_scans == 1


def test_quality_classifier_scores_every_doc(spark):
    docs_n = load_table(spark, SF_SMOKE, "documents").count()
    df = curation.QUERIES["text_quality_classifier"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == docs_n
    kept = sum(r["keep"] for r in rows)
    # deterministic pseudo-weights are ~uniform: the gate must neither
    # pass nor reject the whole corpus
    assert 0 < kept < docs_n
    for r in rows[:50]:
        assert r["score_milli"] == r["sum_w"] * 1000 // r["n_tok"]


def test_semantic_pairs_only_within_cluster(spark):
    """Every reported pair must share the cluster both members were
    assigned to — and the pair space actually searched must be the
    within-cluster one (the SemDeDup contract)."""
    pairs = curation.QUERIES["dedup_semantic"](spark, SF_SMOKE).collect()
    assert pairs  # threshold calibrated to be non-trivial on testdata
    assert all(r["cosine"] >= SEM_THRESHOLD for r in pairs)
    assert all(r["vec_a"] < r["vec_b"] for r in pairs)


def test_semantic_agrees_with_global_pairs_inside_cluster(spark):
    """Within one cluster, SemDeDup must find EXACTLY the pairs the
    global all-pairs formulation finds — both directions: nothing
    extra (clustering only prunes) and nothing lost for co-clustered
    vectors (r06 review: the completeness direction was previously
    unasserted, so a decomposition silently dropping within-cluster
    candidates would have passed)."""
    from energy_data_pipeline_project_spark.operators.dedup import (
        COSINE_SUBSET,
        dedup_embedding_cosine,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sem = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in semantic_dup_pairs(emb).collect()
    }
    cluster_of = {
        r["vec_id"]: r["cluster"]
        for r in semantic_cluster_assignment(emb).collect()
    }
    dedup.release_cached_frames()
    # global pairs over the bounded all-pairs subset
    global_pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup_embedding_cosine(spark, SF_SMOKE).collect()
        if r["cosine"] >= SEM_THRESHOLD
    }
    sub = {
        p: c
        for p, c in sem.items()
        if p[0] < COSINE_SUBSET and p[1] < COSINE_SUBSET
    }
    expected = {
        p: c
        for p, c in global_pairs.items()
        if cluster_of[p[0]] == cluster_of[p[1]]
    }
    # exact agreement: same pair set AND same (integer-grid) cosines
    assert sub == expected
    assert expected  # non-trivial on this corpus


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def _semantic_replay(vectors, *, k, threshold):
    """Plain-Python integer replay of ``_semantic_oracle``: VALID_VEC,
    the FLOOR-grid argmin over the valid seeds ``vec_id < k`` (ties to
    the lowest cluster through ``dist * k + cluster``), then the
    ROUND-grid ``dp``/``n2`` within each cluster with the
    positive-norm gate. A vec_id held by several valid rows sums over
    every pair of copies, as the oracle's per-dimension joins do.
    Returns ``(cluster_of, pairs)``."""

    def half_up(d: float) -> int:  # Spark ROUND(double, 0)
        return int(Decimal(repr(d)).quantize(Decimal(1), ROUND_HALF_UP))

    val, qv = {}, {}
    for vid, e in vectors:
        if e is None or len(e) != EMB_DIM:
            continue
        e = [_f32(x) for x in e]
        if all(math.isfinite(x) for x in e):
            val.setdefault(vid, []).append([math.floor(x * SEM_QUANT) for x in e])
            qv.setdefault(vid, []).append([half_up(x * COSINE_QUANT) for x in e])
    cent = {c: val[c] for c in val if c < k}
    cluster_of = {
        v: min(
            sum(
                (x - y) ** 2
                for copy in val[v]
                for c_copy in cv
                for x, y in zip(copy, c_copy)
            )
            * k
            + c
            for c, cv in cent.items()
        )
        % k
        for v in val
    }
    n2 = {v: sum(x * x for copy in q for x in copy) for v, q in qv.items()}
    pairs = {}
    for a in val:
        for b in val:
            if not (a < b and cluster_of[a] == cluster_of[b]):
                continue
            if n2[a] <= 0 or n2[b] <= 0:
                continue
            dp = sum(
                x * y for ca in qv[a] for cb in qv[b] for x, y in zip(ca, cb)
            )
            cos = dp / (math.sqrt(n2[a]) * math.sqrt(n2[b]))
            if cos >= threshold:
                pairs[(a, b)] = (cluster_of[a], cos)
    return cluster_of, pairs


def test_semantic_chain_equals_integer_replay(spark):
    """The SemDeDup assignment and pair stage equal an independent
    integer replay of the oracle's definition, on a corpus holding
    every edge the chain must get exactly right: a vector at equal
    distance from two seeds, a zero vector, an exact duplicate pair,
    a NaN element, a vector shorter than EMB_DIM and a vec_id held by
    two rows."""
    rng = random.Random(15)

    def rand_vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]

    # exact multiples of 1/16 keep both grids free of rounding, so the
    # tie below is a tie on the FLOOR grid too
    mid = [((7 * j) % 16 - 8) / 16 for j in range(EMB_DIM)]
    seeds = [rand_vec() for _ in range(SEM_K)]
    seeds[2] = [mid[0] + 1 / 16] + mid[1:]
    seeds[5] = [mid[0] - 1 / 16] + mid[1:]
    dup = rand_vec()
    nan = rand_vec()
    nan[3] = float("nan")
    vectors = list(enumerate(seeds)) + [
        (8, mid),  # equidistant from seeds 2 and 5: tie -> cluster 2
        (9, [0.0] * EMB_DIM),  # zero norm: never in a pair
        (10, dup),
        (11, list(dup)),  # exact duplicate of 10
        (12, nan),  # invalid: NaN element
        (13, rand_vec()[:-1]),  # invalid: EMB_DIM - 1 elements
    ]
    vectors += [(v, rand_vec()) for v in range(14, 40)]
    vectors += [(v, [x + 0.01 for x in mid]) for v in range(40, 44)]
    vectors += [(44, [x - 0.01 for x in mid]), (44, rand_vec())]
    emb = spark.createDataFrame(
        vectors, "vec_id long, embedding array<float>"
    )
    for threshold in (SEM_THRESHOLD, -2.0):
        want_cluster, want_pairs = _semantic_replay(
            vectors, k=SEM_K, threshold=threshold
        )
        got_cluster = {
            r["vec_id"]: r["cluster"]
            for r in semantic_cluster_assignment(emb).collect()
        }
        got_pairs = {
            (r["vec_a"], r["vec_b"]): (r["cluster"], r["cosine"])
            for r in semantic_dup_pairs(emb, threshold=threshold).collect()
        }
        dedup.release_cached_frames()
        assert got_cluster == want_cluster
        assert got_pairs == want_pairs
    assert want_cluster[8] == 2 and 12 not in want_cluster
    assert 13 not in want_cluster
    assert (10, 11) in want_pairs and (8, 44) in want_pairs
    assert not any(9 in p for p in want_pairs)


def test_semantic_pair_stage_layout(spark):
    """One row per valid vector in the published frame, each carrying
    an EMB_DIM-element cosine-grid array; the pair stage neither melts
    (Generate) nor aggregates (Aggregate), and its join runs over
    defaultParallelism partitions of the streamed side."""
    from energy_data_pipeline_project_spark.operators.similarity import (
        VALID_VEC_SPARK,
    )

    ec = curation.shared_semantic_assignment(spark, SF_SMOKE)
    assert ec.schema.simpleString() == (
        "struct<vec_id:bigint,cluster:int,qv:array<bigint>,n2:bigint>"
    )
    n_valid = (
        load_table(spark, SF_SMOKE, "embeddings").where(VALID_VEC_SPARK).count()
    )
    assert ec.count() == n_valid
    assert ec.select("vec_id").distinct().count() == n_valid
    assert ec.where(F.size("qv") != EMB_DIM).count() == 0

    df = curation.QUERIES["dedup_semantic"](spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    nodes = set(re.findall(r"^[\s:+\-|*()\d]*([A-Z]\w*)", opt, re.M))
    assert "Join" in nodes
    assert not nodes & {"Generate", "Aggregate"}, nodes
    n = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == n
    assert f"RoundRobinPartitioning({n})" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_containment_detects_subset_docs(spark):
    """Symmetric-Jaccard blind spot: containment must catch pairs whose
    intersection covers the small doc even when Jaccard is low."""
    rows = curation.QUERIES["text_containment"](spark, SF_SMOKE).collect()
    dedup.release_cached_frames()
    assert rows
    assert all(r["containment"] >= CONTAINMENT_THRESHOLD for r in rows)
    assert all(r["doc_inner"] != r["doc_outer"] for r in rows)
    # full-containment pairs (doc is an exact shingle-subset of
    # another) exist in this corpus and must surface
    assert any(r["containment"] == 1.0 for r in rows)


def test_containment_plan_shuffles_hashes_not_text(spark):
    df = curation.QUERIES["text_containment"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert not rep.python_eval and not rep.arrow_eval
    # the pair expansion must be the in-array codegen form, not a
    # postings self-join: exactly one scan of documents feeds the index
    assert rep.n_scans == 1
    dedup.release_cached_frames()


def test_bpe_greedy_merge_handles_self_overlap(spark):
    """The island/offset rule must merge 'a a a a' as [(1,2),(3,4)] —
    greedy left-to-right — never the overlapping (2,3)."""
    from energy_data_pipeline_project_spark.operators.curation import (
        _bpe_merge_round,
    )

    rows = [(1, i + 1, t) for i, t in enumerate("a a a a b".split())] + [
        (2, i + 1, t) for i, t in enumerate("a a a b b".split())
    ]
    s = spark.createDataFrame(rows, "doc_id long, pos long, tok string")
    best, merged = _bpe_merge_round(s)
    b = best.collect()[0]
    assert (b["tok_a"], b["tok_b"], b["cnt"]) == ("a", "a", 5)
    rows = merged.collect()  # ONE job, filtered locally per doc
    got = {
        doc: [
            r["tok"]
            for r in sorted(
                (r for r in rows if r["doc_id"] == doc),
                key=lambda r: r["pos"],
            )
        ]
        for doc in (1, 2)
    }
    assert got[1] == ["a a", "a a", "b"]
    assert got[2] == ["a a", "a", "b", "b"]


def test_bpe_merge_rules_deterministic(spark):
    from energy_data_pipeline_project_spark.operators import curation

    r1 = curation.QUERIES["text_bpe_merges"](spark, SF_SMOKE).collect()
    r2 = curation.QUERIES["text_bpe_merges"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    assert len(r1) == curation.BPE_ITERS


def test_quantile_histogram_brackets_exact_percentile(spark):
    """Bin-width error bound: the histogram p50 must bracket the true
    exact median of each (series, week) within one bin."""
    from energy_data_pipeline_project_spark.operators import timeseries

    got = {
        (r["event_type"], r["week"]): r
        for r in timeseries.QUERIES["events_quantile_histogram"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got
    ev = load_table(spark, SF_SMOKE, "events")
    exact = (
        ev.groupBy(
            "event_type",
            F.date_trunc("week", F.to_date("ts")).cast("date").alias("week"),
        )
        .agg(F.sort_array(F.collect_list("value")).alias("vals"))
        .collect()
    )
    W = timeseries.HIST_BIN_WIDTH
    for r in exact:
        h = got[(r["event_type"], r["week"])]
        n = len(r["vals"])
        # p50_bin is defined as the bin of the ceil(n/2)-th order
        # statistic — check that exact statistic lands in that bin
        kth = r["vals"][(50 * n + 99) // 100 - 1]
        assert h["p50_bin"] == int(kth // W)
        assert h["n"] == n


def test_segments_udtf_runs_through_python_udtf_node(spark):
    """The query must actually exercise the UDTF path (not be optimized
    into a relational plan), and reassemble losslessly."""
    from energy_data_pipeline_project_spark.operators.curation import (
        SEGMENT_TOKS,
    )

    df = curation.QUERIES["text_segments_udtf"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert "UDTF" in rep.plan
    rows = df.collect()
    assert rows
    assert all(r["seg_toks"] <= SEGMENT_TOKS for r in rows)
    # segments reassemble to the original token stream for a sample doc
    doc0 = min(r["doc_id"] for r in rows)
    segs = sorted(
        (r for r in rows if r["doc_id"] == doc0), key=lambda r: r["seg_pos"]
    )
    rebuilt = " ".join(r["segment"] for r in segs)
    orig = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") == doc0)
        .collect()[0]["text"]
    )
    assert rebuilt == " ".join(t for t in orig.split(" ") if t)


def test_keep_best_prefers_quality_then_min_id(spark):
    """Each component's keep decision must pick the max classifier
    score (ties → lowest doc_id), and cover every scored doc exactly
    once across components."""
    from energy_data_pipeline_project_spark.operators.curation import (
        quality_scores,
    )
    from energy_data_pipeline_project_spark.operators.dedup import (
        _shingle_hashes,
        duplicate_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    comps = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(
            docs, minhash_lsh_pairs(_shingle_hashes(docs))
        ).collect()
    }
    scores = {
        r["doc_id"]: r["score_milli"]
        for r in quality_scores(docs).collect()
    }
    dedup.release_cached_frames()
    out = curation.QUERIES["corpus_dedup_keep_best"](spark, SF_SMOKE).collect()
    dedup.release_cached_frames()
    assert len(out) == len(set(comps.values()))
    by_comp: dict = {}
    for d, c in comps.items():
        by_comp.setdefault(c, []).append(d)
    assert any(len(v) > 1 for v in by_comp.values())  # real clusters
    for r in out:
        members = by_comp[r["component_id"]]
        best = max(members, key=lambda d: (scores[d], -d))
        assert r["kept_doc_id"] == best
        assert r["kept_score_milli"] == scores[best]
        assert r["component_size"] == len(members)


def test_window_distribution_funcs_one_window_pass(spark):
    """Both window specs share partitioning+ordering, so Catalyst must
    plan ONE sort/exchange pass, and the functions must be internally
    consistent."""
    from energy_data_pipeline_project_spark.operators import relational

    df = relational.QUERIES["window_distribution_funcs"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert rep.exchanges == 1  # one hash-partition exchange, reused
    rows = df.collect()
    assert rows
    for r in rows[:200]:
        assert 1 <= r["quartile"] <= 4
        assert 0.0 <= r["pr"] <= 1.0
        assert 0.0 < r["cd"] <= 1.0
        assert r["min_cents"] <= r["second_cents"] <= r["max_cents"]


def test_hof_map_ops_is_shuffle_free(spark):
    from energy_data_pipeline_project_spark.operators import relational

    df = relational.QUERIES["hof_map_ops"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert rep.exchanges == 0  # map pipeline: scan → project → explode
    assert rep.n_scans == 1
    assert not rep.python_eval and not rep.arrow_eval


def test_quantize_int8_codes_saturate_correctly(spark):
    from energy_data_pipeline_project_spark.operators import similarity

    rows = similarity.QUERIES["embedding_quantize_int8"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert -128 <= r["min_code"] <= r["max_code"] <= 127
        # max-abs scaling guarantees at least one dimension at a rail
        assert r["min_code"] == -128 or r["max_code"] >= 126
        # exact error budget: remainder strictly below divisor per dim
        assert 0 <= r["sum_rem"] < r["n_dims"] * 2 * r["amax"]


def test_triangle_count_matches_python_reference(spark):
    """Exact triangle count cross-checked against a set-based count on
    the collected edge list (small at smoke SF)."""
    from energy_data_pipeline_project_spark.operators import graph
    from energy_data_pipeline_project_spark.operators.dedup import (
        _shingle_hashes,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    edges = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(_shingle_hashes(docs)).collect()
    }
    dedup.release_cached_frames()
    eset = set(edges)
    want = sum(
        1
        for a, b in eset
        for c in (x[1] for x in eset if x[0] == b)
        if (a, c) in eset
    )
    row = graph.QUERIES["graph_triangle_count"](spark, SF_SMOKE).collect()[0]
    dedup.release_cached_frames()
    assert row["n_edges"] == len(eset)
    assert row["n_triangles"] == want
    assert row["n_triangles"] > 0  # near-dup clusters are near-cliques


def test_funnel_stages_monotone(spark):
    from energy_data_pipeline_project_spark.operators import relational

    rows = {
        r["stage"]: r["n_users"]
        for r in relational.QUERIES["events_funnel_ordered"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(rows) == {"1_view", "2_click", "3_purchase"}
    assert rows["1_view"] >= rows["2_click"] >= rows["3_purchase"]
    assert rows["1_view"] > 0


def test_retention_cohort_zero_month_complete(spark):
    """Every cohort is by definition active at months_since=0, with
    n_active equal to the cohort's size."""
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["orders_retention_cohorts"](
        spark, SF_SMOKE
    ).collect()
    assert rows and all(r["months_since"] >= 0 for r in rows)
    zero = {r["cohort_ym"]: r["n_active"] for r in rows if r["months_since"] == 0}
    cohorts = {r["cohort_ym"] for r in rows}
    assert set(zero) == cohorts
    orders = load_table(spark, SF_SMOKE, "orders")
    cohort_sizes = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "cohort_ym"
            )
        )
        .groupBy("cohort_ym")
        .count()
        .collect()
    )
    for r in cohort_sizes:
        assert zero[r["cohort_ym"]] == r["count"]


def test_string_concat_is_ordered(spark):
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["agg_string_concat"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        names = r["names"].split("|")
        assert len(names) == r["n_suppliers"]
        assert names == sorted(names)


def test_trimmed_mean_uses_grouped_agg_pandas(spark):
    """The plan must go through the Arrow GROUPED_AGG node, and the
    trimmed sum must match a driver-side reference."""
    rows = curation.QUERIES["agg_trimmed_mean_pandas"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(
            (r["cents"], r["event_id"])
        )
    for r in rows:
        vals = sorted(by_type[r["event_type"]])
        k = len(vals) // 10
        kept = vals[k : len(vals) - k] if k else vals
        assert r["n"] == len(vals)
        assert r["n_kept"] == len(kept)
        assert r["trimmed_sum_cents"] == sum(c for c, _ in kept)
    df = curation.QUERIES["agg_trimmed_mean_pandas"](spark, SF_SMOKE)
    assert "ArrowAggregatePython" in plan_report(df).plan


def test_abc_classification_no_global_single_partition_window(spark):
    """The plan must not sort the full part frame in one partition:
    the only 1-partition window runs over the tiny band-total frame.
    Semantics: classes are contiguous down the revenue order and class
    A covers <= 80% of total revenue."""
    from energy_data_pipeline_project_spark.operators import relational

    df = relational.QUERIES["orders_abc_classification"](spark, SF_SMOKE)
    rows = sorted(
        df.collect(), key=lambda r: (-r["rev"], r["l_partkey"])
    )
    order = [r["abc_class"] for r in rows]
    assert order == sorted(order)  # A...B...C contiguous
    total = sum(r["rev"] for r in rows)
    a_rev = sum(r["rev"] for r in rows if r["abc_class"] == "A")
    assert a_rev * 5 <= total * 4
    assert {"A", "B", "C"} >= set(order) and "A" in order and "C" in order


def test_basket_pairs_support_counts(spark):
    """Support must equal the number of distinct orders containing both
    parts — cross-checked on a sample pair."""
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["basket_part_pairs"](spark, SF_SMOKE).collect()
    assert rows
    top = max(rows, key=lambda r: (r["support"], -r["part_a"]))
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders_a = {
        r["l_orderkey"]
        for r in li.where(F.col("l_partkey") == top["part_a"]).collect()
    }
    orders_b = {
        r["l_orderkey"]
        for r in li.where(F.col("l_partkey") == top["part_b"]).collect()
    }
    assert top["support"] == len(orders_a & orders_b)


def test_scd2_intervals_are_gapless_chains(spark):
    """Per user: intervals ordered by valid_from must chain exactly
    (each valid_to equals the next valid_from) and end in one open
    current row."""
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["events_scd2_intervals"](
        spark, SF_SMOKE
    ).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r["valid_from_us"])
        assert sum(r["is_current"] for r in user_rows) == 1
        assert user_rows[-1]["valid_to_us"] is None
        for a, b in zip(user_rows, user_rows[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]


def test_markov_transition_rows_sum_to_one(spark):
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["events_markov_transitions"](
        spark, SF_SMOKE
    ).collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    assert len(by_from) == 5
    for rs in by_from.values():
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-9
        n_tot = sum(r["n"] for r in rs)
        for r in rs:
            assert r["p"] == r["n"] / n_tot


def test_approx_percentile_within_rank_error(spark):
    """GK sketch guarantee: each reported quantile must sit within
    rank-error bounds of the exact order statistics."""
    from energy_data_pipeline_project_spark.operators import relational

    rows = relational.QUERIES["agg_approx_percentile"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    by_prio: dict = {}
    for r in orders:
        by_prio.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for r in rows:
        vals = sorted(by_prio[r["o_orderpriority"]])
        n = len(vals)
        assert r["n"] == n
        for q, got in ((0.5, r["p50"]), (0.9, r["p90"]), (0.99, r["p99"])):
            # allow ±(rank error 1e-4 + 1 index) around the target rank
            slack = max(1, int(n * 1e-4) + 1)
            lo = vals[max(0, int(q * n) - slack)]
            hi = vals[min(n - 1, int(q * n) + slack)]
            assert lo <= got <= hi


def test_fuzzy_editdist_lossless_on_adversarial_indels(spark, tmp_path):
    """PassJoin blocking must not lose pairs whose edits are indels at
    segment boundaries (the shift the position window exists for).
    Brute-force Python Levenshtein is the ground truth."""
    from energy_data_pipeline_project_spark.operators.curation import (
        EDJOIN_TAU,
        join_fuzzy_editdist,
    )

    names = [
        "abcdefghij",   # base
        "bcdefghij",    # delete at position 0 (shifts every segment)
        "abcdefghijk",  # append
        "xabcdefghij",  # prepend
        "abdefghij",    # delete inside segment 0
        "abcdefgzij",   # substitute in segment 2
        "abcdeXfghij",  # insert at segment boundary
        "zzzzzzzzzz",   # far away
        "abc",          # minimum length
        "abd",          # distance 1 from abc
    ]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    truth = {
        (min(a, b), max(a, b), lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if lev(a, b) <= EDJOIN_TAU
    }

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    ).write.mode("overwrite").parquet(f"{sf}/part.parquet")

    got = {
        (r.name_a, r.name_b, r.edit_distance)
        for r in join_fuzzy_editdist(spark, sf).collect()
    }
    assert got == truth, (sorted(got - truth), sorted(truth - got))


def test_curate_corpus_example_runs(spark, tmp_path):
    """The examples/curate_corpus.py composition must run end-to-end
    and produce a monotone funnel (each stage keeps a subset) with a
    consistent curated lake on disk."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "curate_corpus",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "curate_corpus.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "lake")
    counts = mod.curate(spark, SF_SMOKE, out)
    assert counts["0_raw"] >= counts["1_quality"] >= counts["2_dedup"]
    assert counts["2_dedup"] >= counts["2s_span_clean"]
    assert counts["2s_span_clean"] >= counts["3_decontaminated"] > 0
    curated = spark.read.parquet(f"{out}/curated/documents")
    assert curated.count() == counts["3_decontaminated"]
    splits = {r["split"] for r in curated.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    assert counts["4_sequences"] > 0
    # the packed sequences must cover ONLY curated documents — a
    # dropped duplicate or contaminated doc reappearing in the
    # training artifact would defeat stages 2-3
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    seq_rows = spark.read.parquet(f"{out}/curated/sequences")
    doc_col = next(c for c in seq_rows.columns if "doc" in c)
    packed = {r[doc_col] for r in seq_rows.select(doc_col).collect()}
    assert packed and packed <= kept
    # the benchmark members themselves must never reach the training
    # corpus — the carve excludes them from flagging, not from removal
    from energy_data_pipeline_project_spark.operators.dedup import (
        benchmark_keyed_docs,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    bench = {
        r["doc_id"]
        for r in benchmark_keyed_docs(
            load_table(spark, SF_SMOKE, "documents")
        ).collect()
    }
    assert bench and not (kept & bench)


def test_fuzzy_editdist_lossless_on_random_corpus(spark, tmp_path):
    """Seeded random strings over a tiny alphabet (maximum collision /
    near-miss density) — PassJoin must agree exactly with brute-force
    Levenshtein, including distance-0 duplicates-by-content pairs
    being absent (DISTINCT names) and boundary lengths (3, 4)."""
    import random

    from energy_data_pipeline_project_spark.operators.curation import (
        EDJOIN_TAU,
        join_fuzzy_editdist,
    )

    rng = random.Random(20260814)
    names = sorted(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(3, 9)))
            for _ in range(60)
        }
    )

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    truth = {
        (a, b, lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if lev(a, b) <= EDJOIN_TAU
    }
    assert truth, "seed must produce near pairs"

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    ).write.mode("overwrite").parquet(f"{sf}/part.parquet")
    got = {
        (r.name_a, r.name_b, r.edit_distance)
        for r in join_fuzzy_editdist(spark, sf).collect()
    }
    assert got == truth, (sorted(got ^ truth)[:10], len(got), len(truth))
