"""Scale-posture regression tests: pin the physical-plan properties
the 100 TB design depends on (SURVEY.md §4.3)."""

from __future__ import annotations

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.operators import (
    dedup,
    relational,
    similarity,
    tpch_shapes,
)
from energy_data_pipeline_project_spark.plans.analyze import (
    assert_scan_pruned,
    formatted_plan,
    plan_report,
)
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_function_predicate_does_not_push(spark):
    """Documented Catalyst behavior worth pinning: a predicate wrapped
    in functions (lower(trim(x)) = c) canNOT push into the parquet
    scan — parquet stats only serve plain column predicates. The engine
    therefore prefers normalizing at WRITE time when a column is a
    frequent filter target (see DESIGN.md); this test keeps us honest
    about what the read side actually does."""
    df = relational.QUERIES["filter_normalized_eq"](spark, SF_SMOKE)
    rep = plan_report(df)
    assert rep.n_scans == 1
    assert rep.pushed_filters in ([], [""])  # nothing pushes
    assert_scan_pruned(rep, ("c_nationkey",))  # but pruning still works


def test_simple_predicate_pushes_to_parquet(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    rep = plan_report(df)
    assert any("l_quantity" in f for f in rep.pushed_filters)
    assert_scan_pruned(rep, ("l_extendedprice", "l_shipdate"))


def test_q5_broadcasts_dims(spark):
    rep = plan_report(relational.QUERIES["q5_region_revenue"](spark, SF_SMOKE))
    # the nation⋈region dim join must be broadcast to the fact side
    assert rep.broadcast_joins >= 1
    # 4 joins total: li⋈orders, ⋈customer, ⋈(nation⋈region); the fact
    # joins may be shuffle or AQE-converted broadcast — either is fine
    assert rep.joins == 4


def test_gold_daily_join_no_python(spark):
    rep = plan_report(relational.QUERIES["gold_daily_join"](spark, SF_SMOKE))
    assert not rep.python_eval
    assert not rep.arrow_eval
    # pre-execution AQE plans don't annotate codegen ids; two shuffle
    # exchanges (one per day-grain aggregation) is the expected shape
    assert rep.exchanges == 2


def test_no_python_eval_in_core_surface(spark):
    """Row-at-a-time Python must never appear in the declared surface;
    Arrow eval only in the explicitly-pandas paths."""
    for name, fn in {
        **relational.QUERIES,
        **tpch_shapes.QUERIES,
        **dedup.QUERIES,
    }.items():
        rep = plan_report(fn(spark, SF_SMOKE))
        assert not rep.python_eval, f"{name} fell back to BatchEvalPython"
        assert not rep.arrow_eval, f"{name} unexpectedly uses pandas eval"


def test_numpy_path_is_arrow_not_row_python(spark):
    rep = plan_report(similarity.QUERIES["ann_topk_numpy"](spark, SF_SMOKE))
    assert rep.arrow_eval
    assert not rep.python_eval


def test_topk_is_take_ordered(spark):
    rep = plan_report(relational.QUERIES["topk_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in rep.plan  # per-partition top-k, no full sort


def _jobs_during(spark, group, fn):
    """Build ``fn(spark, SF_SMOKE)`` under job group ``group`` (unique
    per call: reused names accumulate counts) and return the frame and
    the number of Spark jobs its construction launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction only")
    try:
        df = fn(spark, SF_SMOKE)
    finally:
        sc.setJobGroup(None, None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tfidf_is_one_lazy_plan(spark):
    """Corpus size must be a broadcast 1-row agg inside the plan, not a
    driver-side .count() (which would run an extra full scan per
    invocation). Building the DataFrame must launch zero Spark jobs."""
    from energy_data_pipeline_project_spark.operators import text

    text.QUERIES["text_tfidf"](spark, SF_SMOKE)  # fills the table catalog
    df, tfidf_jobs = _jobs_during(spark, "tfidf-build", text.QUERIES["text_tfidf"])
    assert tfidf_jobs == 0
    rep = plan_report(df)
    assert "BroadcastNestedLoopJoin" in rep.plan or "BroadcastExchange" in rep.plan
    assert not rep.python_eval


def test_headline_builds_launch_no_jobs(spark):
    """With the table catalog and the shared-frame memo filled, building
    a headline query launches no Spark job: schemas come from the
    catalog, not per-call parquet inference. The one exception is
    ann_topk_numpy's deliberate query-vector collect()."""
    import bench
    from energy_data_pipeline_project_spark.operators import all_queries

    queries = all_queries()
    for name in bench.HEADLINE:  # the medallion run is timed separately
        queries[name](spark, SF_SMOKE)
    got = {
        n: _jobs_during(spark, f"headline-build-{n}", queries[n])[1]
        for n in bench.HEADLINE
    }
    assert got == {n: int(n == "ann_topk_numpy") for n in bench.HEADLINE}


def test_q6_predicates_push_to_scan(spark):
    """Every q6 predicate must reach the parquet scan (at 100 TB this
    query reads a fraction of the table or it's wrong)."""
    rep = plan_report(
        relational.QUERIES["q6_discount_revenue"](spark, SF_SMOKE)
    )
    assert "PushedFilters:" in rep.plan
    pushed = [
        ln for ln in rep.plan.splitlines() if "PushedFilters:" in ln
    ][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_exists_is_semi_join_not_inner_distinct(spark):
    rep = plan_report(
        relational.QUERIES["exists_high_qty_orders"](spark, SF_SMOKE)
    )
    assert "LeftSemi" in rep.plan
    assert "LeftAnti" not in rep.plan


def test_unpivot_is_single_scan(spark):
    """stack() must emit 3 rows per input from ONE lineitem scan (the
    oracle's UNION ALL shape would scan 3x)."""
    rep = plan_report(
        relational.QUERIES["unpivot_lineitem_metrics"](spark, SF_SMOKE)
    )
    assert rep.n_scans == 1
    assert "stack" in rep.plan


def test_map_only_surface_has_zero_exchanges(spark):
    """text_redact and hof_array_ops are one-scan map-only plans — the
    whole point of the no-explode HOF formulation is zero shuffles; a
    regression to posexplode would show up as an Exchange here."""
    from energy_data_pipeline_project_spark.operators import text

    for name, registry in (
        ("text_redact", text.QUERIES),
        ("hof_array_ops", similarity.QUERIES),
    ):
        rep = plan_report(registry[name](spark, SF_SMOKE))
        assert rep.n_scans == 1, name
        assert rep.exchanges == 0, f"{name} grew a shuffle: {rep.plan}"
        assert not rep.python_eval, name


def test_correlated_small_qty_broadcasts_part(spark):
    """The decorrelated q17 plan must broadcast the 2000-row part dim;
    the two lineitem passes (threshold agg + probe) both shuffle on
    l_partkey so AQE can line the exchanges up."""
    rep = plan_report(
        relational.QUERIES["correlated_small_qty_revenue"](spark, SF_SMOKE)
    )
    assert rep.broadcast_joins >= 1


def test_q21_is_semi_plus_anti_chain(spark):
    """The q21 shape must decorrelate into one LeftSemi (some other
    supplier exists) AND one LeftAnti (no other late supplier) — not
    inner joins + distinct, which would blow up on multi-line orders."""
    rep = plan_report(
        relational.QUERIES["q21_sole_late_supplier"](spark, SF_SMOKE)
    )
    assert "LeftSemi" in rep.plan
    assert "LeftAnti" in rep.plan
    assert "TakeOrderedAndProject" in rep.plan


def test_q4_exists_is_semi_join(spark):
    """q4's correlated EXISTS (with the cross-table late-ship predicate)
    must decorrelate to a LeftSemi join — no duplicate explosion from
    orders with many late lines."""
    rep = plan_report(
        tpch_shapes.QUERIES["q4_priority_late_orders"](spark, SF_SMOKE)
    )
    assert "LeftSemi" in rep.plan
    assert any("o_orderdate" in f for f in rep.pushed_filters), (
        "quarter filter must reach the orders scan"
    )


def test_q16_not_in_is_anti_join(spark):
    """The NOT IN exclusion list must become a broadcast LeftAnti join,
    and the distinct-pair projection must read only the two key columns
    off the fact table."""
    rep = plan_report(
        tpch_shapes.QUERIES["q16_part_supplier_counts"](spark, SF_SMOKE)
    )
    assert "LeftAnti" in rep.plan
    assert_scan_pruned(rep, ("l_extendedprice", "l_quantity", "l_shipdate"))


def test_q2_single_pass_window_min(spark):
    """The correlated per-part MIN must be a window over the grouped
    frame — one lineitem scan, not a second scan for the subquery."""
    rep = plan_report(
        tpch_shapes.QUERIES["q2_min_cost_supplier"](spark, SF_SMOKE)
    )
    li_scans = sum("l_partkey" in s for s in rep.read_schemas)
    assert li_scans == 1, f"lineitem scanned {li_scans}x: {rep.read_schemas}"
    assert "Window" in rep.plan


def test_q18_semi_join_take_ordered(spark):
    rep = plan_report(
        tpch_shapes.QUERIES["q18_large_volume_customers"](spark, SF_SMOKE)
    )
    assert "LeftSemi" in rep.plan
    assert "TakeOrderedAndProject" in rep.plan


def test_q8_filters_push_and_dims_broadcast(spark):
    rep = plan_report(tpch_shapes.QUERIES["q8_market_share"](spark, SF_SMOKE))
    assert rep.broadcast_joins >= 3  # part, cust nation-region arm, supp arm
    assert any("o_orderdate" in f for f in rep.pushed_filters)
    assert any("p_type" in f for f in rep.pushed_filters)


def test_dedup_candidate_stages_have_no_window_sort(spark):
    """The LSH/Jaccard/prefix candidate generators must keep their
    agg+join+array-expansion shape: a Window node would mean the full
    postings frame is being sorted per bucket key again (the plan the
    round-2 rework removed)."""
    from energy_data_pipeline_project_spark.operators import dedup

    for name in (
        "dedup_minhash_lsh",
        "dedup_shingle_jaccard",
        "dedup_prefix_jaccard",
        "dedup_simhash_hamming",
    ):
        plan = formatted_plan(dedup.QUERIES[name](spark, SF_SMOKE))
        assert "Window" not in plan, f"{name} reintroduced a window"
    dedup.release_cached_frames()


def test_segment_dedup_is_agg_join_only(spark):
    """First-writer-wins must stay a MIN-aggregate + equi-join (the
    map-combinable shape), never a window over the segment key."""
    from energy_data_pipeline_project_spark.operators import text

    plan = formatted_plan(text.QUERIES["text_segment_dedup"](spark, SF_SMOKE))
    assert "Window" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL ... ORDER BY ... LIMIT must decorrelate
    into WindowGroupLimit (map-side partial top-k before the shuffle),
    never a per-row re-execution or nested loop."""
    rep = plan_report(
        relational.QUERIES["join_lateral_top_orders"](spark, SF_SMOKE)
    )
    assert "WindowGroupLimit" in rep.plan
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan


def test_bloom_contamination_broadcasts_filter_not_bench(spark):
    """The bloom pattern's whole point: the m-bit word table broadcasts
    (KBs regardless of build-side size) while the exact verify join
    stays a shuffle join — broadcasting the bench postings there would
    collapse the pattern back into dedup_contamination."""
    from energy_data_pipeline_project_spark.operators import dedup

    # At toy scale Catalyst auto-broadcasts the verify join by size
    # estimate (correct!). Disable the size rule so only EXPLICIT
    # broadcast hints survive — proving the bloom word table is hinted
    # and the bench postings are not.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup.QUERIES["dedup_contamination_bloom"](spark, SF_SMOKE)
        rep = plan_report(df)
        assert rep.broadcast_joins == 1, formatted_plan(df)
        assert rep.shuffle_joins >= 1, formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_incremental_lsh_caps_index_side(spark):
    """Candidate generation must stay equi-join + agg (no window sort
    over the band frame), mirroring the batch LSH plan shape."""
    from energy_data_pipeline_project_spark.operators import dedup

    plan = formatted_plan(dedup.QUERIES["dedup_incremental_lsh"](spark, SF_SMOKE))
    try:
        assert "Window" not in plan
    finally:
        dedup.release_cached_frames()


def test_round3_tier_plans_stay_jvm_side(spark):
    """Every round-3 warehouse/retrieval query must be pure JVM
    codegen: no row-Python, no pandas eval, no cartesian product.
    (BroadcastNestedLoopJoin appears only as the benign 1-row-scalar
    crossJoin pattern and is bounded by that build side.)"""
    from energy_data_pipeline_project_spark.operators import all_queries

    Q = all_queries()
    r3 = [
        "cdc_snapshot_diff",
        "agg_incremental_maintenance",
        "nest_order_lines",
        "skyline_parts",
        "agg_higher_moments",
        "events_outlier_iqr",
        "events_dau_mau",
        "text_bm25_topk",
        "multimodal_shard_manifest",
        "events_seasonal_decompose",
        "orders_rfm_segments",
        "lineitem_yoy_growth",
        "orders_backlog_aging",
        "text_ngram_novelty",
        "embedding_centroid_drift",
    ]
    for name in r3:
        rep = plan_report(Q[name](spark, SF_SMOKE))
        assert not rep.python_eval, f"{name} fell back to BatchEvalPython"
        assert not rep.arrow_eval, f"{name} unexpectedly uses pandas eval"
        assert "CartesianProduct" not in rep.plan, name


def test_backlog_aging_pushes_status_filter(spark):
    """The open-order filter must reach the parquet scan."""
    from energy_data_pipeline_project_spark.operators import warehouse

    rep = plan_report(
        warehouse.QUERIES["orders_backlog_aging"](spark, SF_SMOKE)
    )
    assert any(
        "o_orderstatus" in p and "O" in p for p in rep.pushed_filters
    ), rep.pushed_filters


def test_yoy_growth_joins_on_month_grain(spark):
    """The YoY self-join must happen AFTER aggregation (two month-grain
    inputs), so the join never shuffles raw lineitem rows."""
    from energy_data_pipeline_project_spark.operators import warehouse

    rep = plan_report(
        warehouse.QUERIES["lineitem_yoy_growth"](spark, SF_SMOKE)
    )
    # each join input is an aggregated month frame: the plan holds
    # two HashAggregate pairs BELOW the join — and the join itself is
    # key-equi (no cartesian / BNLJ)
    assert rep.joins >= 1
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan


def test_training_tier_plans_stay_jvm_side(spark):
    """The round-3 training-assembly + PQ tiers: no row-at-a-time
    Python anywhere; Arrow eval only in the MG sketch (its mapInPandas
    summaries are the design); no cartesian blowups."""
    from energy_data_pipeline_project_spark.operators import pq, training

    for name, fn in {**training.QUERIES, **pq.QUERIES}.items():
        rep = plan_report(fn(spark, SF_SMOKE))
        assert not rep.python_eval, f"{name} fell back to BatchEvalPython"
        assert "CartesianProduct" not in rep.plan, name
        if name != "text_heavy_hitters":
            assert not rep.arrow_eval, f"{name} unexpectedly uses pandas eval"


def test_linear_probe_gradient_aggregates_are_partial(spark):
    """Each GD step must be a map-side-combinable aggregate: the plan
    holds partial/final HashAggregate pairs, not a single-partition
    sort-based aggregation over raw rows."""
    from energy_data_pipeline_project_spark.operators import training

    rep = plan_report(training.QUERIES["train_linear_probe"](spark, SF_SMOKE))
    assert rep.plan.count("HashAggregate") >= 4  # 2 steps × partial+final
    assert not rep.python_eval


def test_funnel_is_single_user_shuffle(spark):
    """events_funnel_steps must be one hash aggregate per user (a
    single exchange on user_id) feeding a 1-row global agg — no joins,
    no windows; the state per user is three longs at any scale."""
    from energy_data_pipeline_project_spark.operators import warehouse

    rep = plan_report(warehouse.QUERIES["events_funnel_steps"](spark, SF_SMOKE))
    assert "Join" not in rep.plan and "Window" not in rep.plan
    assert rep.exchanges <= 2  # user agg + global agg


def test_fuzzy_editdist_has_no_cartesian(spark):
    """PassJoin must candidate-generate via the segment equi-join —
    never a nested-loop/cartesian of the name pairs."""
    from energy_data_pipeline_project_spark.operators import curation

    rep = plan_report(curation.QUERIES["join_fuzzy_editdist"](spark, SF_SMOKE))
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan


def test_ewma_explode_is_day_grain(spark):
    """events_ewma_trend's contribution explode must sit ABOVE the
    day-grain aggregate (explode of the aggregated frame), never on
    raw events — the property that keeps the fan-out calendar-sized."""
    from energy_data_pipeline_project_spark.operators import timeseries

    plan = plan_report(
        timeseries.QUERIES["events_ewma_trend"](spark, SF_SMOKE)
    ).plan
    gen = plan.index("Generate")
    # the aggregate feeding the generate appears later in the
    # formatted operator list (children print below parents)
    assert "HashAggregate" in plan[gen:], "explode must consume the day agg"


def test_basket_pairs_shape_pinned(spark):
    """r03->r04 bench wobble on basket_part_pairs was noise, not plan
    drift — pin the shape so real drift is caught structurally:
    distinct, co-partitioned self-join on the order key, pair agg; no
    cartesian/BNLJ, no window, bounded exchanges."""
    rep = plan_report(
        relational.QUERIES["basket_part_pairs"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan
    assert "Window" not in rep.plan
    assert rep.exchanges <= 3  # distinct + join alignment + pair agg


def test_quantile_histogram_shape_pinned(spark):
    """events_quantile_histogram: histogram bins, weekly merge, CDF
    windows partitioned by (series, week) — no joins at all and no
    global window."""
    from energy_data_pipeline_project_spark.operators import timeseries

    rep = plan_report(
        timeseries.QUERIES["events_quantile_histogram"](spark, SF_SMOKE)
    )
    assert "Join" not in rep.plan
    # no global funnel: every window/sort runs hash-partitioned
    assert rep.single_partition_exchanges == 0, rep.plan
    assert rep.exchanges <= 3


def test_cdc_merge_apply_shape_pinned(spark):
    """MERGE apply + in-plan proof: anti-join/full-outer on the key
    only, counts via ONE tagged-union aggregate — no 1-row-scalar
    cross joins (BNLJ), no cartesian, no windows."""
    from energy_data_pipeline_project_spark.operators import warehouse

    rep = plan_report(warehouse.QUERIES["cdc_merge_apply"](spark, SF_SMOKE))
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan
    assert "Window" not in rep.plan


def test_new_r5b_ops_have_distributed_windows(spark):
    """The sweep/backfill windows must be partitioned (user/day), and
    the CMS probe join must broadcast the bounded grid."""
    from energy_data_pipeline_project_spark.operators import timeseries, training

    rep = plan_report(
        timeseries.QUERIES["events_concurrency_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in rep.plan
    assert "BroadcastNestedLoopJoin" not in rep.plan
    # every Window names a partition spec (user_id or day_no)
    import re

    for line in re.findall(r"Arguments: .*windowspecdefinition\(.*", rep.plan):
        assert "windowspecdefinition(user_id" in line or (
            "windowspecdefinition(day_no" in line
        ), line

    rep = plan_report(
        training.QUERIES["training_feature_backfill"](spark, SF_SMOKE)
    )
    for line in re.findall(r"Arguments: .*windowspecdefinition\(.*", rep.plan):
        assert "windowspecdefinition(user_id" in line, line

    rep = plan_report(
        timeseries.QUERIES["events_countmin_heavy"](spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in rep.plan


def test_sorted_neighborhood_sort_is_sliced_not_per_lang(spark):
    """The SN candidate sort must be the range-sliced decomposition
    (r10 verdict #1a): an Exchange rangepartitioning on the composite
    (lang, key, doc_id) order feeds per-(lang, slice) windows, and NO
    window partitions by lang alone — that shape sorts one dominant
    language in a single task at scale."""
    import re

    from energy_data_pipeline_project_spark.operators import dedup

    plan = formatted_plan(
        dedup.QUERIES["dedup_sorted_neighborhood"](spark, SF_SMOKE)
    )
    assert "rangepartitioning(lang" in plan
    specs = re.findall(r"windowspecdefinition\((\w+)[^)]*?, (\w+)", plan)
    # the row_number window must carry the slice id next to lang; the
    # tiny offsets window (one row per slice) partitions by lang alone
    # over a count frame — identified by its cnt input, not raw rows
    assert any(
        a == "lang" and b.startswith("__slice_id__") for a, b in specs
    ), specs
    dedup.release_cached_frames()


def test_low_card_windows_are_justified(spark):
    """Window-skew audit pin (r10 verdict #5): every query whose plan
    windows ONLY over low-cardinality partition columns must carry a
    bounded-grain justification in scripts/plan_audit.py, and the four
    raw-row candidates must actually be range-SLICED (a
    __slice_id__-partitioned window in the plan). Runs over the known
    flagged set — the full-surface sweep is plan_audit.py's job; this
    test keeps the justified set honest for the queries it names."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"),
    )
    from plan_audit import LOW_CARD_COLS, SLICE_COL, WINDOW_JUSTIFICATIONS

    from energy_data_pipeline_project_spark.operators import all_queries
    from energy_data_pipeline_project_spark.operators._frames import (
        release_cached_frames,
    )
    from energy_data_pipeline_project_spark.plans.analyze import (
        window_partition_specs,
    )

    SLICED = {
        "chunk_pack_sequences",
        "dedup_sorted_neighborhood",
        "events_topk_users_per_type",
        "events_outlier_iqr",
    }
    Q = all_queries()
    for name in sorted(WINDOW_JUSTIFICATIONS):
        specs = window_partition_specs(
            formatted_plan(Q[name](spark, SF_SMOKE))
        )
        release_cached_frames()
        # empty spec (GLOBAL window, r11 verdict #4) flags too:
        # set(()) <= LOW_CARD_COLS — same filter as plan_audit.py
        flagged = [
            s for s in specs if set(s) <= LOW_CARD_COLS and SLICE_COL not in s
        ]
        # the justification must still correspond to a real flag …
        assert flagged, f"{name}: justification is stale (nothing flags)"
        # … and a sliced query must really be sliced
        if name in SLICED:
            assert any(SLICE_COL in s for s in specs), (
                f"{name}: lost its range-sliced window"
            )
