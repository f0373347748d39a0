#!/usr/bin/env python
"""Benchmark the headline query surface.

Runs the representative queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is fully materialized through the ``noop`` sink (all columns
computed, nothing collected to the driver) so timings reflect real
execution, not partial column pruning against a count().
"""

from __future__ import annotations

import json
import os
import sys
import time

from energy_data_pipeline_project_spark.operators import all_queries
from energy_data_pipeline_project_spark.session import get_spark_session

HEADLINE = [
    "gold_daily_join",
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "rollup_revenue",
    "window_running_sum",
    "window_range_7day",
    "join_left_outer_counts",
    "join_asof_prev_purchase",
    "events_sessionize",
    "json_extract_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_shingle_jaccard",
    "text_token_stats",
    "text_fingerprint",
    "ann_topk_bruteforce",
    "ann_topk_numpy",
]

# Round-2 additions, timed separately so the headline total stays
# directly comparable with the BENCH_r01 baseline (same query set).
EXTRA = [
    "dedup_substring_spans",
    "dedup_span_removal",
    "retrieval_rrf_hybrid",
    "text_lm_backoff_score",
    "embedding_random_projection",
    "events_attribution",
    "dq_referential_integrity",
    "orders_cohort_ltv",
    "embedding_power_iteration",
    "events_concurrency_sweep",
    "cdc_merge_apply",
    "dq_distribution_drift",
    "join_incremental_maintenance",
    "dedup_sorted_neighborhood",
    "dq_benford_audit",
    "events_countmin_heavy",
    "layout_zonemap_skipping",
    "training_feature_backfill",
    "q6_discount_revenue",
    "q7_nation_trade_volume",
    "events_conversion_join",
    "unpivot_lineitem_metrics",
    "text_tfidf",
    "text_repetition",
    "multimodal_frame_sample",
    "ann_topk_ivf",
    "dedup_cluster_cc",
    "correlated_small_qty_revenue",
    "text_redact",
    "hof_array_ops",
    "dedup_contamination",
    "corpus_quality_funnel",
    "text_bigram_topk",
    "q14_promo_revenue_share",
    "q19_disjunctive_revenue",
    "null_semantics_probe",
    "join_full_outer_days",
    "docs_stratified_sample",
    "corpus_mix_upsample",
    "chunk_pack_sequences",
    "multimodal_embedding_join",
    "events_sketch_rollup",
    "q21_sole_late_supplier",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q18_large_volume_customers",
    "kmeans_embeddings",
    "text_boilerplate_removal",
    "text_vocab_coverage",
    "events_gap_fill",
    "events_anomaly_zscore",
    "json_variant_agg",
    "docs_weighted_sample",
    "dedup_prefix_jaccard",
    "text_char_entropy",
    "dedup_simhash_hamming",
    "text_segment_dedup",
    "docs_source_cap",
    "events_linear_trend",
    "dq_expectations",
    "text_unigram_surprisal",
    "pagerank_dup_graph",
    "embedding_label_spectrum",
    "corpus_curation_e2e",
    "dedup_contamination_bloom",
    "dedup_incremental_lsh",
    "dedup_semantic",
    "text_quality_classifier",
    "join_range_interval",
    "text_containment",
    "events_quantile_histogram",
    "text_bpe_merges",
    "text_segments_udtf",
    "corpus_dedup_keep_best",
    "window_distribution_funcs",
    # round-4 additions: graph tier on the shared pair frame, IVF-PQ,
    # the mergeable DAU/MAU variant, and the column profiler
    "graph_triangle_count",
    "graph_kcore",
    "ann_topk_ivfpq",
    "events_dau_mau_sketch",
    "dq_column_profile",
    "hof_map_ops",
    "embedding_quantize_int8",
    "join_fuzzy_prefix",
    "docs_dup_rate_by_source",
    "events_funnel_ordered",
    "orders_retention_cohorts",
    "agg_string_concat",
    "agg_trimmed_mean_pandas",
    "basket_part_pairs",
    "orders_abc_classification",
    "events_scd2_intervals",
    "events_markov_transitions",
    "agg_approx_percentile",
    "graph_label_propagation",
    "text_bigram_pmi",
    "events_ab_lift",
    "cdc_snapshot_diff",
    "agg_incremental_maintenance",
    "nest_order_lines",
    "skyline_parts",
    "agg_higher_moments",
    "events_outlier_iqr",
    "events_dau_mau",
    "text_bm25_topk",
    "dedup_lsh_quality_eval",
    "multimodal_shard_manifest",
    "events_seasonal_decompose",
    "orders_rfm_segments",
    "lineitem_yoy_growth",
    "orders_backlog_aging",
    "text_ngram_novelty",
    "embedding_centroid_drift",
    "graph_bfs_distances",
    "orders_shipping_sla",
    "events_conversion_latency",
    "embedding_label_outliers",
    "events_kanonymity_risk",
    "basket_part_cosine",
    "events_behavior_signatures",
    "explode_outer_probe",
    "events_error_budget",
    "events_fifo_match",
    "parts_supplier_hhi",
    "events_user_lifecycle",
    "lineitem_discount_effect",
    "lineitem_partition_skew",
    "training_negative_samples",
    "split_leakage_audit",
    "corpus_token_budget_plan",
    "train_linear_probe",
    "text_heavy_hitters",
    "embedding_pq_codes",
    "ann_topk_pq",
    "corpus_probe_filter",
    "text_bpe_encode",
    "multimodal_payload_simhash",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(samples: list[float]) -> float:
    return sorted(samples)[len(samples) // 2]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    spark = get_spark_session(app_name="bench")
    # WindowExecBase logs "No Partition Defined for Window operation!"
    # for every global window; each one has an audited row in
    # scripts/plan_audit.py, so the warning is noise in the bounded
    # driver log tail.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    queries = all_queries()

    # Warm the session once: fill the table catalog (one schema
    # inference per table, so no measured query launches one) plus one
    # tiny materialization, so the first measured query pays its own
    # execution, not JVM spin-up or catalog cold-start.
    import shutil
    import tempfile

    from energy_data_pipeline_project_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).schema
    materialize(queries["agg_distinct_pairs"](spark, sf_dir))
    # ... and the parquet WRITE path: committer + write-codegen classes
    # load on first use, and without this the first measured write
    # (pipeline_medallion_7d) absorbs ~10s of one-time JIT (measured:
    # 15s first write-trial in a fresh JVM vs 3.5s thereafter).
    wtmp = tempfile.mkdtemp(prefix="bench-warm-")
    try:
        spark.range(1000).write.mode("overwrite").parquet(f"{wtmp}/w")
        spark.read.parquet(f"{wtmp}/w").count()
    finally:
        shutil.rmtree(wtmp, ignore_errors=True)

    # Hardware calibration probes: rounds run on different VMs (r03's
    # machine measured ~2x slower than r01's on identical plans), so
    # record fixed-size CPU and write microbenchmarks each round to
    # let cross-round query timings be normalized.
    # vs_r01_calib anchor: the r03 cpu probe (earliest recorded; r01
    # predates the probes) — see the vs_r01_calib emit below.
    _CALIB_CPU_ANCHOR = 0.478
    t0 = time.perf_counter()
    # (% bounds the terms so the ANSI-mode sum cannot overflow int64)
    spark.range(0, 200_000_000).selectExpr(
        "sum(xxhash64(id) % 1000000) AS s"
    ).collect()
    calib_cpu = round(time.perf_counter() - t0, 3)
    ctmp = tempfile.mkdtemp(prefix="bench-calib-")
    try:
        t0 = time.perf_counter()
        spark.range(0, 2_000_000).selectExpr(
            "id", "xxhash64(id) AS a", "id * 2 AS b"
        ).write.mode("overwrite").parquet(f"{ctmp}/c")
        calib_io = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(ctmp, ignore_errors=True)

    from energy_data_pipeline_project_spark.operators.dedup import (
        release_cached_frames,
    )
    from energy_data_pipeline_project_spark.pipeline.artifacts import (
        drain_serve_log,
    )

    # Per-query artifact serving state (r10 verdict #3): round-over-
    # round comparisons kept conflating plan changes with store state
    # (cold build vs warm read of the same artifact differs 3-10x).
    # The store logs every get_or_build outcome and every session-memo
    # hit; the FIRST sample of each query is the one that consults the
    # store (later reps hit the session memo above it), so its drain
    # decides the label. "memo" = every shared frame the first sample
    # used was already in the session memo (left there by an earlier
    # query in this process); "n/a" = a non-artifact query.
    def _served(entries: list[tuple[str, str]]) -> str:
        if not entries:
            return "n/a"
        if any(s == "cold" for _, s in entries):
            return "cold"
        return "memo" if all(s == "memo" for _, s in entries) else "warm"

    served: dict[str, str] = {}
    served_kinds: dict[str, list[str]] = {}
    first_sample: dict[str, float] = {}

    def _record_serve(name: str, sample: float) -> None:
        ents = drain_serve_log()
        if served.get(name, "n/a") == "n/a":
            served[name] = _served(ents)
            if ents:
                served_kinds[name] = [f"{k}={s}" for k, s in ents]
                first_sample[name] = sample

    drain_serve_log()  # discard anything the warmup touched

    # Median-of-3 per headline query (r06 verdict #1): the driver VM
    # shows bursty CPU steal from host contention (measured 2-6x
    # swings on identical plans minutes apart), and a single sample
    # can land entirely inside a burst — the unexplained r05→r06
    # +13.6% headline drift on untouched queries was unattributable
    # for exactly that reason. Reps are interleaved (all queries per
    # sweep, three sweeps) so one steal burst can't hit all three
    # samples of the same query; the median resists both a slow and
    # an anomalously-cached-fast outlier. Per-rep spread goes to
    # BENCH_DETAIL.json; only the medians ride the stdout line.
    reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            reps[name].append(round(time.perf_counter() - t0, 3))
            # dedup queries persist signature/posting frames during the
            # run; release them so later timings aren't skewed by cache
            # memory pressure (no-op for queries that cached nothing)
            release_cached_frames()
            _record_serve(name, reps[name][-1])
    timings: dict[str, float] = {name: _median(rs) for name, rs in reps.items()}

    # The reference's own workload: a 7-day medallion backfill
    # (bronze ingest → silver flatten → gold aggregates+join, all
    # layers written to disk). Hermetic fixture payloads, same data
    # volume as the reference's default config.
    from energy_data_pipeline_project_spark.pipeline.config import (
        PipelineConfig,
        default_datasets,
    )
    from energy_data_pipeline_project_spark.pipeline.runner import run_pipeline
    from energy_data_pipeline_project_spark.sources.fixtures import fixture_payloads
    from energy_data_pipeline_project_spark.sources.payloads import LocalJsonSource

    reps["pipeline_medallion_7d"] = []
    for _ in range(3):  # median-of-3, same steal-burst rationale as above
        lake = tempfile.mkdtemp(prefix="bench-lake-")
        try:
            cfg = PipelineConfig(
                lake_root=lake,
                start_date="2025-01-01",
                end_date="2025-01-07",
                datasets=default_datasets(),
            )
            days = [d.isoformat() for d in cfg.dates()]
            src = LocalJsonSource(fixture_payloads(days))
            t0 = time.perf_counter()
            run_pipeline(spark, cfg, src)
            reps["pipeline_medallion_7d"].append(
                round(time.perf_counter() - t0, 3)
            )
        finally:
            shutil.rmtree(lake, ignore_errors=True)
    timings["pipeline_medallion_7d"] = _median(reps["pipeline_medallion_7d"])
    drain_serve_log()  # keep medallion-run noise out of the first extra

    # One repetition rule for extras: each is timed once and that
    # first (cold) sample is the reported value, so extra_total keeps
    # its meaning round over round. An extra whose first sample is
    # >= EXTRA_REP_FLOOR_S is timed once more — the 2 s+ band is where
    # VM steal noise and plan regressions need telling apart — and the
    # second sample goes only to BENCH_DETAIL.json's extra_reps, for
    # attribution (for memo-backed queries it is the warm repeat, which
    # would flatter extra_total if it were reported).
    EXTRA_REP_FLOOR_S = 2.0
    extra: dict[str, float] = {}
    extra_reps: dict[str, list[float]] = {}

    def _time_extra(name: str) -> float:
        t0 = time.perf_counter()
        materialize(queries[name](spark, sf_dir))
        sample = round(time.perf_counter() - t0, 3)
        release_cached_frames()
        _record_serve(name, sample)
        return sample

    for name in EXTRA:
        extra[name] = _time_extra(name)
        if extra[name] >= EXTRA_REP_FLOOR_S:
            extra_reps[name] = [extra[name], _time_extra(name)]

    total = round(sum(timings.values()), 3)
    # Cold-build vs warm-serve segregation (r10 verdict #3): the first
    # sample of every store-consulting query, summed by serve state —
    # a round where artifact_cold_s is large paid training costs a
    # warm-store round wouldn't, and the per-query `served` map in
    # BENCH_DETAIL.json names which queries.
    _cold = [n for n, s in served.items() if s == "cold"]
    _warm = [n for n, s in served.items() if s == "warm"]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_total": round(sum(extra.values()), 3),
        "extra_count": len(extra),
        "artifact_cold_s": round(
            sum(first_sample.get(n, 0.0) for n in _cold), 3
        ),
        "artifact_cold_n": len(_cold),
        "artifact_warm_s": round(
            sum(first_sample.get(n, 0.0) for n in _warm), 3
        ),
        "artifact_warm_n": len(_warm),
        "calib": {"cpu_hash_200m": calib_cpu, "io_write_2m": calib_io},
        "sf": sf,
    }

    # Regression guard: BENCH_r01 is the self-established baseline
    # (the reference publishes no numbers — BASELINE.md). Per-query
    # ratios vs it go to BENCH_DETAIL.json; only the total ratio rides
    # on the stdout line.
    detail = {
        "extra_queries": extra,
        "headline_reps": reps,
        "extra_reps": extra_reps,
        "served": served,
        "served_kinds": served_kinds,
    }
    baseline_path = os.path.join(os.path.dirname(__file__), "BENCH_r01.json")
    try:
        with open(baseline_path) as f:
            base = json.load(f)["parsed"]["queries"]
        ratios = {
            q: round(t / base[q], 2)
            for q, t in timings.items()
            if base.get(q)
        }
        detail["vs_r01"] = ratios
        out["vs_r01_total"] = round(
            sum(timings[q] for q in ratios)
            / sum(base[q] for q in ratios),
            3,
        )
        # VM-normalized ratio (r08 verdict #7): round VMs differ up to
        # ~2x, so the raw ratio needs the calib probe folded in for
        # cross-round reads. BENCH_r01 predates the probes; the anchor
        # is the earliest recorded cpu probe (r03, 0.478s) as the
        # documented proxy for the baseline VM. adjusted = raw *
        # (anchor / now): a slower-than-anchor VM (probe > anchor)
        # deflates the raw ratio accordingly.
        if calib_cpu > 0:
            out["vs_r01_calib"] = round(
                out["vs_r01_total"] * (_CALIB_CPU_ANCHOR / calib_cpu), 3
            )
    # TypeError covers a baseline with "parsed": null (the documented
    # tail-truncation failure mode) — without it a bad baseline file
    # would crash AFTER the full run, losing every result (r06 review)
    except (OSError, KeyError, TypeError, ValueError, ZeroDivisionError):
        pass  # no baseline available (first round or format change)

    # Full per-query detail for the judge / future rounds. Kept OFF the
    # stdout JSON line: the driver captures only a bounded tail of
    # bench output, and BENCH_r02 proved a multi-KB line gets truncated
    # past parseability ("parsed": null). The one printed line stays
    # well under the tail window.
    try:
        with open(
            os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json"), "w"
        ) as f:
            json.dump({**out, **detail}, f, indent=1)
    except OSError:
        pass

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
