"""Semantic pins for the round-3 warehouse/retrieval tier, beyond the
oracle hash gate: the invariants a reader would check by hand."""

from __future__ import annotations

from energy_data_pipeline_project_spark.operators import all_queries

from .conftest import SF_SMOKE

Q = all_queries()


def test_cdc_change_types_match_modular_carving(spark):
    rows = Q["cdc_snapshot_diff"](spark, SF_SMOKE).collect()
    by_type: dict[str, set[int]] = {"insert": set(), "delete": set(), "update": set()}
    for r in rows:
        by_type[r["change_type"]].add(r["o_orderkey"])
    # inserts are exactly the %97 keys that survived the %89 delete carve
    assert all(k % 97 == 0 and k % 89 != 0 for k in by_type["insert"])
    assert all(k % 89 == 0 and k % 97 != 0 for k in by_type["delete"])
    # updates are the +5.00 mutation keys present in both snapshots
    assert all(
        k % 7 == 0 and k % 89 != 0 and k % 97 != 0 for k in by_type["update"]
    )
    for r in rows:
        if r["change_type"] == "update":
            assert r["new_cents"] - r["old_cents"] == 500


def test_dau_mau_invariants(spark):
    rows = Q["events_dau_mau"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # the 28-day window always contains the day itself
        assert r["mau"] >= r["dau"]
        assert 0.0 <= r["stickiness"] <= 1.0


def test_incremental_maintenance_partitions_are_disjoint(spark):
    from energy_data_pipeline_project_spark.operators.warehouse import (
        _MAINT_CUTOFF,
    )
    import datetime as dt

    cutoff = dt.date.fromisoformat(_MAINT_CUTOFF)
    out = Q["agg_incremental_maintenance"](spark, SF_SMOKE).collect()
    days = {r["ship_date"] for r in out}
    # the merged result covers days on BOTH sides of the cutoff — i.e.
    # the test corpus actually exercises base + delta, not one branch
    assert any(d < cutoff for d in days) and any(d >= cutoff for d in days)


def test_bm25_topk_docs_contain_query_terms(spark):
    from energy_data_pipeline_project_spark.operators.text import BM25_TERMS
    from energy_data_pipeline_project_spark.sources.tables import load_table

    rows = Q["text_bm25_topk"](spark, SF_SMOKE).collect()
    assert rows
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    for r in rows:
        assert r["score"] > 0
        toks = set(texts[r["doc_id"]].split())
        assert r["n_terms"] == sum(1 for t in BM25_TERMS if t in toks)


def test_lsh_eval_confusion_counts_are_consistent(spark):
    from energy_data_pipeline_project_spark.operators.dedup import (
        _shingle_hashes,
        release_cached_frames,
        shingle_jaccard_pairs,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    try:
        row = Q["dedup_lsh_quality_eval"](spark, SF_SMOKE).collect()[0]
        docs = load_table(spark, SF_SMOKE, "documents")
        n_truth = shingle_jaccard_pairs(_shingle_hashes(docs)).count()
    finally:
        release_cached_frames()
    assert row["tp"] + row["fn"] == n_truth
    assert row["tp"] >= 0 and row["fp"] >= 0 and row["fn"] >= 0


def test_seasonal_decompose_day_counts_cover_series(spark):
    rows = Q["events_seasonal_decompose"](spark, SF_SMOKE).collect()
    per_type: dict[str, int] = {}
    for r in rows:
        assert 0 <= r["dow"] <= 6
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + r["n_days"]
    # every series' dow cells must sum to its observed (type, day)
    # count — no day double-counted or dropped by the dow bucketing
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    want = (
        ev.select("event_type", F.to_date("ts").alias("d")).distinct().count()
    )
    assert sum(per_type.values()) == want


def test_backlog_aging_buckets_bounded(spark):
    from energy_data_pipeline_project_spark.operators.warehouse import (
        _AGING_MAX_BUCKET,
    )

    rows = Q["orders_backlog_aging"](spark, SF_SMOKE).collect()
    assert rows
    assert all(0 <= r["age_bucket"] <= _AGING_MAX_BUCKET for r in rows)


def test_rfm_scores_reproduce_rubric(spark):
    from energy_data_pipeline_project_spark.operators.warehouse import (
        _RFM_F,
        _RFM_M,
        _RFM_R,
    )

    def band(v, cuts, *, asc):
        for score, cut in zip((4, 3, 2), cuts):
            if (v <= cut) if asc else (v >= cut):
                return score
        return 1

    rows = Q["orders_rfm_segments"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["r_score"] == band(r["r_days"], _RFM_R, asc=True)
        assert r["f_score"] == band(r["n_orders"], _RFM_F, asc=False)
        assert r["m_score"] == band(r["m_cents"], _RFM_M, asc=False)


# ---------------------------------------------------------------------------
# Round-4 operator invariants
# ---------------------------------------------------------------------------
def test_funnel_is_monotone(spark):
    from energy_data_pipeline_project_spark.operators.warehouse import (
        QUERIES as WQ,
    )

    rows = {r["stage"]: r for r in
            WQ["events_funnel_steps"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"view", "view_click", "view_click_purchase"}
    n1, n2, n3 = (rows[s]["n_users"] for s in
                  ("view", "view_click", "view_click_purchase"))
    assert n1 >= n2 >= n3 >= 0 and n1 > 0
    assert rows["view"]["conv_permille"] == 1000


def test_ewma_constant_series_is_exact(spark, tmp_path):
    """On a constant daily series the truncated EWMA must reproduce the
    constant exactly (weights cancel: (x*sw*1000) div sw == x*1000) —
    the fixed-point-exactness property the rational-alpha design
    guarantees."""
    import datetime

    from energy_data_pipeline_project_spark.operators.timeseries import (
        QUERIES as TQ,
    )

    rows = [
        (i, datetime.datetime(2024, 1, 1 + d, 12, 0, 0), 7, "steady", 42.0,
         "{}")
        for d, i in enumerate(range(20))
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = TQ["events_ewma_trend"](spark, sf).collect()
    assert len(out) == 20
    assert all(r["ewma_millicents"] == 4200 * 1000 for r in out)
