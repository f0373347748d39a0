"""Scale smoke: run the heavy operators on a 20×-replicated derived
corpus (≈200k events, 10k documents) laid out like a testdata sf dir.

Guards against super-linear blowups (a quadratic pair space or a
collapsed single-partition stage turns this from seconds into minutes)
and verifies the dedup operators actually find the duplicates that
replication plants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from energy_data_pipeline_project_spark.operators import dedup, relational
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_CORRECT

N_COPIES = 20


@pytest.fixture(scope="module")
def big_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sf-big"))
    copies = spark.range(N_COPIES).select(F.col("id").alias("copy"))

    ev = load_table(spark, SF_CORRECT, "events")
    (
        ev.crossJoin(copies)
        .select(
            (F.col("event_id") + F.col("copy") * 10_000_000).alias("event_id"),
            "ts",
            # disjoint user cohorts per copy → per-user session structure
            # identical to the base corpus
            (F.col("user_id") + F.col("copy") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(f"{root}/events.parquet")
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * 10_000_000).alias("doc_id"),
            "text",  # exact duplicates across copies, planted on purpose
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(f"{root}/documents.parquet")
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * 10_000_000).alias("vec_id"),
            "embedding",
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{root}/embeddings.parquet")
    )
    return root


def test_sessionize_scales_linearly_in_output(spark, big_dir):
    out = relational.QUERIES["events_sessionize"](spark, big_dir)
    base = relational.QUERIES["events_sessionize"](spark, SF_CORRECT)
    assert out.count() == N_COPIES * base.count()
    # replicated cohorts must reproduce the base session structure
    total = out.agg(F.sum("n_sessions")).first()[0]
    base_total = base.agg(F.sum("n_sessions")).first()[0]
    assert total == N_COPIES * base_total


def test_exact_dedup_finds_planted_duplicates(spark, big_dir):
    out = dedup.QUERIES["dedup_exact"](spark, big_dir)
    rows = out.collect()
    assert len(rows) == 500  # distinct texts unchanged
    assert all(r["n_copies"] == N_COPIES for r in rows)


def test_minhash_lsh_on_10k_docs(spark, big_dir):
    out = dedup.QUERIES["dedup_minhash_lsh"](spark, big_dir)
    n = out.count()
    # every planted copy-pair is an exact near-dup: C(20,2) per text
    planted = 500 * N_COPIES * (N_COPIES - 1) // 2
    assert n >= planted
    # and the candidate space stayed bucket-bounded, not O(n²)/2 ≈ 50M
    assert n < planted * 2

def test_novelty_attributes_all_shingles_to_base_copies(spark, big_dir):
    """On the replicated corpus every shingle's first owner is a base
    (copy-0) document — replica ids are offset by +10M — so replicas
    must score zero novelty while the output still covers all docs."""
    from energy_data_pipeline_project_spark.operators import text

    out = text.QUERIES["text_ngram_novelty"](spark, big_dir)
    rows = out.collect()
    assert len(rows) == 500 * N_COPIES
    novel_owners = {r["doc_id"] for r in rows if r["n_novel"] > 0}
    assert novel_owners and all(d < 10_000_000 for d in novel_owners)
    replicas = [r for r in rows if r["doc_id"] >= 10_000_000]
    assert replicas and all(r["n_novel"] == 0 for r in replicas)


def test_components_collapse_planted_clique_families(spark, big_dir):
    """Connected components over the replicated corpus: each planted
    20-copy family lands in ONE component whose representative (min
    label) is its base document."""
    from energy_data_pipeline_project_spark.operators import dedup as dd

    docs = load_table(spark, big_dir, "documents")
    try:
        comps = dd.duplicate_components(
            docs, dd.minhash_lsh_pairs(dd._shingle_hashes(docs))
        )
        rows = comps.where(F.col("component_size") >= N_COPIES).collect()
    finally:
        dd.release_cached_frames()
    assert len(rows) >= 500 * N_COPIES  # every planted family captured
    assert all(r["component_id"] < 10_000_000 for r in rows)


def test_heavy_hitters_on_10k_docs(spark, big_dir):
    """MG sketch cost is O(tokens) map-side + O(partitions×k) merged
    rows — the 20× corpus must stay seconds, and the 20× replication
    must scale the surviving estimates ~20× vs the base corpus."""
    from energy_data_pipeline_project_spark.operators import training

    big = {
        r["token"]: r["est_count"]
        for r in training.QUERIES["text_heavy_hitters"](spark, big_dir).collect()
    }
    assert len(big) == training.HH_TOP
    base = {
        r["token"]: r["est_count"]
        for r in training.QUERIES["text_heavy_hitters"](spark, SF_CORRECT).collect()
    }
    shared = set(big) & set(base)
    assert shared, "top tokens should overlap across scales"
    # underestimates can lag, but ≥ the base-scale estimate always
    assert all(big[t] >= base[t] for t in shared)


def test_split_leakage_audit_on_10k_docs(spark, big_dir):
    """The leakage audit rides the capped LSH pair frame — finishing
    on the 20×-replicated corpus (where every text has C(20,2) planted
    pairs) is the no-quadratic-blowup check; replicas share the base
    doc's split only when their hash agrees, so cross-split buckets
    must appear."""
    from energy_data_pipeline_project_spark.operators import training

    rows = training.QUERIES["split_leakage_audit"](spark, big_dir).collect()
    assert rows
    leaking = [r for r in rows if r["split_a"] != r["split_b"]]
    assert leaking, "replicated families must straddle hash splits"
    planted = 500 * N_COPIES * (N_COPIES - 1) // 2
    assert sum(r["n_pairs"] for r in rows) >= planted


def test_pq_codes_on_10k_vectors(spark, big_dir):
    """PQ training + encoding on the 20× embedding store: one code row
    per vector, and replicated vectors must encode identically to
    their base copy (same codebooks, same subvectors)."""
    from energy_data_pipeline_project_spark.operators import pq

    rows = pq.QUERIES["embedding_pq_codes"](spark, big_dir).collect()
    assert len(rows) == 500 * N_COPIES
    keys = {r["vec_id"]: r["code_key"] for r in rows}
    base_ids = [v for v in keys if v < 10_000_000]
    assert base_ids and all(
        keys[b + 10_000_000] == keys[b] for b in base_ids
    )


def test_linear_probe_on_10k_docs(spark, big_dir):
    """Composed-GD training on the 20× corpus: the mean-gradient
    update is scale-invariant under exact replication ((20s) div (20n)
    = s div n — same rational, same truncation), so the learned
    weights must equal the base corpus's bit-for-bit while the summed
    loss scales exactly 20×."""
    from energy_data_pipeline_project_spark.operators import training

    big = {r["iter"]: r for r in
           training.QUERIES["train_linear_probe"](spark, big_dir).collect()}
    base = {r["iter"]: r for r in
            training.QUERIES["train_linear_probe"](spark, SF_CORRECT).collect()}
    assert set(big) == set(base) == {1, 2}
    for i in (1, 2):
        for w in ("w_bias", "w_ntoks", "w_ndist"):
            assert big[i][w] == base[i][w], (i, w)
        assert big[i]["sum_sq_err"] == N_COPIES * base[i]["sum_sq_err"]


def test_ann_topk_pq_on_10k_vectors(spark, big_dir):
    """PQ ADC + exact refine on the 20× embedding store: every query
    vector has 19 identical replicas, so each query's nearest
    neighbor must be found at exact distance 0 — the recall guarantee
    that matters for the serving path — and the output stays exactly
    N_QUERY×TOP_K (no quadratic candidate blowup)."""
    from energy_data_pipeline_project_spark.operators import pq
    from energy_data_pipeline_project_spark.operators.similarity import (
        N_QUERY_VECS,
        TOP_K,
    )

    rows = pq.QUERIES["ann_topk_pq"](spark, big_dir).collect()
    assert len(rows) == N_QUERY_VECS * TOP_K
    best = {}
    for r in rows:
        if r["rank"] == 1:
            best[r["query_id"]] = r["dist_sq"]
    assert len(best) == N_QUERY_VECS
    assert all(d == 0 for d in best.values()), "replicas are exact matches"


def test_screening_on_10k_docs(spark, big_dir):
    """The ingest screen against the 20×-replicated corpus: postings
    stay (doc, 8-byte hash) shaped, and every family containing a
    benchmark-keyed copy gets its sibling copies flagged (identical
    text ⇒ all grams shared). Verdicted and skipped sets must be
    disjoint and cover every benchmark-keyed arrival."""
    from energy_data_pipeline_project_spark.streaming.screening import (
        build_benchmark,
        screen_batch,
        skipped_benchmark_docs,
    )

    docs = load_table(spark, big_dir, "documents")
    bench, bloom = build_benchmark(spark, big_dir)
    # the replicated corpus CONTAINS the benchmark members - this is
    # the carving-screen scenario (opt-in since r08; the default
    # screens everything)
    verdicts = screen_batch(
        docs, bench, bloom, carve_benchmark=True
    ).collect()
    assert verdicts, "replicated benchmark families must contaminate"
    flagged = {r["doc_id"] for r in verdicts}
    skipped = {r["doc_id"] for r in skipped_benchmark_docs(docs).collect()}
    assert skipped and not (flagged & skipped)


def test_ann_topk_ivfpq_on_10k_vectors(spark, big_dir):
    """IVF-PQ on the 20× store: replicas carry their base copy's
    label, so coarse cells are label-stable and every query's exact
    replica set lives in its probed home cell — rank-1 must land at
    distance 0, output exactly N_QUERY×TOP_K."""
    from energy_data_pipeline_project_spark.operators import pq
    from energy_data_pipeline_project_spark.operators.similarity import (
        N_QUERY_VECS,
        TOP_K,
    )

    rows = pq.QUERIES["ann_topk_ivfpq"](spark, big_dir).collect()
    assert len(rows) == N_QUERY_VECS * TOP_K
    best = {r["query_id"]: r["dist_sq"] for r in rows if r["rank"] == 1}
    assert len(best) == N_QUERY_VECS
    assert all(d == 0 for d in best.values())


def test_funnel_on_200k_events(spark, big_dir):
    """Disjoint user cohorts per copy ⇒ every funnel stage count is
    exactly 20× the base corpus; permille conversions are invariant
    ((20·n2·1000) div (20·n1) = (n2·1000·20) div (20·n1) — same
    rational, same truncation)."""
    from energy_data_pipeline_project_spark.operators import warehouse

    big = {r["stage"]: r for r in
           warehouse.QUERIES["events_funnel_steps"](spark, big_dir).collect()}
    base = {r["stage"]: r for r in
            warehouse.QUERIES["events_funnel_steps"](spark, SF_CORRECT).collect()}
    for stage in base:
        assert big[stage]["n_users"] == N_COPIES * base[stage]["n_users"]
        assert big[stage]["conv_permille"] == base[stage]["conv_permille"]


def test_ewma_on_200k_events(spark, big_dir):
    """Replication multiplies every day total by 20, and the EWMA is
    linear with weight sums unchanged — so each smoothed value must be
    exactly 20× the base value (rational weights cancel: the scaled
    numerator is 20·swx, denominator sw identical, and
    (20·swx·1000) div sw = 20·((swx·1000) div sw) only when exact —
    which holds because swx·1000 here is divisible; assert the
    by-construction relation swx_big = 20·swx_base via the output)."""
    from energy_data_pipeline_project_spark.operators import timeseries

    q = timeseries.QUERIES["events_ewma_trend"]
    big = {(r["event_type"], r["d"]): r for r in q(spark, big_dir).collect()}
    base = {(r["event_type"], r["d"]): r for r in q(spark, SF_CORRECT).collect()}
    assert set(big) == set(base)
    mism = 0
    for k, b in base.items():
        assert big[k]["day_cents"] == N_COPIES * b["day_cents"]
        # truncation of (20·swx·1000) div sw can differ from
        # 20·((swx·1000) div sw) by at most 19 fixed-point units
        if abs(big[k]["ewma_millicents"] - N_COPIES * b["ewma_millicents"]) > 19:
            mism += 1
    assert mism == 0


def test_lm_backoff_invariant_under_replication(spark, big_dir):
    """Replica ids offset by 10M (even), so the doc-parity train split
    replicates with the corpus: every count scales by exactly 20 and
    integer division cancels the factor — floor(20a/20b) == floor(a/b)
    — so each replica's (n_bigrams, n_unseen, lm_avg_milli) must equal
    its base doc's row bit-for-bit."""
    from energy_data_pipeline_project_spark.operators import text

    q = text.QUERIES["text_lm_backoff_score"]
    base = {r["doc_id"]: r for r in q(spark, SF_CORRECT).collect()}
    big = q(spark, big_dir).collect()
    assert len(big) == N_COPIES * len(base)
    for r in big:
        b = base[r["doc_id"] % 10_000_000]
        assert r["n_bigrams"] == b["n_bigrams"]
        assert r["n_unseen"] == b["n_unseen"]
        assert r["lm_avg_milli"] == b["lm_avg_milli"]


def test_substring_spans_on_replicated_corpus(spark, big_dir):
    """Replication makes every >= G-token document an exact duplicate,
    so EVERY gram is duplicated and each such doc must collapse to ONE
    span covering tokens 1..n — the planted-duplicate ground truth.
    Also the no-quadratic guard: 10k docs with 20 copies each stays
    seconds because the op never forms doc pairs."""
    from energy_data_pipeline_project_spark.operators.dedup import (
        SPAN_GRAM,
        dedup_substring_spans,
    )

    n_toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_CORRECT, "documents")
        .selectExpr(
            "doc_id",
            "size(filter(split(text, ' '), x -> x != '')) AS n",
        )
        .collect()
    }
    eligible = {d for d, n in n_toks.items() if n >= SPAN_GRAM}
    spans = dedup_substring_spans(spark, big_dir).collect()
    by_doc: dict[int, list] = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == N_COPIES * len(eligible)
    for doc_id, rs in by_doc.items():
        n = n_toks[doc_id % 10_000_000]
        assert len(rs) == 1, (doc_id, rs)
        assert rs[0]["start_tok"] == 1 and rs[0]["end_tok"] == n
        assert rs[0]["max_df"] >= N_COPIES


def test_concurrency_sweep_replication_identity(spark, big_dir):
    """Disjoint user cohorts replicate every session interval 20x, so
    per day: segments and peak concurrency scale by exactly N_COPIES
    while the covered union length is UNCHANGED (identical intervals
    add no new covered time). A super-linear pair space or a broken
    midnight split would break one of the three identities."""
    from energy_data_pipeline_project_spark.operators.timeseries import (
        events_concurrency_sweep,
    )

    base = {
        r.d: (r.n_segments, r.peak_concurrent, r.covered_seconds)
        for r in events_concurrency_sweep(spark, SF_CORRECT).collect()
    }
    big = {
        r.d: (r.n_segments, r.peak_concurrent, r.covered_seconds)
        for r in events_concurrency_sweep(spark, big_dir).collect()
    }
    assert set(big) == set(base)
    for d, (n, peak, cov) in base.items():
        bn, bpeak, bcov = big[d]
        assert bn == N_COPIES * n
        assert bpeak == N_COPIES * peak
        assert bcov == cov


def test_countmin_one_sided_on_200k_events(spark, big_dir):
    """The sketch contract survives 20x volume in bounded time: grid
    size stays depth x width, estimates stay one-sided."""
    from energy_data_pipeline_project_spark.functions.hashing import (
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from energy_data_pipeline_project_spark.operators.timeseries import (
        cms_grid,
        cms_hashed,
        events_countmin_heavy,
    )

    ev = load_table(spark, big_dir, "events")
    grid = cms_grid(cms_hashed(ev))
    assert grid.count() <= CMS_DEPTH * CMS_WIDTH
    total = grid.where(F.col("i") == 0).agg(F.sum("cnt")).collect()[0][0]
    assert total == ev.count()  # every row lands in every grid row once
    for r in events_countmin_heavy(spark, big_dir).collect():
        assert r.est_count >= r.exact_count


def test_feature_backfill_replicas_get_identical_features(spark, big_dir):
    """Every user cohort replays the same history, so each base
    label's 20 replicas must backfill bit-identical features — the
    point-in-time frames cannot leak across cohorts."""
    from energy_data_pipeline_project_spark.operators.training import (
        training_feature_backfill,
    )

    feats = training_feature_backfill(spark, big_dir)
    distinct_per_base = (
        feats.groupBy((F.col("label_id") % 10_000_000).alias("base_id"))
        .agg(
            F.countDistinct(
                "label_cents",
                "clicks_7d",
                "views_7d",
                F.coalesce("last_cart_cents", F.lit(-1)),
                F.coalesce("days_since_first", F.lit(-1)),
            ).alias("variants"),
            F.count("*").alias("replicas"),
        )
        .collect()
    )
    assert distinct_per_base
    for r in distinct_per_base:
        assert r.variants == 1
        assert r.replicas == N_COPIES
