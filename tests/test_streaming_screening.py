"""Ingest-time decontamination: streamed verdicts must equal the batch
bloom-decontamination query row-for-row when the stream replays the
corpus (each doc's shingles stay within its arrival batch, so per-doc
verdicts are batch-local and the union over batches is exact)."""

from __future__ import annotations

from energy_data_pipeline_project_spark.operators.dedup import (
    dedup_contamination_bloom,
)
from energy_data_pipeline_project_spark.sources.tables import load_table
from energy_data_pipeline_project_spark.streaming.screening import (
    build_benchmark,
    screen_stream,
)

from .conftest import SF_SMOKE


def test_streamed_screening_matches_batch(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("docs-screen"))
    out = str(tmp_path_factory.mktemp("verdicts"))
    ckpt = str(tmp_path_factory.mktemp("screen-ckpt"))

    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(5).write.mode("overwrite").parquet(src)

    bench, bloom = build_benchmark(spark, SF_SMOKE)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # the fixture replay CONTAINS the benchmark members, so this
    # parity test opts into the carve (no longer the default - the
    # production-safe default screens everything)
    q = screen_stream(stream, bench, bloom, out, ckpt, carve_benchmark=True)
    q.awaitTermination()

    streamed = {
        r.doc_id: (r.n_shared_grams, r.n_bench_docs)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.doc_id: (r.n_shared_grams, r.n_bench_docs)
        for r in dedup_contamination_bloom(spark, SF_SMOKE).collect()
    }
    assert streamed == batch and batch, "verdict sets must match exactly"


def test_screening_accounts_for_every_arriving_doc(spark, tmp_path_factory):
    """A carving screen must not silently drop benchmark-keyed
    arrivals: verdicted ∪ skipped ∪ (screened-clean) partitions the
    batch. With carve_benchmark=False every arriving doc is screened
    (production crawl mode) — benchmark members then self-match."""
    from energy_data_pipeline_project_spark.streaming.screening import (
        screen_batch,
        skipped_benchmark_docs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    bench, bloom = build_benchmark(spark, SF_SMOKE)

    skipped = {r.doc_id for r in skipped_benchmark_docs(docs).collect()}
    carved = {
        r.doc_id
        for r in screen_batch(
            docs, bench, bloom, carve_benchmark=True
        ).collect()
    }
    assert skipped, "fixture carve must be non-empty"
    assert not (carved & skipped), "carved screen never verdicts benchmark docs"

    # an omitted carve_benchmark screens everything, as explicit False
    full = {r.doc_id for r in screen_batch(docs, bench, bloom).collect()}
    explicit = {
        r.doc_id
        for r in screen_batch(
            docs, bench, bloom, carve_benchmark=False
        ).collect()
    }
    assert full == explicit
    # un-carved screening sees benchmark members self-match, and never
    # loses a verdict the carved screen produced
    assert carved <= full
    assert skipped <= full, "benchmark members self-match when not carved"
