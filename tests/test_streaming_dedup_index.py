"""Streaming LSH ingest index: replaying the corpus through the
stream must emit exactly the batch dedup_minhash_lsh pair set (as
(least, greatest) pairs with identical jaccard estimates), each pair
once — signatures are deterministic, the index accumulates, and every
pair is caught when its later member arrives."""

from __future__ import annotations

from energy_data_pipeline_project_spark.operators import dedup
from energy_data_pipeline_project_spark.sources.tables import load_table
from energy_data_pipeline_project_spark.streaming.dedup_index import (
    stream_dedup_index,
)

from .conftest import SF_SMOKE


def test_streamed_index_matches_batch_pairs(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("docs-ingest"))
    index = str(tmp_path_factory.mktemp("lsh-index")) + "/sig"
    verdicts = str(tmp_path_factory.mktemp("verdicts")) + "/v"
    ckpt = str(tmp_path_factory.mktemp("ingest-ckpt"))

    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = stream_dedup_index(stream, index, verdicts, ckpt)
    q.awaitTermination()

    streamed = {
        (min(r.doc_id, r.dup_of), max(r.doc_id, r.dup_of), r.est_jaccard)
        for r in spark.read.parquet(verdicts).collect()
    }
    try:
        batch = {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in dedup.minhash_lsh_pairs(
                dedup._shingle_hashes(docs)
            ).collect()
        }
    finally:
        dedup.release_cached_frames()
    assert streamed == batch and batch, (
        len(streamed), len(batch), list(streamed ^ batch)[:5]
    )
    # index holds one signature row per document
    assert spark.read.parquet(index).count() == docs.count()

    # replay: re-deliver one batch with the same batch_id — the index
    # partition is REPLACED (not appended), the cross-screen excludes
    # the batch's own first-attempt signatures (no self-matches), and
    # the verdicts for that batch are identical to any prior attempt
    from energy_data_pipeline_project_spark.streaming.dedup_index import (
        screen_and_index_batch,
    )

    some = docs.where("doc_id % 10 = 3")
    v1 = {
        (r.doc_id, r.dup_of, r.est_jaccard)
        for r in screen_and_index_batch(some, index, 999).collect()
    }
    v2 = {
        (r.doc_id, r.dup_of, r.est_jaccard)
        for r in screen_and_index_batch(some, index, 999).collect()
    }
    assert v1 == v2
    assert all(a != b for a, b, _ in v1), "no self-matches on replay"
    assert (
        spark.read.parquet(index).count() == docs.count() + some.count()
    ), "replayed partition must replace, not append"
