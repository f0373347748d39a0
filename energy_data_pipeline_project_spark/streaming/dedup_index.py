"""Streaming near-dup screening with a growing LSH signature index.

The production shape of ``dedup.incremental_lsh_matches``: every
arriving micro-batch of documents is (1) signed (MinHash signatures),
(2) screened against everything indexed so far PLUS itself, and (3)
written into the index — so each near-dup pair is emitted exactly
once, when its LATER member arrives. Work per batch is
O(batch + collisions) against the banded index, never a corpus
re-pair; the index table holds K small ints per document.

Replay idempotence (at-least-once sources re-deliver batches): both
the signature index AND the verdict sink are ``batch_id=`` sinks
(``lake.write_batch_partition``), so a re-delivered batch REPLACES its
own partitions, and the cross-screen reads the index through the
lake's replay rule (``lake.read_earlier_batches``). Contrast
``streaming/funnel.py``, whose MIN state needs none.

Exactness contract (pinned in tests/test_streaming_dedup_index.py):
replaying a corpus through the stream in ANY batch partitioning yields
verdicts whose (least, greatest) pair set EQUALS the batch
``dedup_minhash_lsh`` pair set, PROVIDED no LSH bucket exceeds the
hot-bucket cap (true at test scale). Where a bucket crosses the cap
mid-stream the two formulations legitimately diverge: the batch run
drops the whole bucket, while the stream has already flagged the
bucket's early arrivals — the correct ingest-time behavior (early
duplicates of later-hot boilerplate were real duplicates when seen).
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..pipeline.lake import read_earlier_batches
from ..pipeline.lake import write_batch_partition as _write_batch_partition
from ..operators.dedup import (
    LSH_BUCKET_CAP,
    _minhash_signatures,
    _shingle_hashes,
    cross_matches_from_signatures,
    pairs_from_signatures,
)
from .jobs import run_micro_batches


def screen_and_index_batch(
    batch_docs: DataFrame,
    index_path: str,
    batch_id: int,
    *,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Screen one batch against the index + itself; write the batch's
    signatures into its index partition. Returns the verdict frame
    ``(doc_id, dup_of, est_jaccard)`` — ``dup_of`` is the previously
    seen (or same-batch, lower-id) near-duplicate. The frame reads the
    index's earlier partitions lazily: consume it before the index is
    written again."""
    spark = batch_docs.sparkSession
    sig_b = _minhash_signatures(_shingle_hashes(batch_docs))
    sig_b = sig_b.localCheckpoint(eager=True)

    within = pairs_from_signatures(sig_b, bucket_cap=bucket_cap).select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("dup_of"),
        "est_jaccard",
    )
    sig_i = read_earlier_batches(spark, index_path, batch_id)
    if sig_i is not None:
        # a re-ingested doc_id meets its own earlier signature in the
        # index — that is id-level re-arrival (the exact-dedup tier's
        # concern), not a near-dup verdict; drop the identity pairs
        cross = cross_matches_from_signatures(
            sig_b, sig_i, bucket_cap=bucket_cap
        ).where(F.col("doc_id") != F.col("dup_of"))
        verdicts = within.unionByName(cross)
    else:
        verdicts = within
    _write_batch_partition(sig_b, index_path, batch_id)
    return verdicts


def stream_dedup_index(
    docs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint: str,
    *,
    bucket_cap: int = LSH_BUCKET_CAP,
):
    """Start the ingest screen: per micro-batch verdicts land in their
    ``batch_id`` partition of ``verdicts_path``; the signature index
    grows at ``index_path``. Both writes are replayable."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        verdicts = screen_and_index_batch(
            batch, index_path, batch_id, bucket_cap=bucket_cap
        )
        _write_batch_partition(verdicts, verdicts_path, batch_id)

    return run_micro_batches(docs_stream, handle, checkpoint)
