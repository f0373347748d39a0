"""Streaming substring-span screening with a growing gram index.

The ingest-time twin of ``dedup.dedup_substring_spans``: every arriving
micro-batch of documents is gram-hashed, screened for positions whose
G-token window already exists in the corpus (indexed earlier, or in a
lower-id same-batch doc), merged into maximal spans, and the batch's
NEW grams are appended to the index. Work per batch is
O(batch grams + collisions); the corpus is never re-grammed.

Attribution contract (first-owner): a position is flagged on the doc
that MAKES the window a duplicate — the gram's first owner is never
flagged. Delivered in doc_id order this equals the batch-derivable
reference ``MIN(doc_id) over gram < doc_id`` (same attribution rule as
``text_ngram_novelty``'s first-owner notion), which the parity test
pins. The batch op flags BOTH members (df >= 2); at ingest time the
earlier copy was original when it arrived — the same deliberate
divergence documented for the LSH index twin.

Replay idempotence: the gram index and the span sink are ``batch_id=``
sinks (``lake.write_batch_partition``), and the screen reads the index
through the lake's replay rule (``lake.read_earlier_batches``), as
``streaming/dedup_index.py`` does.

Index state: one row per DISTINCT gram hash (h, owner) — smaller than
the postings frame, and bounded by corpus vocabulary of G-grams. At
100 TB you'd shard it by ``h`` range and bucket-join; here the screen
is a plain equi-join on h.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.dedup import merge_span_islands, span_gram_frame
from ..pipeline.lake import read_earlier_batches
from ..pipeline.lake import write_batch_partition as _write_batch_partition
from .jobs import run_micro_batches


def screen_and_index_span_batch(
    batch_docs: DataFrame, index_path: str, batch_id: int
) -> DataFrame:
    """Screen one batch against the gram index + itself; append the
    batch's first-sighted grams to its index partition. Returns the
    span frame ``(doc_id, span_id, start_tok, end_tok, span_tokens,
    n_grams)`` for positions duplicated at arrival time. The frame reads
    the index's earlier partitions lazily: consume it before the index
    is written again."""
    spark = batch_docs.sparkSession
    g = span_gram_frame(batch_docs).localCheckpoint(eager=True)

    # within-batch: min-id owner per gram; later ids are flagged
    own_b = g.groupBy("h").agg(F.min("doc_id").alias("owner"))
    idx = read_earlier_batches(spark, index_path, batch_id)

    if idx is not None:
        # ONE index scan per batch: the left join gives both the
        # effective owner (indexed owner if the gram is old, else the
        # batch's min id — identity re-arrival keeps owner == doc and
        # stays unflagged, as in the LSH twin) AND the new-gram set
        # (prev IS NULL), instead of a join + a second anti-join scan
        joined = own_b.join(
            idx.withColumnRenamed("owner", "prev"), "h", "left"
        ).localCheckpoint(eager=True)
        owners = joined.select(
            "h", F.coalesce("prev", "owner").alias("owner")
        )
        new_grams = joined.where(F.col("prev").isNull()).select(
            "h", "owner"
        )
    else:
        owners = own_b
        new_grams = own_b

    flagged = (
        g.join(owners, "h")
        .where(F.col("owner") != F.col("doc_id"))
        .select("doc_id", "pos")
    )
    spans = merge_span_islands(flagged)
    _write_batch_partition(new_grams, index_path, batch_id)
    return spans


def stream_span_index(
    docs_stream: DataFrame,
    index_path: str,
    spans_path: str,
    checkpoint: str,
):
    """Start the ingest screen: per-batch duplicated-coverage spans
    land in their ``batch_id`` partition of ``spans_path``; the gram
    index grows at ``index_path``. Both writes are replayable."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        spans = screen_and_index_span_batch(batch, index_path, batch_id)
        _write_batch_partition(spans, spans_path, batch_id)

    return run_micro_batches(docs_stream, handle, checkpoint)
