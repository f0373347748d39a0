"""Online similarity serving: stream of query vectors vs a static PQ
index, on the same engine that built the index.

The serving pattern for a 100 TB embedding store: the PQ index (code
frame + codebooks, built once by ``operators/pq._train_codes``) is a
static DataFrame; queries arrive as a stream; each micro-batch runs
the identical ADC-shortlist → exact-refine pipeline the batch query
(``ann_topk_pq``) runs, so online results match offline results
row-for-row (pinned by tests/test_streaming_serving.py). The
incoming query vectors are melted by the same integer-grid Lloyd step
that built the index (``operators/clustering.grid_melt``), and their
lookup tables come from its per-centroid distance step, so a query and
a corpus vector land on the grid identically.

Implementation note: top-k needs a ranking window, and ranking windows
are not allowed on unbounded streams (there is no watermark that
bounds "rank within query"). ``foreachBatch`` is the standard answer —
each micro-batch is a bounded DataFrame, so the full batch pipeline
(joins + window) applies verbatim, and the sink callback writes the
batch's results. State lives entirely in the static index; the stream
side is stateless, so replay/recovery follows the sink's idempotence
(here: the batch_id-partitioned sink, whose partition a redelivered
batch overwrites).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import grid_melt
from ..operators.pq import (
    PQ_SHORTLIST,
    PQ_SUBDIM,
    _melted,
    _refine_topk,
    _trained_m,
    adc_distances,
)
from .jobs import run_micro_batches


@dataclass
class PQIndex:
    """Static serving index: per-vector codes, the codebook those codes
    were assigned against, and the melted corpus grid for the refine
    stage (at scale the refine side reads the vector store by id; here
    it is the same melted frame)."""

    codes: DataFrame
    centroids: DataFrame
    corpus_melted: DataFrame


def build_pq_index(spark: SparkSession, sf_dir: str) -> PQIndex:
    # _trained_m is the tiered Lloyd chain the batch twins train
    # against (same melted frame, same PQ_TRAIN_SAMPLE cap), served by
    # artifacts.shared: session memo → published lake artifact →
    # training. The server therefore reads the SAME persisted index the
    # batch queries serve from — a cold serving process trains nothing
    # if any prior run published the chain. Bit-identical either way.
    codes, cent = _trained_m(spark, sf_dir)
    return PQIndex(
        codes=codes, centroids=cent, corpus_melted=_melted(spark, sf_dir)
    )


def _serve_batch(
    batch: DataFrame, index: PQIndex, *, queries_share_corpus_ids: bool = True
) -> DataFrame:
    """The batch ADC+refine pipeline applied to one micro-batch of
    (query_id, embedding) rows — literally the SAME code
    (pq.adc_distances + pq._refine_topk), not a maintained copy.

    ``queries_share_corpus_ids`` controls the self-match exclusion:
    the batch twin's queries ARE corpus vectors, so ``query_id ==
    neighbor_id`` is a self-match and is dropped (the pinned parity
    contract). A caller whose query_ids are EXTERNAL request ids must
    pass False — otherwise a corpus vector that merely shares the
    request's numeric id would be silently excluded from the top-k."""
    # grid_melt drops invalid INCOMING queries as it does corpus
    # vectors: a NaN/±Inf query element would overflow the ADC LUT
    # subtraction under ANSI and kill the whole stream, so a malformed
    # query degrades to "no answer for that request id" instead.
    qm = grid_melt(batch, "query_id", subdim=PQ_SUBDIM)
    adist = adc_distances(qm, index.codes, index.centroids)
    return _refine_topk(
        adist,
        qm,
        index.corpus_melted,
        PQ_SHORTLIST,
        exclude_self=queries_share_corpus_ids,
        qm_query_col="query_id",
    )


def serve_ann_stream(
    queries_stream: DataFrame,
    index: PQIndex,
    out_dir: str,
    checkpoint: str,
    *,
    queries_share_corpus_ids: bool = True,
):
    """Start the serving query: each micro-batch of (query_id,
    embedding) rows is answered against the static index and written
    to ``out_dir`` as a batch_id-partitioned parquet lake — the same
    idempotent sink every other foreachBatch handler in this package
    uses, so an at-least-once redelivery overwrites its own partition
    instead of appending duplicate answer rows. Returns the
    StreamingQuery."""
    from ..pipeline.lake import write_batch_partition

    def handle(batch: DataFrame, batch_id: int) -> None:
        write_batch_partition(
            _serve_batch(
                batch,
                index,
                queries_share_corpus_ids=queries_share_corpus_ids,
            ),
            out_dir,
            batch_id,
        )

    return run_micro_batches(queries_stream, handle, checkpoint)


def save_pq_index(index: PQIndex, path: str) -> None:
    """Persist the serving index to an EXPLICIT path: the code frame
    and its codebook. The refine-side vector store is the corpus
    itself and is NOT duplicated into the index (at 100 TB the index
    is the 4-byte/row artifact; vectors stay in their own table).

    Note: ``build_pq_index`` already persists through the shared
    content-addressed artifact store (pipeline/artifacts.py) — this
    pair exists for shipping an index to a location the store doesn't
    govern (another cluster's lake, an export)."""
    index.codes.write.mode("overwrite").parquet(f"{path}/codes")
    index.centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def load_pq_index(spark: SparkSession, path: str, sf_dir: str) -> PQIndex:
    """Load a saved index and re-attach the corpus vector store for
    the refine stage."""
    return PQIndex(
        codes=spark.read.parquet(f"{path}/codes"),
        centroids=spark.read.parquet(f"{path}/centroids"),
        corpus_melted=_melted(spark, sf_dir),
    )
