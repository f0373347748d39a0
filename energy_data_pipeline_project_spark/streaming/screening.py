"""Streaming ingest decontamination: screen arriving documents against
a static benchmark set before they enter the lake.

The production moment for ``dedup_contamination_bloom`` is not a batch
audit but ingest time — every crawl batch must be checked against the
held-out eval suites BEFORE it lands in training storage. This module
runs exactly that: the benchmark posting list and its broadcastable
m-bit Bloom image are built once from the static table; each arriving
micro-batch shingles its documents, discards ~all clean postings
map-side via the Bloom probe, exact-verifies the survivors against
the benchmark postings, and appends per-document contamination
verdicts. Batch-vs-stream parity is pinned row-for-row in
tests/test_streaming_screening.py.

foreachBatch again (same reasoning as streaming/serving.py): the
verdict needs per-document COUNT(DISTINCT ...) with a HAVING gate —
legal on the bounded micro-batch, not on the unbounded stream. The
stream side is stateless; the benchmark state is static.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.lake import write_batch_partition as _write_batch_partition
from ..operators.dedup import (
    _contamination_postings,
    _contamination_report,
    benchmark_keyed_docs,
    bloom_build,
    bloom_prefilter,
)
from ..sources.tables import load_table
from .jobs import run_micro_batches


def build_benchmark(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(bench postings, bloom words) from the static documents table —
    the once-per-release artifact the screen runs against."""
    docs = load_table(spark, sf_dir, "documents")
    _, bench = _contamination_postings(docs)
    bench = bench.localCheckpoint(eager=True)
    bloom = bloom_build(bench.select("h").distinct()).localCheckpoint(
        eager=True
    )
    return bench, bloom


def screen_batch(
    batch_docs: DataFrame,
    bench: DataFrame,
    bloom: DataFrame,
    *,
    carve_benchmark: bool = False,
) -> DataFrame:
    """One micro-batch of documents → contamination verdicts.

    The default screens EVERY arriving document — the correct posture
    for production crawl ingest, where nothing should silently bypass
    the screen. ``carve_benchmark=True`` replays the hermetic
    fixture's key-carve: benchmark-keyed documents appearing in the
    stream screen out of the corpus side (they ARE the benchmark —
    correct only when the replay contains the benchmark members
    themselves, as the parity fixtures do). As a default the carve
    would silently exempt the ~1/17 benchmark-keyed slice of real
    ingest from screening with no verdict and no skipped record; a
    dangerous mode must be opt-in. With a
    carve, ``skipped_benchmark_docs`` accounts for what the screen did
    not verdict."""
    corp, _ = _contamination_postings(batch_docs, carve=carve_benchmark)
    survivors = bloom_prefilter(corp, bloom)
    return _contamination_report(survivors.join(bench, "h"))


def skipped_benchmark_docs(batch_docs: DataFrame) -> DataFrame:
    """Doc ids the carving screen skips for a batch (benchmark-keyed
    arrivals); empty when ``carve_benchmark=False`` is in use."""
    return benchmark_keyed_docs(batch_docs)


def screen_stream(
    docs_stream: DataFrame,
    bench: DataFrame,
    bloom: DataFrame,
    out_dir: str,
    checkpoint: str,
    *,
    carve_benchmark: bool = False,
    skipped_dir: str | None = None,
):
    """Start the screening query: contamination verdicts for each
    arriving batch land in its ``batch_id`` partition of ``out_dir``
    (replay-idempotent). With a carving
    screen, ``skipped_dir`` (when given) receives the benchmark-keyed
    doc ids each batch skipped, so the verdict + skipped outputs
    together cover every arriving document."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        # batch_id-partitioned dynamic overwrite: a re-delivered batch
        # REPLACES its own verdict (and skipped) partitions instead of
        # appending, so at-least-once delivery cannot double-count a
        # batch's contamination rows (same idempotence carve as
        # streaming/trend.py and streaming/dedup_index.py)
        _write_batch_partition(
            screen_batch(
                batch, bench, bloom, carve_benchmark=carve_benchmark
            ),
            out_dir,
            batch_id,
        )
        if carve_benchmark and skipped_dir is not None:
            _write_batch_partition(
                skipped_benchmark_docs(batch), skipped_dir, batch_id
            )

    return run_micro_batches(docs_stream, handle, checkpoint)
