#!/usr/bin/env python
"""End-to-end corpus curation: the operator library composed as one
pipeline, the way a training-data team would actually run it.

    python examples/curate_corpus.py [sf_dir] [out_dir]

Stages (each an oracle-checked query from the engine surface):

1. quality funnel   — per-source survival through the heuristic
                      quality gates (corpus_quality_funnel)
2. near-dup resolve — MinHash-LSH pair graph over the QUALITY
                      SURVIVORS → connected components → keep the
                      best-scoring doc per duplicate family
                      (curation.keep_best_per_component)
3. span screen      — drop docs more than half covered by
                      cross-doc duplicated substring spans
                      (span_removal_frame — catches chained-template
                      docs that never pair doc-to-doc)
4. decontamination  — drop docs sharing >= 2 five-gram shingles with
                      the benchmark carve (dedup_contamination_bloom,
                      the broadcast-Bloom formulation) AND the
                      benchmark members themselves
5. split assignment — deterministic 90/5/5 hash split
                      (data_split_hash machinery)
6. sequence packing — greedy first-fit chunk packing into
                      fixed-token-budget training sequences
                      (chunk_pack_sequences)

Outputs a curated lake under ``out_dir``:
    curated/documents/   kept docs + split label (parquet)
    curated/sequences/   packed sequence manifest
    curated/report/      one-row-per-stage funnel counts

Everything is a Catalyst plan over the documents table — the script
is composition, not new computation; at 100 TB the same code runs
with a bigger session.
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_pipeline_project_spark.functions import hashing as H
from energy_data_pipeline_project_spark.operators import dedup, text
from energy_data_pipeline_project_spark.operators.curation import (
    keep_best_per_component,
)
from energy_data_pipeline_project_spark.session import get_spark_session
from energy_data_pipeline_project_spark.sources.tables import load_table


def curate(spark, sf_dir: str, out_dir: str) -> dict[str, int]:
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gates: keep docs the funnel's final stage keeps
    kept_q = text.quality_kept_docs(spark, sf_dir)
    kept_docs = docs.join(kept_q, "doc_id")
    n1 = kept_q.count()

    # 2. duplicate-family resolution OVER THE QUALITY SURVIVORS:
    # running keep-best on the raw corpus and intersecting afterwards
    # would silently drop whole families whose raw-corpus winner
    # failed a quality gate — dedup what survived, keep the best of
    # each surviving family
    # persisted: keep_best's lineage (funnel metrics + LSH + CC) feeds
    # n2, the span screen, the survivors anti-joins, AND the stage-5
    # write — unpersisted, the full-corpus tokenize/explode lineage
    # re-ran ~4x per curation (r08 review; released with
    # release_cached_frames below)
    keep_best = dedup._cached(
        keep_best_per_component(
            kept_docs,
            dedup.minhash_lsh_pairs(dedup._shingle_hashes(kept_docs)),
        ).select(F.col("kept_doc_id").alias("doc_id"))
    )
    n2 = keep_best.count()

    # 3. substring-span screen OVER THE DEDUP SURVIVORS: doc-level
    # keep-best removes whole near-duplicate docs, but a doc can still
    # be MOSTLY duplicated coverage (chained template partners) while
    # never pairing with any single doc — the Lee-et-al case. Drop
    # docs where duplicated spans cover more than half the tokens.
    # the screen needs only the cut BUDGET per doc — span coverage is
    # disjoint (merge_span_islands' conservation invariant), so
    # sum(span_tokens) per doc equals the removal pass's cut_tokens
    # without paying the token-level rebuild + md5 of the full
    # span_removal_frame
    survivors_docs = docs.join(keep_best, "doc_id")
    cut = (
        dedup.substring_spans_frame(survivors_docs)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("cut_tokens"))
    )
    # the engine's single tokenizer definition, NULL-coalesced: a
    # NULL-text doc must count 0 tokens (size(NULL) is -1, which
    # would fail the keep predicate and silently drop the doc from a
    # screen whose only job is span coverage — r06 review)
    sizes = survivors_docs.selectExpr(
        "doc_id",
        f"size(coalesce({H.tokens_sql('text', duck=False)}, array()))"
        " AS n_tokens",
    )
    span_ok = (
        sizes.join(cut, "doc_id", "left")
        .where(
            F.coalesce(F.col("cut_tokens"), F.lit(0)) * 2
            <= F.col("n_tokens")
        )
        .select("doc_id")
    )
    n2s = span_ok.count()

    # 4. decontamination: docs sharing benchmark shingles are dropped,
    # AND so are the benchmark members themselves (the carve excludes
    # them from the flagging side precisely because they ARE the
    # benchmark — a training corpus must not contain them either)
    flagged = dedup.QUERIES["dedup_contamination_bloom"](
        spark, sf_dir
    ).select("doc_id")
    bench_members = dedup.benchmark_keyed_docs(docs)
    survivors = dedup._cached(
        span_ok.join(flagged, "doc_id", "left_anti")
        .join(bench_members, "doc_id", "left_anti")
    )
    n3 = survivors.count()

    # 5. split assignment (deterministic hash buckets)
    curated = survivors.join(docs, "doc_id").withColumn(
        "split", F.expr(text.split_label_sql())
    )
    curated.write.mode("overwrite").parquet(f"{out_dir}/curated/documents")

    # 6. sequence packing over the CURATED documents only: the packed
    # sequences are the artifact a training job consumes, so dropped
    # duplicates / contaminated docs must not reappear here. The
    # curated parquet just written is READ BACK for the table layout
    # instead of re-executing the whole curation lineage a second
    # time (quality funnel + LSH + CC + span frame + contamination
    # anti-joins — r06 review).
    curated_sf = f"{out_dir}/curated_tables"
    spark.read.parquet(f"{out_dir}/curated/documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{curated_sf}/documents.parquet")
    seqs = text.QUERIES["chunk_pack_sequences"](spark, curated_sf)
    seqs.write.mode("overwrite").parquet(f"{out_dir}/curated/sequences")
    # the manifest is one row per DOC; the sequence count is the
    # number of distinct packs (r06 review: the row count merely
    # echoed stage 3's doc count)
    n_seq = (
        spark.read.parquet(f"{out_dir}/curated/sequences")
        .select("lang", "pack_id")
        .distinct()
        .count()
    )

    report = spark.createDataFrame(
        [
            ("0_raw", n0),
            ("1_quality", n1),
            ("2_dedup", n2),
            ("2s_span_clean", n2s),
            ("3_decontaminated", n3),
            ("4_sequences", n_seq),
        ],
        "stage string, n bigint",
    )
    report.write.mode("overwrite").parquet(f"{out_dir}/curated/report")
    dedup.release_cached_frames()
    return {r["stage"]: r["n"] for r in report.collect()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated-corpus"
    spark = get_spark_session(app_name="curate-corpus")
    counts = curate(spark, sf_dir, out_dir)
    for stage in sorted(counts):
        print(f"{stage:20s} {counts[stage]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
