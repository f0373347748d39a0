"""Streaming conversion funnel: mergeable per-user stage state.

The batch funnel (``warehouse.events_funnel_steps``) reduces to three
conditional ``MIN(unix_micros)`` columns per user — and MIN is
associative/commutative, so the streaming form is a keyed state table
merged per micro-batch: each batch contributes its own per-user
conditional mins, the state upsert keeps the elementwise least, and
the funnel report recomputes from state at any time. Replayed batches
re-apply the same mins → idempotent under at-least-once delivery, the
same effectively-once argument as ``medallion.write_stream_merge_to_lake``.

At scale the state table is one row per user (three longs) — the
smallest sufficient statistic for the report — merged by a keyed join
against batch-grain aggregates, never against raw events.

Batch-vs-stream parity is pinned row-for-row in
tests/test_streaming_funnel.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .jobs import run_micro_batches


def batch_user_mins(events: DataFrame) -> DataFrame:
    """Per-user conditional first-occurrence micros for one batch."""
    mic = F.expr("unix_micros(ts)")

    def first(evt: str, name: str):
        return F.min(F.when(F.col("event_type") == evt, mic)).alias(name)

    return events.groupBy("user_id").agg(
        first("view", "mv"), first("click", "mc"), first("purchase", "mp")
    )


def merge_state(state_path: str, batch_mins: DataFrame) -> None:
    """Elementwise-least merge of batch mins into the state table,
    published by ``lake.replace_table``. A crash leaves the last
    committed state recoverable, and because the MIN-merge is
    idempotent the re-delivered batch then reconverges — no silent
    state loss."""
    from ..pipeline.lake import read_for_rewrite, replace_table

    prior = read_for_rewrite(batch_mins.sparkSession, state_path)
    merged = batch_mins
    if prior is not None:
        merged = (
            prior.select("user_id", "mv", "mc", "mp")
            .unionByName(batch_mins)
            .groupBy("user_id")
            .agg(
                F.min("mv").alias("mv"),
                F.min("mc").alias("mc"),
                F.min("mp").alias("mp"),
            )
        )
    replace_table(merged, state_path)


def stream_funnel_state(
    events_stream: DataFrame, state_path: str, checkpoint: str
):
    """Start the stateful funnel: each arriving micro-batch folds its
    per-user mins into ``state_path``."""
    return run_micro_batches(
        events_stream,
        lambda b, _: merge_state(state_path, batch_user_mins(b)),
        checkpoint,
    )


def funnel_report(spark: SparkSession, state_path: str) -> DataFrame:
    """The 3-row funnel report from the state table — same schema and
    semantics as the batch ``events_funnel_steps``. Cold start (no
    non-empty batch processed yet) reports zero users, exactly as the
    batch query does on an empty events table; a state caught mid-swap
    reports its last committed counts."""
    from ..pipeline.lake import read_table_or_empty

    state = read_table_or_empty(
        spark, state_path, "user_id bigint, mv bigint, mc bigint, mp bigint"
    )
    tot = state.agg(
        F.count_if(F.col("mv").isNotNull()).alias("n1"),
        F.count_if(
            F.col("mv").isNotNull() & (F.col("mc") > F.col("mv"))
        ).alias("n2"),
        F.count_if(
            F.col("mv").isNotNull()
            & (F.col("mc") > F.col("mv"))
            & (F.col("mp") > F.col("mc"))
        ).alias("n3"),
    )
    return tot.selectExpr(
        "stack(3, "
        "'view', n1, CAST(1000 AS BIGINT), "
        "'view_click', n2, (n2 * 1000L) div NULLIF(n1, 0), "
        "'view_click_purchase', n3, (n3 * 1000L) div NULLIF(n2, 0)"
        ") AS (stage, n_users, conv_permille)"
    )
