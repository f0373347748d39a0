"""Streaming heavy hitters: sharded Misra-Gries in keyed state.

The streaming twin of ``operators/training.py::text_heavy_hitters``.
Tokens are hash-sharded (`pmod(xxhash64(token), N_SHARDS)`) so each
shard owns a DISJOINT slice of the token space; one Misra-Gries
summary (k counters) lives in the state store per shard and is folded
forward every micro-batch via ``mg_update`` — MG is one-pass, so
resuming from stored counters is literally the same algorithm as a
single pass over the concatenated stream. Because shards partition
tokens, no cross-shard merge step (and no merge-error term) exists:
each token's estimate keeps the per-shard contract
``true - n_shard/(k+1) <= est <= true`` for any arrival order, which
is what tests/test_streaming_sketch.py asserts against exact counts.

State is O(N_SHARDS × k) counters total — fixed by configuration, not
by vocabulary — so the query runs forever at any token volume; shard
count scales parallelism, k scales accuracy. Each batch emits the
shard's current summary tagged with the running token count
(``n_seen``), so the latest summary per shard is identifiable in
update-mode sinks without end-of-stream detection.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import hashing as H
from ..operators.training import HH_K, mg_update

N_SHARDS = 8

STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("token", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _mg_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (shard,) = key
    if state.exists:
        toks, cnts, n_seen = state.get
        counts = dict(zip(toks, cnts))
    else:
        counts, n_seen = {}, 0

    for pdf in batches:
        col = pdf["token"]
        n_seen += len(col)
        mg_update(counts, col, HH_K)

    state.update((list(counts), [int(c) for c in counts.values()], n_seen))
    yield pd.DataFrame(
        {
            "shard": shard,
            "token": list(counts),
            "est_count": [int(c) for c in counts.values()],
            "n_seen": n_seen,
        }
    )


def heavy_hitters_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming docs frame → per-shard MG summaries, re-emitted each
    micro-batch with the shard's running token count."""
    toks = docs.select(
        F.explode(F.expr(H.tokens_sql(text_col, duck=False))).alias("token")
    )
    sharded = toks.withColumn(
        "shard", F.pmod(F.xxhash64("token"), F.lit(N_SHARDS)).cast("bigint")
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _mg_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch (exact-grid fold)
# ---------------------------------------------------------------------------
# The streaming twin of ``operators/timeseries.py::cms_grid``. Unlike
# MG, the CMS grid itself is EXACT per cell (the approximation only
# appears at probe time, as the min over rehash rows), and cell counts
# are a commutative monoid — so folding micro-batch grids into keyed
# state reproduces the batch grid bit-for-bit for any arrival order or
# batch slicing, which the test asserts as full equality rather than
# an error bound. State: one counts[width] array per grid row
# (depth x width longs total — fixed by configuration), keyed by grid
# row. Depth bounds parallelism here; a wider deployment would key by
# (i, col block) to scale out without changing the fold.
from ..functions.hashing import CMS_WIDTH
from ..operators.timeseries import cms_cells, cms_hashed

CMS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

CMS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def fold_count_grid(
    state: GroupState,
    batches: Iterable[pd.DataFrame],
    width: int,
    col: str,
) -> tuple[list[int], int]:
    """Shared stateful fold for fixed-width integer count grids: resume
    ``(counts[width], n_seen)`` from state, add each micro-batch's
    ``value_counts`` over ``col``, persist, return the running pair.

    One implementation for both the CMS row fold and the PSI bucket
    fold (streaming/drift.py), so a fix to dtype/NaN handling lands
    once. ``value_counts`` skips NaN: NULL keys must be dropped (or
    clamped) UPSTREAM so ``n_seen`` matches the batch twin — both
    callers document how they guarantee that.
    """
    if state.exists:
        counts, n_seen = state.get
        counts = list(counts)
    else:
        counts, n_seen = [0] * width, 0
    for pdf in batches:
        n_seen += len(pdf)
        for v, c in pdf[col].value_counts().items():
            counts[int(v)] += int(c)
    state.update((counts, n_seen))
    return counts, n_seen


def _cms_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (i,) = key
    counts, n_seen = fold_count_grid(state, batches, CMS_WIDTH, "col")
    nonzero = [(c, cnt) for c, cnt in enumerate(counts) if cnt]
    yield pd.DataFrame(
        {
            "i": int(i),
            "col": [c for c, _ in nonzero],
            "cnt": [cnt for _, cnt in nonzero],
            "n_seen": n_seen,
        }
    )


def cms_stream(events: DataFrame, key_sql: str = "CAST(user_id AS STRING)") -> DataFrame:
    """Streaming events frame → per-grid-row CMS cell counts,
    re-emitted each micro-batch with the row's running item count.

    The cell projection is shared with the batch operator
    (``operators/timeseries.py::cms_cells``) so the hash family and
    rehash layout cannot drift between the twins."""
    # NULL keys hash to a NULL cell; drop them BEFORE the stateful fold
    # so n_seen matches what value_counts keeps (it skips NaN) and the
    # batch twin's bookkeeping (which excludes NULL keys from both).
    cells = cms_cells(cms_hashed(events, key_sql)).where(
        F.col("col").isNotNull()
    )
    return cells.groupBy("i").applyInPandasWithState(
        _cms_fn,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
