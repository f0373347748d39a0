"""Streaming drift screen: fold arriving orders into the PSI bucket
grid and score each micro-batch against a pinned reference
distribution.

The streaming twin of ``operators/warehouse.py::dq_distribution_drift``
for the serve path: the reference (pre-split) bucket counts are
computed ONCE batch-side and pinned into the job; the stream folds the
arriving (post-split) population's bucket counts into keyed state —
exact integer counts, a commutative monoid like the CMS grid, so the
fold equals the batch counts bit-for-bit for any batch slicing (the
test asserts full equality). Each micro-batch re-emits the grid with
the running total PSI and the 0.25 action-threshold alert flag.

State is one counts[PSI_BUCKETS] vector (16 longs) in a single state
group — fixed by configuration; a wider grid would shard the state by
bucket block exactly like the CMS twin notes. The PSI float rides the
output for operators to alert on; the deterministic contract is the
integer grid, not the float.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.warehouse import (
    PSI_BUCKETS,
    psi_bucket_col,
    psi_from_counts,
)
from .sketches import fold_count_grid

PSI_ALERT_THRESHOLD = 0.25

DRIFT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

DRIFT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("c_new", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("psi", T.DoubleType()),
        T.StructField("alert", T.BooleanType()),
    ]
)


def _drift_fn(reference_counts: list[int]):
    ref = [int(c) for c in reference_counts]
    # Fail fast at wiring time: psi_from_counts zips ref against the
    # 16-bucket running grid, so a short reference (e.g. built from a
    # groupBy that omitted empty buckets) would silently TRUNCATE the
    # comparison — PSI understated every micro-batch, a real >0.25
    # drift never alerting. A misordered reference is the
    # caller's contract (bucket index = list position), stated here.
    if len(ref) != PSI_BUCKETS:
        raise ValueError(
            f"reference_counts must have exactly {PSI_BUCKETS} entries "
            f"(bucket index = position), got {len(ref)} — a groupBy-"
            "built reference must be densified over empty buckets"
        )

    def fn(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counts, n_seen = fold_count_grid(
            state, batches, PSI_BUCKETS, "bucket"
        )
        psi = psi_from_counts(ref, counts)
        yield pd.DataFrame(
            {
                "bucket": range(PSI_BUCKETS),
                "c_new": counts,
                "n_seen": n_seen,
                "psi": psi,
                "alert": psi > PSI_ALERT_THRESHOLD,
            }
        )

    return fn


def drift_stream(orders: DataFrame, reference_counts: list[int]) -> DataFrame:
    """Streaming orders frame → running PSI bucket grid vs the pinned
    reference counts, re-emitted each micro-batch."""
    # NULL o_totalprice CANNOT produce a NULL bucket: Spark's
    # greatest/least skip NULL arguments (verified), so a NULL total
    # clamps to the TOP bucket — exactly what the batch monitor's
    # shared psi_bucket_col does. value_counts therefore counts the
    # row and n_seen agrees; no filter is needed for the twins to
    # match (an isNotNull() on the bucket here would be a no-op).
    buckets = orders.select(psi_bucket_col()).withColumn("g", F.lit(0))
    return buckets.groupBy("g").applyInPandasWithState(
        _drift_fn(reference_counts),
        outputStructType=DRIFT_OUTPUT_SCHEMA,
        stateStructType=DRIFT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
