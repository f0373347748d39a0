"""Streaming funnel: the per-user conditional-min state merged across
micro-batches must reproduce the batch funnel exactly when the stream
replays the corpus — MIN is mergeable, so batch boundaries cannot
change the answer."""

from __future__ import annotations

import glob

from energy_data_pipeline_project_spark.operators.warehouse import QUERIES
from energy_data_pipeline_project_spark.sources.tables import load_table
from energy_data_pipeline_project_spark.streaming.funnel import (
    funnel_report,
    stream_funnel_state,
)

from .conftest import SF_SMOKE


def test_streamed_funnel_matches_batch(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("events-funnel"))
    state = str(tmp_path_factory.mktemp("funnel-state")) + "/state"
    ckpt = str(tmp_path_factory.mktemp("funnel-ckpt"))

    events = load_table(spark, SF_SMOKE, "events")
    # many small files → several micro-batches, users split across them
    events.repartition(7).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = stream_funnel_state(stream, state, ckpt)
    q.awaitTermination()

    streamed = {
        r["stage"]: (r["n_users"], r["conv_permille"])
        for r in funnel_report(spark, state).collect()
    }
    batch = {
        r["stage"]: (r["n_users"], r["conv_permille"])
        for r in QUERIES["events_funnel_steps"](spark, SF_SMOKE).collect()
    }
    assert streamed == batch and batch["view"][0] > 0
    assert not glob.glob(state + "._*")  # no leftover staging/backup dirs


def test_funnel_state_recovers_from_mid_swap_crash(spark, tmp_path):
    """Simulate a crash between the swap's two renames (state parked
    at ._pre_swap, no live state dir): the next merge must restore the
    parked state and fold the new batch in — no silent reset to a
    single batch's mins."""
    import os

    from energy_data_pipeline_project_spark.streaming.funnel import (
        batch_user_mins,
        funnel_report,
        merge_state,
    )

    state = str(tmp_path / "state")
    events = load_table(spark, SF_SMOKE, "events")
    first_half = events.where("user_id % 2 = 0")
    second_half = events.where("user_id % 2 = 1")

    merge_state(state, batch_user_mins(first_half))
    # crash simulation: first rename of the swap happened, second didn't
    os.rename(state, state + "._pre_swap")

    merge_state(state, batch_user_mins(second_half))
    got = {
        r["stage"]: r["n_users"] for r in funnel_report(spark, state).collect()
    }
    want = {
        r["stage"]: r["n_users"]
        for r in QUERIES["events_funnel_steps"](spark, SF_SMOKE).collect()
    }
    assert got == want, "recovered state must cover both halves"
