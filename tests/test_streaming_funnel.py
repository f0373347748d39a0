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


def test_readouts_over_missing_or_parked_state(spark, tmp_path):
    """The state readouts go through the lake's cold-start read: a
    funnel state parked at ``<state>._pre_swap`` (a writer died between
    a swap's two renames) reports the counts it had while live, and
    state paths never written report the empty-events answer — three
    zero-user funnel stages and no trend rows. So does an empty
    directory, the state a failed first write leaves: the writer side
    reads it as no table and takes its first-write branch."""
    import os

    from energy_data_pipeline_project_spark.pipeline.lake import (
        read_for_rewrite,
    )
    from energy_data_pipeline_project_spark.streaming.funnel import (
        batch_user_mins,
        merge_state,
    )
    from energy_data_pipeline_project_spark.streaming.trend import (
        anomaly_report,
        ewma_report,
    )

    def report(path):
        return sorted(map(tuple, funnel_report(spark, path).collect()))

    state = str(tmp_path / "state")
    events = load_table(spark, SF_SMOKE, "events")
    merge_state(state, batch_user_mins(events))
    live = report(state)
    assert live[0][1] > 0
    os.rename(state, state + "._pre_swap")
    assert report(state) == live
    assert not os.path.exists(state)  # the readout heals nothing

    failed = str(tmp_path / "failed")
    os.makedirs(failed)
    for cold in (str(tmp_path / "never"), failed):
        assert report(cold) == [
            ("view", 0, 1000),
            ("view_click", 0, None),
            ("view_click_purchase", 0, None),
        ]
        assert anomaly_report(spark, cold).count() == 0
        assert ewma_report(spark, cold).count() == 0
    assert read_for_rewrite(spark, failed) is None
    merge_state(failed, batch_user_mins(events))
    assert report(failed) == live
