from __future__ import annotations

import os

import pytest

from energy_data_pipeline_project_spark.session import get_spark_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def _isolated_artifact_store():
    """Point the whole test session at a SEPARATE artifact store.

    The degenerate-corpus sweep (and every tmp-path corpus test) mints
    a fresh corpus fingerprint per session; against the default repo
    store that churn fills each kind's KEEP_FINGERPRINTS retention
    budget and EVICTS the sf0.1/sf0.01 fixture artifacts the bench and
    parity flows serve from — one full pytest run silently turned the
    next bench's artifact-tier queries cold (r10: text_bpe_merges
    0.11s->6.1s, ann_topk_ivfpq 1.8s->7.6s, observed). Tests get their
    own persistent store (still exercises the real publish/read/prune
    code, and fixture-corpus training stays warm across sessions);
    per-test monkeypatch.setenv overrides still win, and an explicit
    caller-set SPARK_GRAFT_ARTIFACTS (scratch CI stores) is respected.

    Concurrency (r10 advisor): pytest-xdist workers each get their own
    subdirectory — two workers publishing/pruning the same kind in one
    shared store can race (one session's prune evicting an artifact
    another is mid-read). Plain concurrent `pytest` sessions against
    this repo remain UNSUPPORTED (same shared-store race); run them
    with distinct SPARK_GRAFT_ARTIFACTS values if ever needed.
    """
    if "SPARK_GRAFT_ARTIFACTS" in os.environ:
        yield
        return
    parts = ["spark-warehouse", "_artifacts_tests"]
    worker = os.environ.get("PYTEST_XDIST_WORKER")
    if worker:
        parts.append(worker)
    root = os.path.abspath(
        os.path.join(os.path.dirname(__file__), os.pardir, *parts)
    )
    os.environ["SPARK_GRAFT_ARTIFACTS"] = root
    try:
        yield
    finally:
        os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: sf0.1-scale gates (full tier: run only with "
        "SPARK_GRAFT_FULL_TESTS=1 or when named explicitly)",
    )


# --- Fast tier (r11 verdict #4) ---------------------------------------------
# The suite grew to 830+ tests / ~60-70 min — past the driver's verify
# window (VERIFY_r11: tests_ok false on a truncated, failure-free tail
# at ~40%). A bare `pytest tests/` therefore runs the FAST tier —
# oracle parity, plan pins, operator invariants — and SKIPS the
# long-horizon sweeps (fuzz replay, degenerate-corpus sweeps, scale
# stress, property hunts, sf0.1 gates), which exist to hunt NEW defect
# classes, not to gate a build. Nothing is deleted: set
# SPARK_GRAFT_FULL_TESTS=1 to run everything (the builder's pre-commit
# posture; CI machines with a bigger budget should set it too).
_FULL_TIER_FILES = {
    "test_fuzz_corpus.py",         # fuzz-corpus replay sweeps
    "test_degenerate_corpus.py",   # degenerate-input sweeps
    "test_degenerate_streaming.py",
    "test_scaled_corpus.py",       # x32 scale-stress harness
    "test_scale_techniques.py",
    "test_scale_smoke.py",
    "test_sf01_gates.py",          # sf0.1-scale gates (marker: slow)
    "test_properties.py",          # property-based hunts
    "test_round_tie_hunt.py",      # ROUND/tie divergence hunts
    "test_similarity_recall.py",   # recall sweeps over planted dups
}


# Individual heavyweight equivalence/e2e tests outside those files
# (full-suite durations, 2026-08-18): each re-proves a cross-process /
# cross-tier equivalence that the fast tier's parity+pin gates already
# cover at the result level. Together they were ~170s of the fast
# tier's budget.
_FULL_TIER_TESTS = {
    "test_no_complex_types_in_query_outputs",   # 73s — materializes all 220 outputs; parity hashes them anyway
    "test_ivfpq_artifact_equals_fresh_training",  # 31s retrain-vs-read
    "test_streamed_ann_matches_batch",            # 23s streaming e2e
    "test_concurrent_publishers_race_one_complete_artifact",  # 17s race
    "test_approx_percentile_within_tolerance",    # 26s tolerance sweep
}


def _skip_as_full_tier(item, config) -> bool:
    """True when ``item`` is full tier (its file, or the test itself)
    and was not named on the command line. A full-tier file named by
    path, or a full-tier test named by ``path::test`` node id, is an
    explicit request and runs."""
    name = getattr(item, "originalname", item.name)
    whole_file = os.path.basename(str(item.fspath)) in _FULL_TIER_FILES
    if not whole_file and name not in _FULL_TIER_TESTS:
        return False
    path = os.path.abspath(str(item.fspath))
    for arg in config.invocation_params.args:
        target, _, rest = str(arg).partition("::")
        target = os.path.join(str(config.invocation_params.dir), target)
        if os.path.abspath(target) != path:
            continue
        if whole_file and not rest:
            return False
        if rest.split("::")[-1].split("[")[0] == name:
            return False
    return True


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS", "") not in ("", "0"):
        return
    skip = pytest.mark.skip(
        reason="full tier — set SPARK_GRAFT_FULL_TESTS=1 (fast tier keeps "
        "the driver verify inside its window; r11 verdict #4)"
    )
    for item in items:
        if _skip_as_full_tier(item, config):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session(app_name="engine-tests", master="local[4]",
                              shuffle_partitions=8)
    yield spark
    spark.stop()

