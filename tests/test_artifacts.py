"""Lake-artifact tier for deterministic training chains
(pipeline/artifacts.py): train-once/serve-many across processes.

The contract (r08 verdict #3): a cold session finds artifacts a prior
run published and skips training; read-back frames are bit-identical
to a fresh derivation; a rewritten corpus (new fingerprint) retrains;
``SPARK_GRAFT_ARTIFACTS=off`` restores pure in-session behavior."""

from __future__ import annotations

import os

import pytest

from energy_data_pipeline_project_spark.pipeline import artifacts as A

from .conftest import SF_SMOKE


@pytest.fixture
def art_root(tmp_path, monkeypatch):
    root = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", root)
    yield root


def test_get_or_build_builds_once_then_reads(spark, art_root):
    calls = []

    def build():
        calls.append(1)
        return {"t": spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")}

    fp = A.corpus_fingerprint(SF_SMOKE)
    got1 = A.get_or_build(spark, "k", fp, ("t",), build)["t"]
    got2 = A.get_or_build(spark, "k", fp, ("t",), build)["t"]
    assert len(calls) == 1, "second call must be a store hit"
    assert sorted(map(tuple, got1.collect())) == sorted(
        map(tuple, got2.collect())
    ) == [(1, 2), (3, 4)]
    # the marker exists and the versioned table is published
    assert os.path.exists(os.path.join(art_root, "k", fp, "_COMPLETE"))


def test_partial_publish_is_ignored_and_rebuilt(spark, art_root):
    """A crashed publisher (frames written, marker missing) must read
    as a miss — the marker is written LAST for exactly this reason."""
    calls = []

    def build():
        calls.append(1)
        return {"t": spark.range(3)}

    fp = "fixedfp"
    A.get_or_build(spark, "k2", fp, ("t",), build)
    os.remove(os.path.join(art_root, "k2", fp, "_COMPLETE"))
    A.get_or_build(spark, "k2", fp, ("t",), build)
    assert len(calls) == 2


def test_fingerprint_tracks_rewrites(tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"v1")
    f1 = A.corpus_fingerprint(str(tmp_path))
    os.utime(p, ns=(1, 2))
    f2 = A.corpus_fingerprint(str(tmp_path))
    assert f1 != f2
    missing = A.corpus_fingerprint(str(tmp_path / "nope"))
    assert missing and missing != f1
    # a directory table: a part file rewritten in place changes neither
    # the directory's mtime nor its size, yet must change the key
    d = tmp_path / "documents.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"v1")
    st = d.stat()
    g1 = A.corpus_fingerprint(str(tmp_path), "documents")
    part.write_bytes(b"v2-rewritten")
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert A.corpus_fingerprint(str(tmp_path), "documents") != g1


def test_disabled_tier_trains_every_call(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    calls = []

    def build():
        calls.append(1)
        return {"t": spark.range(2)}

    A.get_or_build(spark, "k3", "fp", ("t",), build)
    A.get_or_build(spark, "k3", "fp", ("t",), build)
    assert len(calls) == 2
    assert A.artifact_root() is None


def test_builder_missing_frame_raises(spark, art_root):
    with pytest.raises(ValueError, match="no frame"):
        A.get_or_build(spark, "k4", "fp", ("t", "u"), lambda: {"t": spark.range(1)})


def test_ivfpq_artifact_equals_fresh_training(spark, art_root):
    """The real chain: publish via one cold call, then verify a
    second cold call (memo released) reads the store and produces the
    IDENTICAL code table — and that the store actually holds the four
    frames."""
    import energy_data_pipeline_project_spark.operators.pq as pq

    A.release_shared()
    c1 = pq.embedding_pq_codes(spark, SF_SMOKE)
    rows1 = sorted(map(tuple, c1.collect()))

    import glob

    # the kind carries an algorithm signature suffix (pq_m@rN-...) so
    # a changed Lloyd chain can never serve a stale index (r09 diff
    # review) — locate it by prefix
    fp = A.corpus_fingerprint(SF_SMOKE)
    assert glob.glob(os.path.join(art_root, "pq_m@*", fp, "_COMPLETE"))

    A.release_shared()  # simulate a cold process
    rows2 = sorted(map(tuple, pq.embedding_pq_codes(spark, SF_SMOKE).collect()))
    assert rows1 == rows2

    # ivfpq: four frames published, cold read matches
    A.release_shared()
    r1 = sorted(map(tuple, pq.ann_topk_ivfpq(spark, SF_SMOKE).collect()))
    for frame in ("coarse", "cells", "codes", "codebook"):
        assert glob.glob(
            os.path.join(art_root, "ivfpq@*", fp, frame)
        ), frame
    A.release_shared()
    r2 = sorted(map(tuple, pq.ann_topk_ivfpq(spark, SF_SMOKE).collect()))
    assert r1 == r2


def test_ivf_centroid_artifact_matches_inline(spark, art_root, monkeypatch):
    """ann_topk_ivf through the artifact tier returns the same rows as
    with the tier disabled (pure inline derivation)."""
    from energy_data_pipeline_project_spark.operators.similarity import (
        ann_topk_ivf,
    )

    with_store = sorted(map(tuple, ann_topk_ivf(spark, SF_SMOKE).collect()))
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    A.release_shared()  # a memo hit would skip the inline derivation
    inline = sorted(map(tuple, ann_topk_ivf(spark, SF_SMOKE).collect()))
    assert with_store == inline


def test_stale_fingerprints_pruned(spark, art_root):
    """Test sessions mint new fingerprints every run (tmp corpora);
    the store must self-prune per kind instead of growing forever
    (r09 diff review). The just-published dir always survives."""
    for i in range(A.KEEP_FINGERPRINTS + 3):
        A.get_or_build(
            spark, "kp", f"fp{i:02d}", ("t",), lambda: {"t": spark.range(1)}
        )
    kind_dir = os.path.join(art_root, "kp")
    left = sorted(os.listdir(kind_dir))
    assert len(left) <= A.KEEP_FINGERPRINTS
    assert f"fp{A.KEEP_FINGERPRINTS + 2:02d}" in left, left


def test_superseded_kind_with_recent_marker_survives(spark, art_root):
    """Two code signatures running CONCURRENTLY (a deploy rolling
    through; bench + parity overlapping a round) must not ping-pong
    each other's kind dirs: a sibling whose newest _COMPLETE marker is
    younger than SUPERSEDED_GRACE_S is left alone (r09 advisor)."""

    def build(v):
        return lambda: {
            "t": spark.createDataFrame([(v,)], "a long")
        }

    fp = A.corpus_fingerprint(SF_SMOKE)
    A.get_or_build(spark, "kind@r1", fp, ("t",), build(1))
    # new-signature publish: the @r1 sibling's marker is fresh → kept
    A.get_or_build(spark, "kind@r2", fp, ("t",), build(2))
    assert os.path.exists(
        os.path.join(art_root, "kind@r1", fp, "_COMPLETE")
    ), "fresh superseded sibling must survive the grace window"
    # ...and the old-signature reader still hits its own artifact
    calls = []

    def counting():
        calls.append(1)
        return {"t": spark.createDataFrame([(1,)], "a long")}

    got = A.get_or_build(spark, "kind@r1", fp, ("t",), counting)["t"]
    assert not calls and [t[0] for t in got.collect()] == [1]


def test_superseded_kind_past_grace_is_pruned(spark, art_root, monkeypatch):
    """Once nothing has published to the old signature for the grace
    window, it is dead disk: markers removed first, then the dir."""

    def build(v):
        return lambda: {"t": spark.createDataFrame([(v,)], "a long")}

    fp = A.corpus_fingerprint(SF_SMOKE)
    A.get_or_build(spark, "kind@r1", fp, ("t",), build(1))
    # age the r1 marker AND its fingerprint dir past the grace window
    # (recency is the max of both: markers alone missed old-code
    # readers that only touch the dir)
    marker = os.path.join(art_root, "kind@r1", fp, "_COMPLETE")
    old = os.path.getmtime(marker) - A.SUPERSEDED_GRACE_S - 60
    os.utime(marker, (old, old))
    os.utime(os.path.join(art_root, "kind@r1", fp), (old, old))
    A.get_or_build(spark, "kind@r2", fp, ("t",), build(2))
    assert not os.path.exists(os.path.join(art_root, "kind@r1"))
    assert os.path.exists(os.path.join(art_root, "kind@r2", fp, "_COMPLETE"))


def test_shared_lsh_pairs_artifact_serves_cold_process(
    spark, art_root, monkeypatch
):
    """The shared near-dup pair frame is a lake artifact (r09 verdict
    #2): after one publish, a cold process (memo released) must read
    the published symmetric edge table WITHOUT re-running the
    shingle→minhash→band chain, bit-identically."""
    import glob

    from energy_data_pipeline_project_spark.operators import dedup

    A.release_shared()
    try:
        rows1 = sorted(
            map(tuple, dedup.shared_lsh_pairs(spark, SF_SMOKE).collect())
        )
        fp = A.corpus_fingerprint(SF_SMOKE, table="documents")
        assert glob.glob(
            os.path.join(art_root, "lsh_pairs@*", fp, "_COMPLETE")
        )

        A.release_shared()  # cold process: memo gone

        def _boom(*a, **k):
            raise AssertionError(
                "cold call retrained instead of reading the store"
            )

        monkeypatch.setattr(dedup, "minhash_lsh_pairs", _boom)
        rows2 = sorted(
            map(tuple, dedup.shared_lsh_pairs(spark, SF_SMOKE).collect())
        )
        assert rows1 == rows2
    finally:
        A.release_shared()
        dedup.release_cached_frames()


def test_bpe_rules_artifact_serves_cold_process(spark, art_root, monkeypatch):
    """BPE merge rules are a lake artifact (r09 verdict #3): after one
    publish, a cold process must read the published rule table without
    re-training, and the apply-only encode must match the rules-frame
    chain bit-for-bit (its oracle replays the full trainer in SQL)."""
    import glob

    from energy_data_pipeline_project_spark.operators import curation

    rows1 = sorted(
        map(tuple, curation.trained_bpe_rules(spark, SF_SMOKE).collect())
    )
    assert rows1, "training produced no rules on the fixture corpus"
    fp = A.corpus_fingerprint(SF_SMOKE, table="documents")
    assert glob.glob(os.path.join(art_root, "bpe_rules@*", fp, "_COMPLETE"))

    def _boom(*a, **k):
        raise AssertionError("cold call retrained instead of reading store")

    monkeypatch.setattr(curation, "_bpe_merge_round", _boom)
    A.release_shared()  # cold process: memo gone
    rows2 = sorted(
        map(tuple, curation.trained_bpe_rules(spark, SF_SMOKE).collect())
    )
    assert rows1 == rows2
    # the encoder consumes the store too (apply-only pass)
    enc = curation.text_bpe_encode(spark, SF_SMOKE)
    assert enc.where("n_merges_applied < 0").count() == 0
    assert enc.count() > 0


def test_concurrent_publishers_race_one_complete_artifact(tmp_path):
    """Two PROCESSES racing get_or_build on the same kind/fingerprint
    (the real driver topology: bench and parity can overlap a round)
    must both serve bit-identical frames, and the store must end with
    ONE complete adopted artifact — no torn versions, no leaked
    staging dirs (r09 verdict #4). Publishing is stage-then-atomic-
    rename; the loser discards its stage and reads the winner's."""
    import json
    import subprocess
    import sys

    root = str(tmp_path / "race-root")
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    import shutil

    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")

    prog = r"""
import json, os, sys, time
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
from energy_data_pipeline_project_spark.pipeline import artifacts as A

def build():
    # slow the build so both processes are inside it simultaneously
    time.sleep(3.0)
    df = (spark.range(0, 500)
          .selectExpr("id", "xxhash64(id) AS h"))
    return {"t": df}

fp = A.corpus_fingerprint(sys.argv[1], table="documents")
got = A.get_or_build(spark, "race_kind@r1", fp, ("t",), build)["t"]
rows = sorted(map(tuple, got.collect()))
print("RESULT " + json.dumps(rows[:5] + rows[-5:] + [[len(rows), 0]]))
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_ARTIFACTS=root)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", prog, sf],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        for _ in range(2)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-2000:]
        line = [
            ln for ln in out.decode().splitlines() if ln.startswith("RESULT ")
        ]
        assert line, out.decode()[-2000:]
        outs.append(json.loads(line[-1][len("RESULT "):]))
    assert outs[0] == outs[1], "racing publishers served different frames"

    from energy_data_pipeline_project_spark.pipeline import artifacts as A
    from energy_data_pipeline_project_spark.pipeline import lake

    fp = A.corpus_fingerprint(sf, table="documents")
    base = os.path.join(root, "race_kind@r1", fp)
    assert A._marker_ok(base, ("t",)), "no complete adopted artifact"
    # exactly one published version — the winner's; the loser's stage
    # never reached the fingerprint path
    assert lake.published_table_versions(os.path.join(base, "t")) == {1}
    # no staging leftovers anywhere under the kind dir
    leftovers = [
        d for d in os.listdir(os.path.join(root, "race_kind@r1"))
        if ".stage-" in d
    ]
    assert not leftovers, leftovers


def test_torn_artifact_under_valid_marker_rebuilds(spark, art_root):
    """A valid _COMPLETE marker above a missing/corrupt versioned
    table (a torn store from a crashed pre-staging publisher, or a
    marker passed just before a concurrent prune) must fall back to
    the deterministic rebuild — never crash the consuming query
    (r10 diff review: the hit path had drifted to an uncaught read)."""
    import shutil

    calls = []

    def build():
        calls.append(1)
        return {"t": spark.createDataFrame([(5,)], "a long")}

    fp = A.corpus_fingerprint(SF_SMOKE)
    A.get_or_build(spark, "torn", fp, ("t",), build)
    # tear it: keep the marker, delete the versioned table beneath
    shutil.rmtree(os.path.join(art_root, "torn", fp, "t"))
    assert A._marker_ok(os.path.join(art_root, "torn", fp), ("t",))

    got = A.get_or_build(spark, "torn", fp, ("t",), build)["t"]
    assert len(calls) == 2, "torn artifact must rebuild, not crash"
    assert [r[0] for r in got.collect()] == [5]
    # ...and the rebuild must HEAL the store (evict the torn dir and
    # adopt its own stage), not degenerate to rebuild-always: the next
    # cold call is a clean hit (r10 third review)
    got3 = A.get_or_build(spark, "torn", fp, ("t",), build)["t"]
    assert len(calls) == 2, "healed store must serve without rebuilding"
    assert [r[0] for r in got3.collect()] == [5]
    # no staging leftovers under the kind dir after the heal
    assert not [
        d for d in os.listdir(os.path.join(art_root, "torn"))
        if ".stage-" in d
    ]


def test_token_postings_artifact_serves_cold_process(
    spark, art_root, monkeypatch
):
    """The SN verify frame (distinct token-hash postings) is a lake
    artifact (r10 verdict #1b): after one publish, a cold process
    (memo released) must read the published postings WITHOUT paying
    the explode→distinct shuffle, bit-identically."""
    import glob

    from energy_data_pipeline_project_spark.operators import dedup
    from energy_data_pipeline_project_spark.sources import tables

    A.release_shared()
    try:
        rows1 = sorted(
            map(tuple, dedup.shared_token_postings(spark, SF_SMOKE).collect())
        )
        fp = A.corpus_fingerprint(SF_SMOKE, table="documents")
        assert glob.glob(
            os.path.join(art_root, "tok_postings@*", fp, "_COMPLETE")
        )

        A.release_shared()  # cold process: memo gone

        def _boom(*a, **k):
            raise AssertionError(
                "cold call rebuilt postings instead of reading the store"
            )

        # the build path starts from load_table; a store hit never does
        monkeypatch.setattr(dedup, "load_table", _boom)
        rows2 = sorted(
            map(tuple, dedup.shared_token_postings(spark, SF_SMOKE).collect())
        )
        assert rows1 == rows2
    finally:
        A.release_shared()
        dedup.release_cached_frames()


def test_serve_log_records_cold_then_warm(spark, art_root, monkeypatch):
    """get_or_build must log "cold" when it ran the build chain (store
    miss OR tier disabled) and "warm" on a store read — the signal
    bench uses to stop conflating plan changes with store state (r10
    verdict #3). A shared() session-memo hit logs "memo"."""
    A.drain_serve_log()

    def build():
        return {"t": spark.range(2)}

    fp = "servefp"
    A.get_or_build(spark, "ksrv", fp, ("t",), build)
    assert A.drain_serve_log() == [("ksrv", "cold")]
    A.get_or_build(spark, "ksrv", fp, ("t",), build)
    assert A.drain_serve_log() == [("ksrv", "warm")]
    assert A.drain_serve_log() == []  # drained
    A.release_shared()
    try:
        first = A.shared(spark, "kshr@r1", SF_SMOKE, "documents", ("t",), build)
        assert A.drain_serve_log() == [("kshr@r1", "cold")]
        again = A.shared(spark, "kshr@r1", SF_SMOKE, "documents", ("t",), build)
        assert A.drain_serve_log() == [("kshr@r1", "memo")]
        assert again["t"] is first["t"]
        A.release_shared()  # cold process: memo gone, store published
        A.shared(spark, "kshr@r1", SF_SMOKE, "documents", ("t",), build)
        assert A.drain_serve_log() == [("kshr@r1", "warm")]
    finally:
        A.release_shared()
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    A.get_or_build(spark, "ksrv", fp, ("t",), build)
    assert A.drain_serve_log() == [("ksrv", "cold")]


def test_shared_evicts_other_applications_and_stale_fingerprints(
    spark, art_root, tmp_path
):
    """A stopped session's memo entries are unusable: the next miss
    drops every entry keyed under another Spark application instead
    of leaking it for the process lifetime. A rewritten table (new
    fingerprint) replaces its superseded entry rather than adding one."""
    import shutil

    class _Stale:
        def unpersist(self):
            raise RuntimeError("session already stopped")

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")
    A.release_shared()
    try:
        A._SHARED[("app-gone", "kevict@r1", "fp")] = ("/gone", {"t": _Stale()})

        def build():
            return {"t": spark.range(3)}

        A.shared(spark, "kevict@r1", sf, "documents", ("t",), build)
        assert [k[0] for k in A._SHARED] == [
            spark.sparkContext.applicationId
        ]
        os.utime(f"{sf}/documents.parquet", ns=(1, 2))
        A.shared(spark, "kevict@r1", sf, "documents", ("t",), build)
        (key,) = A._SHARED
        assert key[2] == A.corpus_fingerprint(sf, "documents")
    finally:
        A.release_shared()


def test_fuzz_hunt_script_isolates_artifact_store(tmp_path):
    """scripts/fuzz_hunt.py must point SPARK_GRAFT_ARTIFACTS at its own
    store at import time: every hunted seed is a fresh tmp corpus = a
    fresh fingerprint, so a hunt mints far more fingerprints per kind
    than KEEP_FINGERPRINTS and, in the default repo store, would evict
    the sf0.1/sf0.01 fixture artifacts the bench/parity flows serve
    from (the r10 pytest-churn bug via a different entry point). An
    explicit env value must still win (setdefault semantics)."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "scripts", "fuzz_hunt.py")
    probe = (
        "import runpy, os, sys; sys.argv=['fuzz_hunt']; "
        f"runpy.run_path({script!r}, run_name='probe'); "
        "print(os.environ.get('SPARK_GRAFT_ARTIFACTS', ''))"
    )
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_GRAFT_ARTIFACTS"}
    out = subprocess.run(
        [_sys.executable, "-c", probe], env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith(
        os.path.join("spark-warehouse", "_artifacts_hunt")
    ), out.stdout
    env["SPARK_GRAFT_ARTIFACTS"] = str(tmp_path / "explicit")
    out = subprocess.run(
        [_sys.executable, "-c", probe], env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == str(tmp_path / "explicit"), out.stdout
