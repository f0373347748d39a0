"""Train-once/serve-many lake artifacts for deterministic index chains.

At 100 TB, ANN index structures — IVF coarse centroids, PQ codebooks,
cell assignments, code tables — are published lake tables refreshed by
an offline training job, not per-session derivations: retraining Lloyd
per analysis session re-shuffles the corpus to reproduce a result that
is bit-identical every time (the chains are integer-exact and
deterministic by construction). This module content-addresses those
artifacts by a corpus fingerprint so a COLD process finds the published
tables and skips training entirely (r08 verdict #3: cold
``ann_topk_ivfpq`` should cost what a warm call costs).

Layering:

1. :func:`shared` — the one in-process session memo every operator
   goes through: one staleness key, one eviction rule, persisted
   frames;
2. :func:`get_or_build` — cross-process tier on the lake
   (``lake.write_table_versioned`` snapshots, published atomically);
3. the deterministic training chain — fallback that populates 2.

Because training is bit-exact, a read-back artifact equals a fresh
derivation, so DuckDB oracles that replay the chain in SQL stay
hash-identical whichever tier answered.

Store layout: ``<root>/<kind>/<fingerprint>/<frame>/`` versioned
tables plus a ``_COMPLETE`` marker written LAST (atomic rename), so a
crashed publisher leaves a partial dir that cold readers ignore and
the next builder overwrites. Corrupt markers also just retrain —
unlike the lake's ``_PUBLISHED`` log, every byte here is reproducible,
so the safe response to damage is rebuild, not refusal.

The root defaults to ``<repo>/spark-warehouse/_artifacts`` (gitignored,
survives across driver/bench/parity processes within a round);
``SPARK_GRAFT_ARTIFACTS`` overrides it, and the value ``off`` (or
``0``) disables the tier so every call trains in-session — the knob
tests use to pin the training path itself.

At this container's scale artifacts are a few MB; at 100 TB the code
table is the 4-byte/vector compressed store and would additionally be
partitioned by cell (see ``operators/pq.ann_topk_ivfpq``'s plan notes).

Reference repo: no counterpart (807-LoC two-table ETL); this serves
SURVEY.md §2.10's similarity-search extension surface.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import table_fingerprint
from .lake import read_table_versioned, write_table_versioned

_MARKER = "_COMPLETE"

# Serve log (r10 verdict #3): every get_or_build call records whether
# it was served WARM (read the published artifact) or COLD (ran the
# build chain — store miss or tier disabled), and every session-memo
# hit in shared() records MEMO, so bench runs can attribute per-query
# wall time to build-vs-serve instead of guessing from round-over-round
# diffs. Drained by the consumer; bounded by the number of calls
# between drains.
_SERVE_LOG: list[tuple[str, str]] = []

# shared()'s session memo: (applicationId, kind, fingerprint) →
# (table path, {name: persisted frame}).
_SHARED: dict[tuple[str, str, str], tuple[str, dict[str, DataFrame]]] = {}

# Guards _SHARED and _SERVE_LOG. Re-entrant because a build may itself
# call shared() (the PQ codebook build reads the shared melt), and
# streaming foreachBatch callbacks reach these frames from another
# thread.
_LOCK = threading.RLock()


def _log(kind: str, state: str) -> None:
    with _LOCK:
        _SERVE_LOG.append((kind, state))


def drain_serve_log() -> list[tuple[str, str]]:
    """Return and clear the (kind, "cold"|"warm"|"memo") entries
    recorded since the last drain."""
    with _LOCK:
        out = list(_SERVE_LOG)
        _SERVE_LOG.clear()
    return out


def artifact_root() -> str | None:
    """Store root, or ``None`` when the tier is disabled."""
    env = os.environ.get("SPARK_GRAFT_ARTIFACTS", "")
    if env.lower() in ("off", "0"):
        return None
    if env:
        return env
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg), "spark-warehouse", "_artifacts")


def corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content address of one corpus table: its table-catalog
    fingerprint, the staleness key ``load_table`` also uses. Any
    rewrite (of a file, or of any file in a directory table) gets a
    new fingerprint and so a cold retrain; an unstattable table gets
    a sentinel so the build step surfaces the real failure."""
    path, fp = table_fingerprint(sf_dir, table)
    return fp or hashlib.sha256(repr((path, -1, -1)).encode()).hexdigest()[:16]


def _marker_ok(base: str, names: tuple[str, ...]) -> bool:
    """True iff ``base`` carries a complete marker covering ``names``."""
    try:
        with open(os.path.join(base, _MARKER)) as f:
            recorded = json.load(f)
        return isinstance(recorded, list) and set(recorded) >= set(names)
    except (OSError, ValueError):
        return False


def get_or_build(
    spark: SparkSession,
    kind: str,
    fingerprint: str,
    names: tuple[str, ...],
    build: Callable[[], dict[str, DataFrame]],
) -> dict[str, DataFrame]:
    """Read the published ``names`` frames for (kind, fingerprint), or
    run ``build()`` once, publish every frame, and serve the read-back
    copies — so cold-build and warm-hit callers consume the SAME
    physical artifact. With the tier disabled, returns ``build()``'s
    frames directly (pure in-session behavior).

    Concurrent publishers are safe (r09 verdict #4 — the real driver
    topology overlaps bench and parity processes): each publisher
    writes its frames + marker into a PRIVATE staging dir and adopts
    it with one atomic ``os.rename`` onto the fingerprint path.
    POSIX rename refuses a non-empty target, so exactly one publisher
    wins; losers discard their stage and serve the winner's artifact —
    bit-identical anyway, because the chains are deterministic. The
    pre-staging in-place write this replaces let two publishers race
    the SAME version dir (Spark overwrite delete-then-write under a
    concurrent writer → torn parquet under a valid marker)."""
    root = artifact_root()
    if root is None:
        _log(kind, "cold")
        return build()
    base = os.path.join(root, kind, fingerprint)
    got = _read_all(spark, base, names)
    if got is not None:
        _log(kind, "warm")
        _reap_stale_stages(os.path.dirname(base))
        return got
    _log(kind, "cold")
    frames = build()
    missing = [n for n in names if n not in frames]
    if missing:
        raise ValueError(
            f"artifact builder for {kind} returned no frame(s) {missing}"
        )
    import shutil
    import uuid

    stage = f"{base}.stage-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        for n in names:
            write_table_versioned(
                frames[n], os.path.join(stage, n), keep_versions=1
            )
        tmp = os.path.join(stage, _MARKER) + "._tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(names), f)
        os.replace(tmp, os.path.join(stage, _MARKER))
    except BaseException:
        # a failed staging write (disk full, task failure) must not
        # leak dead parquet into the store forever, nor consume a
        # KEEP_FINGERPRINTS retention slot (r10 diff review)
        shutil.rmtree(stage, ignore_errors=True)
        raise
    adopted = False
    for _ in range(2):
        try:
            os.rename(stage, base)
            adopted = True
            break
        except OSError:
            if _read_all(spark, base, names, touch=False) is not None:
                break  # a concurrent publisher won with a READABLE
                # artifact (a bare marker check here left a torn dir —
                # valid marker, unreadable tables — in place forever:
                # every future cold process rebuilt, failed to adopt,
                # and discarded its stage; r10 third review)
            # a PARTIAL or TORN dir occupies the name (crashed
            # pre-staging publisher, or a mid-adopt racer): evict it —
            # marker FIRST, so racing readers see a clean miss instead
            # of a marker above vanishing tables (the pruners'
            # convention) — and retry the adopt once
            try:
                os.remove(os.path.join(base, _MARKER))
            except OSError:
                pass
            shutil.rmtree(base, ignore_errors=True)
    if not adopted:
        shutil.rmtree(stage, ignore_errors=True)
    _prune_stale_fingerprints(os.path.dirname(base), keep=base)
    _prune_superseded_kinds(root, kind)
    got = _read_all(spark, base, names, touch=False)
    if got is None:
        # pathological (winner pruned in the same instant, or its
        # artifact is torn): serve this build's own frames —
        # bit-identical by determinism, just not store-backed
        return {n: frames[n] for n in names}
    return got


def shared(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    names: tuple[str, ...],
    build: Callable[[], dict[str, DataFrame]],
) -> dict[str, DataFrame]:
    """Persisted ``names`` frames of a deterministic derivation of
    ``{sf_dir}/{table}``: memoized per Spark application, served by
    :func:`get_or_build` on a miss. ``kind`` must carry an ``@rN-...``
    signature covering every constant and logic revision of the
    derivation.

    The key is ``(applicationId, kind, corpus_fingerprint(sf_dir,
    table))``, so a rewritten table misses. A miss drops every entry
    of another Spark application (a stopped session's frames are
    unusable and would leak for the process lifetime) and unpersists
    superseded fingerprints of the same (kind, table path), which the
    CacheManager would otherwise keep plan-substituting. Served frames
    are deliberately NOT registered with ``_frames.cached``: the
    per-query ``release_cached_frames()`` keeps them warm across the
    queries of a session, and :func:`release_shared` frees them.
    Results are bit-identical to recomputation — every chain is
    deterministic."""
    app = spark.sparkContext.applicationId
    path, fp = table_fingerprint(sf_dir, table)
    fp = fp or corpus_fingerprint(sf_dir, table)
    key = (app, kind, fp)
    with _LOCK:
        hit = _SHARED.get(key)
        if hit is not None:
            _log(kind, "memo")
            return dict(hit[1])
        for k in [
            k
            for k, (p, _) in _SHARED.items()
            if k[0] != app or (k[1] == kind and p == path)
        ]:
            _unpersist(_SHARED.pop(k)[1])
        got = get_or_build(spark, kind, fp, names, build)
        frames = {n: got[n].persist() for n in names}
        _SHARED[key] = (path, frames)
        return dict(frames)


def _unpersist(frames: dict[str, DataFrame]) -> None:
    for df in frames.values():
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def release_shared() -> None:
    """Unpersist and forget every frame :func:`shared` memoized (tests
    that simulate a cold process or count persisted RDDs call this)."""
    with _LOCK:
        for _, frames in _SHARED.values():
            _unpersist(frames)
        _SHARED.clear()


def _read_all(
    spark: SparkSession,
    base: str,
    names: tuple[str, ...],
    touch: bool = True,
) -> dict[str, DataFrame] | None:
    """The published frames under ``base``, or ``None`` when the
    artifact is absent, partial, or torn — deterministic rebuild is
    always the safe response to damage (module contract), so a valid
    marker above a missing/corrupt versioned table must fall back to
    build, never crash the query (r10 diff review: the hit path had
    drifted to an uncaught read).

    Validation here is PLAN-time (pointer + footer resolution): a
    data-level tear inside one part-file of an otherwise-resolvable
    snapshot surfaces at the consumer's action, not here — eager
    full-scan validation would defeat the tier's purpose at 100 TB
    (the store's integrity answer is the stage-and-rename publisher,
    which makes torn PUBLISHES impossible going forward; plan-time
    fallback covers legacy damage and prune races)."""
    if not _marker_ok(base, names):
        return None
    try:
        got = {
            n: read_table_versioned(spark, os.path.join(base, n))
            for n in names
        }
    except Exception:
        return None  # torn: no touch — a damaged dir must not refresh
        # its own retention/grace clock and crowd out healthy corpora
        # (r10 third review)
    if touch:
        # touch BOTH the dir (fingerprint pruning evicts by dir mtime;
        # r09: read-heavy artifacts otherwise age out first) and the
        # marker (the superseded-kind grace window keys on marker
        # mtime — an actively-read old-signature artifact must not be
        # pruned from under its reader, r10 diff review)
        for p in (base, os.path.join(base, _MARKER)):
            try:
                os.utime(p, None)
            except OSError:
                pass
    return got


# Fingerprint dirs kept per kind beyond the one just published. Test
# runs over tmp-path corpora mint a NEW fingerprint every session, and
# without pruning the default repo-level store grows forever (r09 diff
# review); a handful of recent corpora (the sf0.001/0.01/0.1 fixtures
# plus headroom) is all any machine serves concurrently.
KEEP_FINGERPRINTS = 8


# A '.stage-*' dir older than this is a crashed publisher's leak and
# is reaped; younger ones are (or may be) live concurrent publishes.
STAGE_REAP_AGE_S = 86400.0


def _reap_stale_stages(kind_dir: str) -> None:
    """Remove crashed publishers' '.stage-*' leftovers past
    :data:`STAGE_REAP_AGE_S`. Called from the miss/publish path AND
    the read-hit path (one cheap listdir): a kind whose fingerprint
    always hits afterwards would otherwise keep a dead stage's parquet
    forever (r10 third review)."""
    import shutil
    import time

    now = time.time()
    try:
        names = os.listdir(kind_dir)
    except OSError:
        return
    for d in names:
        if ".stage-" not in d:
            continue
        s = os.path.join(kind_dir, d)
        try:
            if now - os.path.getmtime(s) > STAGE_REAP_AGE_S:
                shutil.rmtree(s, ignore_errors=True)
        except OSError:
            pass


def _prune_stale_fingerprints(kind_dir: str, keep: str) -> None:
    """Drop the oldest fingerprint dirs under ``kind_dir`` past
    :data:`KEEP_FINGERPRINTS`, never touching ``keep`` (the dir just
    published). Same single-writer assumption as the lake pointer
    swap — a concurrent reader pinned to a pruned stale corpus
    retrains, it never reads garbage (the `_COMPLETE` marker goes
    first).

    '.stage-*' dirs are NOT fingerprint entries: a live concurrent
    publisher's stage must never be rmtree'd mid-write (its dir mtime
    is creation time — grandchild parquet writes don't refresh it, so
    it can sort oldest; r10 diff review), and it must not displace a
    real fingerprint from the retention budget. Stages older than
    :data:`STAGE_REAP_AGE_S` are crashed-publisher leaks and are
    reaped separately."""
    import shutil

    try:
        entries = [
            os.path.join(kind_dir, d)
            for d in os.listdir(kind_dir)
            if os.path.isdir(os.path.join(kind_dir, d))
        ]
    except OSError:
        return
    entries = [e for e in entries if ".stage-" not in os.path.basename(e)]
    _reap_stale_stages(kind_dir)
    entries = [e for e in entries if os.path.abspath(e) != os.path.abspath(keep)]
    if len(entries) < KEEP_FINGERPRINTS:
        return

    def _mtime(e: str) -> float:
        # a CONCURRENT pruner may remove e between listdir and here;
        # sort such dirs first — rmtree(ignore_errors) below is a
        # no-op on them (r09 second diff review)
        try:
            return os.path.getmtime(e)
        except OSError:
            return 0.0

    entries.sort(key=_mtime)
    for e in entries[: len(entries) - (KEEP_FINGERPRINTS - 1)]:
        try:
            os.remove(os.path.join(e, _MARKER))  # readers see a miss first
        except OSError:
            pass
        shutil.rmtree(e, ignore_errors=True)


# A sibling kind whose newest _COMPLETE marker is younger than this is
# left alone: old and new code SIGNATURES can briefly run concurrently
# (a deploy rolling through a fleet; bench + parity overlapping a
# round), and each pruning the other's just-published kind dir would
# ping-pong — every publish destroying the other's artifacts forever
# (r09 advisor). A superseded kind is only dead disk once nothing has
# published to it for a grace window.
SUPERSEDED_GRACE_S = 3600.0


def _prune_superseded_kinds(root: str, kind: str) -> None:
    """Remove kind dirs of the SAME base name but a DIFFERENT
    algorithm signature (``base@sig``): a signature bump means the
    old kind's artifacts were published by superseded code and no
    call will ever address them again — without this they are
    permanent dead disk (r09 second diff review; includes the
    pre-signature unsigned dirs).

    Concurrency posture (r09 advisor): every ``_COMPLETE`` marker under
    the sibling is removed FIRST (readers mid-race see a clean miss and
    retrain instead of crashing mid-scan on a vanishing dir), and a
    sibling with any recent marker is skipped entirely — see
    :data:`SUPERSEDED_GRACE_S`."""
    import shutil
    import time

    base_name = kind.split("@", 1)[0]
    try:
        siblings = os.listdir(root)
    except OSError:
        return
    for d in siblings:
        if d == kind:
            continue
        if d == base_name or d.startswith(base_name + "@"):
            sib = os.path.join(root, d)
            markers = []
            # recency = the newest of marker mtimes AND entry-dir
            # mtimes: new-code readers touch both, OLD-code readers
            # touch only the fingerprint dir, and a first-publish
            # stage has no marker at all yet — keying on markers alone
            # pruned an actively-read or mid-first-publish sibling
            # (r10 diff review)
            times = [0.0]
            try:
                for fp in os.listdir(sib):
                    entry = os.path.join(sib, fp)
                    try:
                        times.append(os.path.getmtime(entry))
                    except OSError:
                        pass
                    m = os.path.join(entry, _MARKER)
                    if os.path.isfile(m):
                        markers.append(m)
                        try:
                            times.append(os.path.getmtime(m))
                        except OSError:
                            pass
            except OSError:
                pass
            if time.time() - max(times) < SUPERSEDED_GRACE_S:
                continue  # a concurrent (older-code) publisher/reader
            for m in markers:
                try:
                    os.remove(m)  # readers see a miss before the rmtree
                except OSError:
                    pass
            shutil.rmtree(sib, ignore_errors=True)
