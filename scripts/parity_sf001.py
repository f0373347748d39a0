#!/usr/bin/env python
"""Pre-flight replica of the driver's correctness gate at sf0.01.

The driver stamps queries at sf0.01; the unit suite replicates parity
at sf0.001. This script runs every oracle-checked query at the
driver's actual scale so scale-sensitive failures (tie-breaks, caps,
sampling thresholds) surface before the driver does. Prints one line
per failure and a summary; exit code 1 on any failure.

Usage: python scripts/parity_sf001.py [sf_dir] [only_prefix...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_pipeline_project_spark.operators import all_oracles, all_queries
from energy_data_pipeline_project_spark.session import get_spark_session
from energy_data_pipeline_project_spark.testing import compare_query


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])

    queries = all_queries()
    oracles = all_oracles()
    # Oracled queries get the full compare; rows-only queries get the
    # driver's weaker gate (runs and returns >= 1 row) so a
    # scale-sensitive crash still surfaces pre-driver.
    names = sorted(queries)
    if prefixes:
        names = [n for n in names if n.startswith(prefixes)]
        if not names:
            # a typo'd prefix must not read as a green pre-flight:
            # checked=0 with exit 0 verifies nothing (r06 review)
            print(f"no queries match prefixes {prefixes!r}", file=sys.stderr)
            return 2

    spark = get_spark_session(app_name="parity-sf001", master="local[16]",
                              shuffle_partitions=16)

    # Steady-state warm-up BEFORE the per-query timer: the shared
    # frames (``artifacts.shared``: LSH pair graph, PQ melt and training
    # chains, BPE rules) are built once per corpus snapshot by design, so whichever query
    # happened to run first paid the whole build inside its timing —
    # r07's "slowest" list was exactly those first consumers
    # (corpus_dedup_keep_best 8.55s cold vs 1.2s steady-state), not an
    # engine plan problem. Correctness is unaffected: the tier returns
    # bit-identical frames, and every query still runs its full
    # compare below. Failures here surface in the owning query's
    # timed run, so best-effort is safe.
    # Gate on the selection: a targeted run (e.g. `parity_sf001.py dir
    # text_`) must not pay LSH + two Lloyd chains it never consumes —
    # the warm-up would then be slower than the queries it "helps"
    # (r08 review). Substring heuristics only skip work (a miss just
    # means the owning query pays its own build, exactly the pre-r08
    # behavior), never correctness.
    _SHARED_HINTS = ("dedup", "ann_", "pq", "lsh", "graph", "corpus",
                   "embedding", "semantic", "split", "docs_dup")
    warm = not prefixes or any(
        h in n for n in names for h in _SHARED_HINTS
    )
    warm_bpe = not prefixes or any("bpe" in n for n in names)
    t0 = time.perf_counter()
    if warm:
        try:
            from energy_data_pipeline_project_spark.operators import dedup, pq

            dedup.shared_lsh_pairs(spark, sf_dir).count()
            pq._trained_m(spark, sf_dir)
            pq._trained_ivfpq(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 - owning query will re-raise
            print(f"warm-up skipped: {e!r:.200}", file=sys.stderr)
    if warm_bpe:
        try:
            from energy_data_pipeline_project_spark.operators import curation

            curation.trained_bpe_rules(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 - owning query will re-raise
            print(f"bpe warm-up skipped: {e!r:.200}", file=sys.stderr)
    warmup_s = round(time.perf_counter() - t0, 2)

    failures: dict[str, str] = {}
    timings: dict[str, float] = {}
    # Spark jobs launched while BUILDING each query's DataFrame (schema
    # inference, eager checkpoints, driver-side collects): the registry
    # job census. One job group per query, so counts never accumulate.
    sc = spark.sparkContext
    build_jobs: dict[str, int] = {}
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            group = f"build:{name}"
            sc.setJobGroup(group, "plan construction")
            try:
                df = queries[name](spark, sf_dir)
            finally:
                sc.setJobGroup(None, None)
                build_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            if name in oracles:
                res = compare_query(
                    spark, sf_dir, name, lambda s, d: df, oracles[name]
                )
                ok, detail = res.ok, res.detail
            else:
                n_rows = len(df.collect())
                ok = n_rows >= 1
                detail = "" if ok else "rows-only query returned 0 rows"
        except Exception as e:  # noqa: BLE001 - report, keep going
            ok, detail = False, f"exception: {e!r:.500}"
        timings[name] = round(time.perf_counter() - t0, 2)
        if not ok:
            failures[name] = detail
            print(f"FAIL {name}: {detail[:400]}", flush=True)
        if (i + 1) % 20 == 0:
            print(f"... {i + 1}/{len(names)} done, {len(failures)} failed",
                  flush=True)

    print(json.dumps({
        "checked": len(names),
        "failed": sorted(failures),
        "warmup_s": warmup_s,
        "slowest": sorted(timings.items(), key=lambda x: -x[1])[:10],
        "build_jobs_total": sum(build_jobs.values()),
        "build_jobs_top": sorted(build_jobs.items(), key=lambda x: -x[1])[:10],
    }))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
