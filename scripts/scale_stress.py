#!/usr/bin/env python
"""Scale-stress harness: does each query's wall time scale ~linearly?

Correctness is pinned at small sf by the oracle gates; the open scale
question is SHAPE — a plan that is quadratic in candidates, funnels a
sort into one task, or crosses a broadcast threshold shows up as wall
time growing much faster than data volume. This script materializes a
``--factor``x blow-up of sf0.1 (testing.write_scaled_corpus: key-
remapped copies, same distribution shape, documents deliberately
near-duplicated across copies as the adversarial dedup case), times a
representative slice of the surface at BOTH scales in one session, and
reports the per-query ratio against the ideal.

Interpretation: at local[32] the base corpus is overhead-dominated
(~0.3-1s fixed cost per query), so ratios well BELOW the factor are
expected for cheap queries; the signal is ratios ABOVE the factor
(super-linear) on queries whose base time is already non-trivial.
Artifact-tier queries train cold at the scaled dir on a first run —
the per-query serve state is recorded so cold builds aren't misread
as plan cliffs (re-run for the warm-serve figure).

Usage: python scripts/scale_stress.py [--factor 32] [--out SCALE_STRESS.json]
       [--skip-gen] [--base /root/testdata/sf0.1] [--dir DIR] [query...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_pipeline_project_spark.operators import all_queries
from energy_data_pipeline_project_spark.pipeline.artifacts import (
    drain_serve_log,
)
from energy_data_pipeline_project_spark.session import get_spark_session
from energy_data_pipeline_project_spark.testing import write_scaled_corpus

# One query per shuffle/plan class; the point is breadth of SHAPE, not
# the full surface (full-surface correctness runs at sf0.01/sf0.001).
DEFAULT_QUERIES = [
    # scan + hash agg
    "q1_pricing_summary",
    "agg_higher_moments",
    "events_quantile_histogram",
    # multi-join star shapes (broadcast dims + shuffled facts)
    "q3_top_revenue",
    "q5_region_revenue",
    "q7_nation_trade_volume",
    "gold_daily_join",
    # non-equi / range / interval joins
    "join_range_interval",
    "join_asof_prev_purchase",
    # self-join / pair blow-up candidates
    "basket_part_pairs",
    # windows (incl. the range-sliced decompositions)
    "window_running_sum",
    "events_topk_users_per_type",
    "events_sessionize",
    "dedup_sorted_neighborhood",
    # dedup family over the near-duplicated documents (adversarial)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_hamming",
    "dedup_cluster_cc",
    # text pipelines
    "text_tfidf",
    "text_token_stats",
    # vectors (brute force is the O(n*q) floor; IVF is the scale path)
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    # iterative graph
    "pagerank_dup_graph",
    "graph_triangle_count",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=32)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--dir", default="spark-warehouse/scale_stress")
    ap.add_argument("--out", default="SCALE_STRESS.json")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = args.queries or DEFAULT_QUERIES
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark_session(app_name="scale-stress")

    scaled_dir = os.path.abspath(args.dir)
    if not args.skip_gen:
        t0 = time.time()
        write_scaled_corpus(spark, scaled_dir, args.factor, args.base)
        print(f"generated x{args.factor} corpus in {time.time() - t0:.1f}s "
              f"at {scaled_dir}", flush=True)

    # JVM/codegen warm-up outside every timer
    queries["q1_pricing_summary"](spark, args.base).count()
    drain_serve_log()

    def timed(name: str, sf_dir: str) -> tuple[float, int, str]:
        best, rows = None, 0
        for _ in range(max(args.reps, 1)):
            t0 = time.time()
            rows = queries[name](spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        ents = drain_serve_log()
        served = ("n/a" if not ents
                  else "cold" if any(s == "cold" for _, s in ents)
                  else "memo" if all(s == "memo" for _, s in ents)
                  else "warm")
        return best, rows, served

    results = {}
    for name in names:
        tb, rb, _ = timed(name, args.base)
        ts_, rs_, served = timed(name, scaled_dir)
        ratio = ts_ / tb if tb > 0 else float("inf")
        results[name] = {
            "base_s": round(tb, 3),
            "scaled_s": round(ts_, 3),
            "ratio": round(ratio, 2),
            "base_rows": rb,
            "scaled_rows": rs_,
            "served_scaled": served,
        }
        flag = " <-- SUPERLINEAR" if ratio > args.factor else ""
        print(f"{name:34s} base {tb:7.2f}s  x{args.factor} {ts_:8.2f}s  "
              f"ratio {ratio:6.1f} ({served}){flag}", flush=True)

    summary = {
        "factor": args.factor,
        "base": args.base,
        "scaled_dir": scaled_dir,
        "superlinear": sorted(
            n for n, r in results.items() if r["ratio"] > args.factor
        ),
        "queries": results,
    }
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({k: summary[k] for k in ("factor", "superlinear")}))
    # without this the non-daemon py4j/JVM threads keep the process
    # alive after main() returns (observed: the x64 run slept forever
    # post-summary and needed a kill)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
