#!/usr/bin/env python
"""Generate PLANS.md — a physical-plan digest for every declared query.

For each ``queries()`` entry the script builds the (lazy) DataFrame at
the given scale dir and parses ``explain(formatted)`` through
``plans.analyze.plan_report`` into the facts that matter at 100 TB:
parquet scans, exchanges (shuffles), broadcast vs shuffle joins, and
whether any Python evaluation appears (row-at-a-time = forbidden;
Arrow-batched and the Python UDTF = the deliberate paths). The output
table lets a reviewer audit plan quality for the whole surface without
materializing query results — note the pq/training/clustering queries
run eager localCheckpoints during DataFrame CONSTRUCTION, so their
iterative prefixes do execute here. (Whole-stage-codegen spans are not
reported:
under AQE the pre-execution formatted plan does not assign codegen
ids, so the parsed count is meaningless before an action runs.)

Usage: python scripts/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_pipeline_project_spark.operators import all_queries
from energy_data_pipeline_project_spark.plans.analyze import (
    plan_report,
    window_partition_specs,
)
from energy_data_pipeline_project_spark.session import get_spark_session

# --- Low-cardinality / GLOBAL window audit (r10 verdict #5, r11 #4) ---------
# A Window whose ENTIRE partition spec is low-cardinality columns sorts
# one task per group: at 100 TB a dominant language/event type is the
# whole corpus in a single task. An UNPARTITIONED window (empty spec —
# rendered "()" below) moves ALL its input to one task, the shape the
# driver log's "No Partition Defined for Window" warnings point at
# (r11 verdict #4: these previously escaped the audit because Spark's
# argString drops the empty bracket group and the parser mis-read the
# function list as the spec). Every flagged window must either be
# range-SLICED (functions/windows — the __slice_id__ column rides the
# partition spec, so it never flags here) or carry a bounded-grain
# justification below. An unjustified flag fails this audit (exit 1)
# and tests/test_plans.py::test_low_card_windows_are_justified.
LOW_CARD_COLS = frozenset({
    "lang", "event_type", "etype", "l_returnflag", "l_linestatus",
    "label", "source", "o_orderstatus", "production_type", "market",
    "week", "month", "band", "segment", "c_mktsegment", "step",
    "modality", "kind", "channel",
})
SLICE_COL = "__slice_id__"
WINDOW_JUSTIFICATIONS: dict[str, str] = {
    # sliced raw windows: the (col,) entry remaining after the slice
    # filter is the per-slice OFFSETS frame — ≤ n_slices rows per group
    # (n_slices adaptive to input bytes, capped at windows.MAX_SLICES)
    "chunk_pack_sequences": "(lang) = slice-offsets frame, ≤n_slices rows/lang",
    "dedup_sorted_neighborhood": "(lang) = slice-offsets frame, ≤n_slices rows/lang",
    "events_topk_users_per_type": "(event_type) = slice-offsets frame, ≤n_slices rows/type",
    "events_outlier_iqr": "(event_type) = slice-offsets frame, ≤n_slices rows/type",
    # bounded-grain frames under the window (not raw rows)
    "events_anomaly_zscore": "(event_type) over DAY-grain frame — calendar-bounded rows/type",
    "events_gap_fill": "(event_type) over dense CALENDAR frame — days/type",
    "events_quantile_histogram": "(event_type, week) over fixed histogram BINS — constant rows/group",
    "window_running_sum": "(l_returnflag) over DAY-grain aggregate — calendar-bounded",
    "orders_abc_classification": "(band)+() = banded prefix scan — grain/band_width rows per band; the global window is the one-row-per-BAND summary prefix",
    "skyline_parts": "(band)+() = banded running-min — price-grain/band_width rows per band; the global window is the one-row-per-BAND summary prefix",
    "docs_source_cap": "(source) = phase-2 over ≤ SALT×N phase-1 survivors (80 rows/source); phase-1 is (source, salt)",
    "embedding_label_outliers": "(label) over per-vector d² frame — bounded ≲1.9e4 vectors/label by the documented DRIFT_Q int64 envelope (shrink DRIFT_Q past it)",
    # GLOBAL windows (empty partition spec, r11 verdict #4): each runs
    # over a deliberately bounded-grain frame, never raw rows
    "window_lag_delta": "() over DAY-grain aggregate — calendar-bounded rows",
    "window_range_7day": "() over DAY-grain aggregate — calendar-bounded rows",
    "events_error_budget": "() = day-grain burn-down prefix — calendar-bounded rows",
    "events_conversion_latency": "() = latency-grain CDF — ≤1801 distinct gap_s by the 30-min join cap",
    "ntile_customer_quartiles": "() = running sum over DISTINCT c_acctbal — value-domain-bounded (fixed range, 2 decimals)",
    "percent_rank_suppliers": "() = running sum over DISTINCT s_acctbal — value-domain-bounded",
    "text_vocab_coverage": "() = prefix over distinct frequency LEVELS — O(√corpus_tokens) rows by Zipf",
    "text_heavy_hitters": "() = rank over merged Misra-Gries sketch — ≤ n_tasks×HH_K rows by sketch size",
    "dq_distribution_drift": "() = global sum over the PSI bucket grid — PSI_BUCKETS (16) rows",
    "dq_benford_audit": "() = global sum over first-digit counts — ≤ 9 rows",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )

    spark = get_spark_session(app_name="plan-audit", master="local[8]",
                              shuffle_partitions=8)
    queries = all_queries()

    rows = []
    failures = []
    window_flags: dict[str, list[tuple[str, ...]]] = {}
    for name in sorted(queries):
        try:
            df = queries[name](spark, sf_dir)
            rep = plan_report(df)
        except Exception as e:  # noqa: BLE001 - record, keep auditing
            failures.append((name, repr(e)[:200]))
            continue
        rows.append((
            name, rep.n_scans, rep.exchanges, rep.broadcast_joins,
            rep.shuffle_joins,
            "ROW-PYTHON" if rep.python_eval else
            ("udtf" if rep.python_udtf else
             ("arrow" if rep.arrow_eval else "-")),
        ))
        # empty spec (global window) ⇒ set() <= LOW_CARD_COLS flags it
        flagged = [
            s
            for s in window_partition_specs(rep.plan)
            if set(s) <= LOW_CARD_COLS and SLICE_COL not in s
        ]
        if flagged:
            window_flags[name] = flagged

    n_python = sum(1 for r in rows if r[5] == "ROW-PYTHON")
    n_arrow = sum(1 for r in rows if r[5] == "arrow")
    n_udtf = sum(1 for r in rows if r[5] == "udtf")

    lines = [
        "# PLANS — physical-plan digest of the full query surface",
        "",
        f"Generated by `scripts/plan_audit.py` at `{sf_dir}` on "
        f"{time.strftime('%Y-%m-%d')}. One row per `queries()` entry; "
        "numbers are parsed from `explain(formatted)` by "
        "`plans/analyze.py::plan_report` (the same parser "
        "`tests/test_plans.py` pins regressions with).",
        "",
        "Columns: **scans** = parquet scan nodes; **exch** = Exchange",
        "nodes (shuffles or broadcast distributions); **bjoin/sjoin** =",
        "broadcast vs shuffle (sort-merge or shuffled-hash) join nodes;",
        "**py** = Python evaluation in the plan (`-` none, `arrow` =",
        "the deliberate Arrow-vectorized paths, `udtf` = the deliberate",
        "Python table function, `ROW-PYTHON` = the forbidden slow path",
        "— must never appear).",
        "",
        f"**{len(rows)} queries audited — {n_python} with row-Python "
        f"(target: 0), {n_arrow} Arrow-vectorized, {n_udtf} Python UDTF.**",
        "",
        "| query | scans | exch | bjoin | sjoin | py |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | {r[5]} |")

    unjustified = sorted(set(window_flags) - set(WINDOW_JUSTIFICATIONS))
    lines += [
        "",
        "## Low-cardinality / global window audit (r10 verdict #5, r11 #4)",
        "",
        "Queries whose plan contains a Window partitioned ONLY by",
        "low-cardinality columns, or not partitioned at all (`()` —",
        "the \"No Partition Defined for Window\" warnings in the",
        "driver's bench log; one task for the WHOLE input unless the",
        "frame is bounded-grain or the sort is range-sliced —",
        "`functions/windows.py`; sliced windows carry `__slice_id__`",
        "and never flag). Each flag needs a grain justification in",
        "`scripts/plan_audit.py::WINDOW_JUSTIFICATIONS`; an",
        "unjustified flag fails this audit and",
        "`test_low_card_windows_are_justified`.",
        "",
        "| query | flagged partition specs | justification |",
        "|---|---|---|",
    ]
    for n in sorted(window_flags):
        spec = "; ".join("(" + ", ".join(s) + ")" for s in window_flags[n])
        just = WINDOW_JUSTIFICATIONS.get(n, "**UNJUSTIFIED**")
        lines.append(f"| {n} | {spec} | {just} |")
    stale = sorted(set(WINDOW_JUSTIFICATIONS) - set(window_flags))
    if stale:
        lines += ["", f"Stale justifications (no longer flagged): {stale}"]

    if failures:
        lines += ["", "## Failed to plan", ""]
        lines += [f"- {n}: {e}" for n, e in failures]

    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {len(failures)} failures, "
          f"{n_python} row-python, {len(unjustified)} unjustified low-card "
          f"windows{': ' + str(unjustified) if unjustified else ''}")
    spark.stop()
    return 1 if (failures or n_python or unjustified) else 0


if __name__ == "__main__":
    sys.exit(main())
