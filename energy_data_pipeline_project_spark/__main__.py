"""CLI entry point: run the full medallion pipeline.

Mirrors the reference's ``python -m src.main`` flow
(/root/reference/src/main.py: config → session → ingest → silver →
gold → verification counts) as ``python -m
energy_data_pipeline_project_spark``:

    python -m energy_data_pipeline_project_spark \
        --config examples/config.yaml --source fixtures

``--source fixtures`` runs hermetically on the deterministic payload
generator; ``--source rest`` ingests from the live Energy-Charts API
with the reference's request semantics.
"""

from __future__ import annotations

import argparse
import sys

from .pipeline.config import load_config
from .pipeline.runner import run_pipeline
from .session import get_spark_session
from .sources.fixtures import fixture_payloads
from .sources.payloads import LocalJsonSource, RestSource


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="energy_data_pipeline_project_spark")
    ap.add_argument("--config", required=True, help="pipeline YAML config")
    ap.add_argument(
        "--source",
        choices=("fixtures", "rest", "dir"),
        default="fixtures",
        help="payload source: deterministic fixtures, live REST API, "
        "or a directory of {dataset}/{date}.json files",
    )
    ap.add_argument("--payload-dir", help="payload directory for --source dir")
    ap.add_argument(
        "--distributed-fetch",
        action="store_true",
        help="fetch payloads executor-side (mapInPandas over the "
        "(dataset, day) task list) instead of the driver loop — use "
        "for long backfills",
    )
    ap.add_argument(
        "--quarantine",
        action="store_true",
        help="split malformed bronze payloads into a "
        "silver/<name>_quarantine table (full row + reason) instead "
        "of silently yielding zero silver rows",
    )
    ap.add_argument(
        "--compact-after",
        action="store_true",
        help="compact every gold table after the run (small-file "
        "rewrite + atomic swap) — the maintenance step a daily "
        "incremental deployment schedules periodically",
    )
    args = ap.parse_args(argv)

    config = load_config(args.config)
    if args.source == "fixtures":
        days = [d.isoformat() for d in config.dates()]
        source = LocalJsonSource(fixture_payloads(days))
    elif args.source == "dir":
        if not args.payload_dir:
            ap.error("--source dir requires --payload-dir")
        source = LocalJsonSource(root_dir=args.payload_dir)
    else:
        source = RestSource(config)

    spark = get_spark_session(app_name="energy-pipeline")
    try:
        result = run_pipeline(
            spark, config, source,
            distributed_fetch=args.distributed_fetch,
            quarantine=args.quarantine,
        )
        if args.compact_after:
            from .pipeline.lake import compact_table, read_table, table_path

            for name in list(result.gold):
                path = table_path(config.lake_root, "gold", name)
                n_files = compact_table(spark, path, fmt=config.table_format)
                # the stored frame's file listing points at the
                # pre-swap files — re-read so the verification block
                # counts the compacted table
                result.gold[name] = read_table(
                    spark, path, fmt=config.table_format
                )
                print(f"compacted gold/{name} -> {n_files} file(s)")
        # verification block, like the reference's main.py:83-110 —
        # but silver/gold counts come from the WRITE pass (Observation
        # API), printed first; the re-read counts() remain the
        # independent cross-check of what actually landed on disk.
        for table, metrics in sorted(result.observed.items()):
            extras = {k: v for k, v in metrics.items() if k != "n_rows"}
            suffix = f" {extras}" if extras else ""
            print(f"{table}: {metrics['n_rows']} rows (observed){suffix}")
        for table, n in sorted(result.counts().items()):
            print(f"{table}: {n} rows")
        if "power_price_daily" in result.gold:
            result.gold["power_price_daily"].orderBy("date").show(
                10, truncate=False
            )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
