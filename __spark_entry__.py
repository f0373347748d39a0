"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's gold
daily-join shape, SURVEY.md §3.3, mapped onto the star schema) on
sf0.001. ``queries()`` exposes the full operator surface from
SURVEY.md §2 (+ §2.10 extensions) — 220 queries as of round 5, 213
DuckDB-oracled; ``oracle_sql()`` gives each one's twin where
ANSI-SQL-expressible (the handful of rows-only exemptions —
engine-specific sketches/estimates and the Arrow/numpy fast path —
are enumerated and error-gated; see tests/test_entry_rotation.py).

The driver's correctness gate stamps at most ~50 queries per round
(CORRECTNESS_r01/r02 both cut off at exactly 50 entries), so
``queries()`` orders the surface by staleness alone, read from the
recorded ``CORRECTNESS_r*.json`` files: never-stamped queries first,
then by the round of each query's last passing stamp (oldest first),
then by its passing-stamp count; remaining ties keep registration
order. Over successive rounds this rotates driver coverage across the
whole query surface with no manual curation. Ordering changes nothing
semantically — every query remains independently runnable.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from energy_data_pipeline_project_spark.operators import all_oracles, all_queries
from energy_data_pipeline_project_spark.operators.relational import gold_daily_join


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return gold_daily_join(spark, "/root/testdata/sf0.001")


def _stamp_stats(
    root: str | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """Per-query (passing-stamp count, last passing round index).

    A row counts as a passing stamp when the value-hash matched, or —
    for deliberately oracle-less queries — when the rows-only check ran
    (``err == "no_oracle"`` with a recorded row count). Failed rows do
    NOT count, so a query that failed a round sorts back to the front
    for a re-check.  ``root`` overrides the stamp-file directory (tests
    synthesize future-round files to pin the numeric sort).
    """
    counts: dict[str, int] = {}
    last: dict[str, int] = {}
    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))

    def _round_num(path: str) -> int:
        # numeric sort: lexicographic would put r100 before r11
        # (r07 advisor); non-conforming names sort first, harmlessly
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else -1

    paths = sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_num
    )
    for idx, path in enumerate(paths):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            passed = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if passed:
                counts[name] = counts.get(name, 0) + 1
                last[name] = idx
    return counts, last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = all_queries()
    counts, last = _stamp_stats()
    order = list(qs)
    # STALENESS-primary: never-stamped queries (last = -1) lead, then
    # whichever queries' most recent passing stamp is oldest — a failed
    # row earns no stamp, so failures also sort back to the front.
    # Count breaks recency ties (fewer lifetime stamps re-check first);
    # the stable sort leaves remaining ties in registration order.
    order.sort(key=lambda n: (last.get(n, -1), counts.get(n, 0)))
    return {name: qs[name] for name in order}


def oracle_sql() -> dict[str, str]:
    return all_oracles()
