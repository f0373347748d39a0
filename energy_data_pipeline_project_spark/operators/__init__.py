"""Query surface registry.

Each operator module registers named queries (PySpark callables
``(spark, sf_dir) -> DataFrame``) and, where ANSI-SQL-expressible, a
DuckDB oracle twin. ``all_queries()`` / ``all_oracles()`` merge them for
``__spark_entry__.py``.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


# Operator modules in registration order (later modules win on a name
# clash). Imported lazily so importing this package stays cheap.
_MODULES = (
    "relational",
    "tpch_shapes",
    "timeseries",
    "warehouse",
    "dedup",
    "similarity",
    "clustering",
    "graph",
    "text",
    "multimodal",
    "curation",
    "training",
    "pq",
)


def _merged(attr: str) -> dict:
    out: dict = {}
    for name in _MODULES:
        out.update(getattr(import_module(f".{name}", __name__), attr))
    return out


def all_queries() -> dict[str, QueryFn]:
    return _merged("QUERIES")


def all_oracles() -> dict[str, str]:
    return _merged("ORACLES")


# Gate carried by each DELIBERATELY oracle-less query (the driver
# records a weaker rows-only check for these; r10 verdict #7 wants the
# list emitted mechanically so docs can't drift). Keys must equal
# all_queries() - all_oracles() exactly — rows_only_exemptions()
# raises on any mismatch, and tests/test_coverage_doc.py pins the
# rendered block in COVERAGE.md.
_ROWS_ONLY_GATES: dict[str, str] = {
    "agg_approx_distinct": (
        "HLL estimate vs exact COUNT(DISTINCT), relative error asserted "
        "(tests/test_approx_estimators.py::test_hll_distinct_within_rsd)"
    ),
    "agg_approx_percentile": (
        "GK sketch vs exact percentiles, rank-error bound asserted "
        "(test_approx_percentile_within_tolerance)"
    ),
    "ann_topk_numpy": (
        "Arrow/BLAS path, results asserted EQUAL to the oracle-checked "
        "ann_topk_bruteforce (test_numpy_topk_matches_bruteforce_at_sf01)"
    ),
    "events_sketch_rollup": (
        "daily HLL sketches merged weekly, estimate-vs-exact error gated "
        "(tests/test_approx_estimators.py::test_sketch_rollup_error)"
    ),
    "events_dau_mau_sketch": (
        "sketch DAU/MAU vs the oracle-checked exact events_dau_mau, "
        "error gated (test_dau_mau_sketch_error)"
    ),
    "text_heavy_hitters": (
        "Misra-Gries summaries: underestimate + n/(k+1) error bound "
        "asserted vs exact counts (test_heavy_hitters_distributed_guarantees)"
    ),
    "embedding_label_spectrum": (
        "per-label covariance spectrum via applyInPandas, exactness "
        "pinned vs in-process numpy (test_label_spectrum_matches_local_numpy)"
    ),
}


def rows_only_exemptions() -> dict[str, str]:
    """The deliberately oracle-less queries and the quality/error gate
    each one carries. Derived-set equality is enforced here: a new
    oracle-less query (or a newly-oracled one) must update
    :data:`_ROWS_ONLY_GATES` or every caller fails loudly."""
    derived = set(all_queries()) - set(all_oracles())
    if derived != set(_ROWS_ONLY_GATES):
        raise AssertionError(
            "rows-only exemption drift: "
            f"derived-only={sorted(derived - set(_ROWS_ONLY_GATES))} "
            f"documented-only={sorted(set(_ROWS_ONLY_GATES) - derived)}"
        )
    return dict(_ROWS_ONLY_GATES)


def rows_only_exemptions_md() -> str:
    """The COVERAGE.md block tests/test_coverage_doc.py pins."""
    lines = [
        "<!-- rows-only-exemptions:begin -->",
        "**Rows-only exemptions** (generated from "
        "`operators.rows_only_exemptions()`; the driver records a "
        "rows-only check for these, every one carries a quality/error "
        "gate in tests; `test_coverage_doc` fails on drift):",
        "",
    ]
    for name, gate in sorted(rows_only_exemptions().items()):
        lines.append(f"- `{name}` — {gate}")
    lines.append("<!-- rows-only-exemptions:end -->")
    return "\n".join(lines)
