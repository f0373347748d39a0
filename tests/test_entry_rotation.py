"""The driver contract's rotating coverage: queries() must order
never-stamped queries ahead of repeatedly-stamped ones so the driver's
~50-query correctness window sweeps the whole surface across rounds."""

from __future__ import annotations

import importlib
import sys


def _entry():
    sys.path.insert(0, "/root/repo")
    try:
        return importlib.import_module("__spark_entry__")
    finally:
        sys.path.pop(0)


def test_stalest_stamps_sort_first():
    """Data-driven (r05 lesson: hard-coded example names go stale the
    moment the driver stamps them): since r07 the rotation is
    STALENESS-primary — last-passing-stamp rounds are non-decreasing
    along the returned order (never-stamped = -1 leads), so the
    driver's ~50-query window always re-checks the least-recently
    verified queries first. (Count-primary was the r04-r06 invariant,
    right while dozens of queries had no stamp at all; with full
    coverage it left the oldest stamps behind every once-stamped
    query — r06 verdict #2.) Count still breaks recency ties, also
    non-decreasing within a recency tier."""
    E = _entry()
    order = list(E.queries())
    counts, last = E._stamp_stats()
    # gold_daily_join has a passing stamp in every recorded round
    assert counts.get("gold_daily_join", 0) >= 2
    recency_seq = [last.get(n, -1) for n in order]
    assert recency_seq == sorted(recency_seq)
    for rnd in set(recency_seq):
        tier = [counts.get(n, 0) for n in order if last.get(n, -1) == rnd]
        assert tier == sorted(tier)


def test_ties_keep_registration_order():
    """Staleness is the only ordering rule: within one (last stamp,
    stamp count) tier, queries() lists names in all_queries()
    registration order — no hand-kept queue-jump list reorders a
    tier."""
    from energy_data_pipeline_project_spark.operators import all_queries

    E = _entry()
    counts, last = E._stamp_stats()
    registered = list(all_queries())
    order = list(E.queries())
    assert sorted(order) == sorted(registered)
    for tier in {(last.get(n, -1), counts.get(n, 0)) for n in order}:
        in_tier = [
            n for n in order if (last.get(n, -1), counts.get(n, 0)) == tier
        ]
        members = set(in_tier)
        assert in_tier == [n for n in registered if n in members], tier


def test_stamp_round_sort_survives_double_digit_rounds(tmp_path):
    """Commit 8b5fc8f made the stamp-file ordering numeric; the
    existing invariant test covers recency over the REAL files, which
    are all single-digit rounds today, so it cannot catch a
    lexicographic regression at the r9→r10 and r99→r100 boundaries
    ("r10" < "r9" and "r100" < "r11" as strings). Synthesize those
    rounds and assert the last-stamp indices follow numeric round
    order (r07 verdict #6)."""
    import json

    E = _entry()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"qa": ok}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"qa": ok, "qb": ok})
    )
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps({"qc": ok}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps({"qd": ok}))
    counts, last = E._stamp_stats(str(tmp_path))
    # numeric order r9 < r10 < r11 < r100 → indices 0..3
    assert last == {"qa": 1, "qb": 1, "qc": 2, "qd": 3}
    assert counts == {"qa": 2, "qb": 1, "qc": 1, "qd": 1}


def test_failed_rows_do_not_count_as_stamps():
    E = _entry()
    counts = E._stamp_stats()[0]
    # rows-only queries with recorded row counts DO count (weaker check
    # is still driver coverage); a no_oracle row with rows is a stamp
    assert counts.get("events_sketch_rollup", 0) >= 1


def test_every_query_has_oracle_or_documented_exemption():
    E = _entry()
    q, o = set(E.queries()), set(E.oracle_sql())
    rows_only = q - o
    # the exemption list is intentionally tiny and fixed — growth here
    # means someone skipped writing an oracle
    assert rows_only <= {
        "ann_topk_numpy",
        "agg_approx_distinct",
        "agg_approx_percentile",
        "events_sketch_rollup",
        "embedding_label_spectrum",
        "text_heavy_hitters",  # MG sketch: approximate by design,
        # error bound asserted vs exact counts in test_training_ops
        "events_dau_mau_sketch",  # HLL estimates are engine-specific;
        # within-5%-of-exact gate in test_approx_estimators
    }, rows_only


def test_no_complex_types_in_query_outputs(spark):
    """Driver contract: the driver's canonicalizer sorts results
    through pandas and crashes on list-typed cells (r05 verdict —
    `embedding_random_projection`'s array<bigint> was the sole red).
    Plan-only audit: no registered query may expose a top-level
    array/map/struct/binary output column. Emit CSV-joined strings or
    exploded scalar rows instead."""
    from pyspark.sql import types as T

    from energy_data_pipeline_project_spark.operators import all_queries

    from .conftest import SF_SMOKE

    complex_types = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    offenders = {}
    for name, fn in all_queries().items():
        schema = fn(spark, SF_SMOKE).schema
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, complex_types)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"complex-typed query outputs: {offenders}"


def test_registered_query_names_match_function_names():
    """A helper inserted between a @query decorator and its def gets
    silently registered AS the query (bit twice in round 5). Pin:
    every registered callable's __name__ equals its registration key,
    so the class of mistake fails loudly here instead of at the
    driver."""
    from energy_data_pipeline_project_spark.operators import all_queries

    mismatched = {
        name: fn.__name__
        for name, fn in all_queries().items()
        if fn.__name__ != name
    }
    assert not mismatched, mismatched
