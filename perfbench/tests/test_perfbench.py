"""Tests for the benchmark's own arithmetic, inputs and wrappers.

Run with ``python -m pytest perfbench/tests -q``; none starts Spark.
"""

from __future__ import annotations

import ast
import importlib
import json
import pkgutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import hoststats  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


# --- percentile rule --------------------------------------------------------
def test_p90_only_with_ten_samples_beyond_it():
    assert set(run.tail_percentiles([1.0] * 99)) == {"p50"}
    xs = [float(i) for i in range(1, 101)]
    got = run.tail_percentiles(xs)
    assert set(got) == {"p50", "p90"}
    assert got["p50"] == 50.5
    assert got["p90"] == 90.0
    assert sum(x > got["p90"] for x in xs) == 10
    assert "p99" in run.tail_percentiles([float(i) for i in range(1000)])


def test_p50_of_odd_pass_sits_on_middle_query():
    # five queries x two passes: the median lies inside the third
    # query's pair of samples, not between two clusters
    samples = [1.0, 1.01, 2.0, 2.02, 3.0, 3.03, 4.0, 4.04, 5.0, 5.05]
    assert 3.0 <= run.tail_percentiles(samples)["p50"] <= 3.03


# --- self time --------------------------------------------------------------
def _s(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "t0")


def test_self_time_subtracts_children():
    spans = [_s(0, 0.0, 10.0), _s(1, 1.0, 3.0, 0), _s(2, 4.0, 8.0, 0), _s(3, 5.0, 6.0, 2)]
    got = tracing.self_times(spans)
    assert got == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = [_s(0, 0.0, 10.0), _s(1, 2.0, 6.0, 0), _s(2, 4.0, 12.0, 0)]
    got = tracing.self_times(spans)
    assert got[0] == pytest.approx(2.0)  # children cover [2, 10]


def test_tracer_nests_spans_and_labels_job_groups():
    class FakeSC:
        def __init__(self):
            self.groups = []

        def setLocalProperty(self, key, value):
            assert key == "spark.jobGroup.id"
            self.groups.append(value)

    sc = FakeSC()
    tr = tracing.Tracer(sc=sc)
    tr.op = "t3"
    with tr.span("op"):
        with tr.span("operators.build"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert sc.groups == ["t3|op|0", "t3|operators.build|1", "t3|op|0", "t3|-|-1"]


def test_disabled_tracer_calls_through_and_records_nothing():
    class FakeSC:
        def __init__(self):
            self.groups = []

        def setLocalProperty(self, key, value):
            self.groups.append(value)

    sc = FakeSC()
    tr = tracing.Tracer(sc=sc, enabled=False)
    wrapped = tr.wrap(lambda x: x + 1, "layer")
    with tr.span("op"):
        assert wrapped(1) == 2
    assert tr.spans == [] and sc.groups == []
    tr.set_enabled(True)
    assert wrapped(1) == 2 and [s.name for s in tr.spans] == ["layer"]
    tr.set_enabled(False)
    assert sc.groups[-1] is None  # untraced jobs carry no span's label


# --- seed determinism -------------------------------------------------------
def _table_bytes(seed, tmp_path):
    out = tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}"
    inputs.write_tables(seed, str(out))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_same_seed_same_inputs(tmp_path):
    assert _table_bytes(7, tmp_path) == _table_bytes(7, tmp_path)
    a, b = inputs.make_payloads(7), inputs.make_payloads(7)
    assert json.dumps(a) == json.dumps(b)
    assert inputs.op_order(list(run.CURATION_QUERIES), 7) == inputs.op_order(
        list(run.CURATION_QUERIES), 7
    )


def test_other_seed_other_inputs(tmp_path):
    ta, tb = _table_bytes(7, tmp_path), _table_bytes(8, tmp_path)
    assert ta.keys() == tb.keys()
    assert ta["documents.parquet"] != tb["documents.parquet"]
    assert ta["embeddings.parquet"] != tb["embeddings.parquet"]
    assert json.dumps(inputs.make_payloads(7)) != json.dumps(inputs.make_payloads(8))
    assert inputs.backfill_days(7) != inputs.backfill_days(8)
    assert inputs.op_order(list(run.CURATION_QUERIES), 7) != inputs.op_order(
        list(run.CURATION_QUERIES), 8
    )


def test_expected_counts_follow_silver_rules():
    day = "2020-01-01"
    ts = [1577836800.0, 1577837700.0, 1577838600.0]
    payloads = {
        "public_power_de": {day: {"unix_seconds": ts, "production_types": [
            {"name": " Wind Offshore ", "data": [1.0, None, 3.0]},
            {"name": "Solar", "data": [1.0, 2.0]},  # short: zip pads, row dropped
            {"name": "Nuclear", "data": [None, None, None]},
        ]}},
        "price_de_lu": {day: {"unix_seconds": ts, "prices": [5.0, -1.0, None]}},
    }
    assert inputs.expected_counts(payloads) == {
        "silver/public_power_de": 4,
        "silver/price_de_lu": 2,
        "gold/power_daily_by_type": 2,
        "gold/price_daily": 1,
        "gold/power_price_daily": 1,
    }


# --- /proc/stat -------------------------------------------------------------
PROC_STAT = """cpu  100 5 50 800 10 1 2 40 7 0
cpu0 50 2 25 400 5 0 1 20 0 0
intr 12345
"""


def test_parse_proc_stat_reads_aggregate_line():
    # user nice system idle iowait irq softirq steal; guest excluded
    assert hoststats.parse_proc_stat(PROC_STAT) == (1008, 40)


def test_steal_pct_between_readings():
    assert hoststats.steal_pct((1000, 40), (1400, 60)) == pytest.approx(5.0)
    assert hoststats.steal_pct((1000, 40), (1000, 40)) == 0.0
    with pytest.raises(ValueError):
        hoststats.parse_proc_stat("intr 1\n")


# --- event log --------------------------------------------------------------
def test_fold_event_log_groups_jobs_stages_and_aqe():
    def acc(name, value):
        return {"Name": name, "Value": value}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t0|spark.exec|3", "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
                acc("internal.metrics.executorRunTime", 120),
                acc("internal.metrics.executorCpuTime", 2_000_000),
                acc("internal.metrics.shuffle.write.bytesWritten", 10),
                acc("internal.metrics.diskBytesSpilled", 3)]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 2, "Accumulables": [
                acc("internal.metrics.shuffle.read.localBytesRead", 6),
                acc("internal.metrics.shuffle.read.remoteBytesRead", 4)]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 5},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "t0|sources.load_table|2"}},
    ]
    got = tracing.fold_event_log(json.dumps(e) for e in events)
    ex = got["t0|spark.exec|3"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 2, 6)
    assert (ex["run_ms"], ex["cpu_ms"], ex["spill_bytes"]) == (120, 2.0, 3)
    assert (ex["shuffle_write_bytes"], ex["shuffle_read_bytes"]) == (10, 10)
    assert ex["aqe_updates"] == 1
    assert got["t0|sources.load_table|2"]["jobs"] == 1


def test_job_wall_counts_overlapping_jobs_once():
    def job(i, group, t0, t1):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": t0,
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": t1},
        ]

    lines = [json.dumps(e) for e in
             job(0, "t0|x|1", 1000, 3000) + job(1, "t0|x|2", 2000, 4000)
             + job(2, "check|x|3", 5000, 9000) + job(3, "t1|x|4", 6000, 6500)]
    assert run.job_wall_s(lines, {"t0", "t1"}) == pytest.approx(3.5)


# --- wrapper coverage -------------------------------------------------------
def _engine_modules():
    pkg = importlib.import_module(tracing.PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if not info.name.endswith("__main__"):
            importlib.import_module(info.name)
    return Path(pkg.__file__).parent


def _importers(pkg_dir: Path, func: str) -> set[str]:
    """Modules binding ``func`` by name at module level."""
    found = set()
    for path in pkg_dir.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and any(a.name == func for a in node.names):
                rel = path.relative_to(pkg_dir.parent).with_suffix("")
                name = ".".join(rel.parts)
                found.add(name[: -len(".__init__")] if name.endswith(".__init__") else name)
    return found


def test_load_table_wrapped_at_every_binding():
    pkg_dir = _engine_modules()
    tables = sys.modules[f"{tracing.PACKAGE}.sources.tables"]
    orig = tables.load_table
    importers = _importers(pkg_dir, "load_table")
    assert len(importers) >= 14 and sum(".operators." in m for m in importers) >= 12
    tr = tracing.Tracer()
    done = tracing.wrap_everywhere(tr, tables, "load_table", "sources.load_table")
    try:
        patched = {b.rsplit(".", 1)[0] for b in done}
        assert importers <= patched, importers - patched
        assert f"{tracing.PACKAGE}.sources.tables" in patched  # local imports
        leftover = [
            f"{n}.{k}" for n, m in sys.modules.items() if n.startswith(tracing.PACKAGE)
            for k, v in vars(m).items() if v is orig
        ]
        assert not leftover
    finally:
        for b in done:
            mod, key = b.rsplit(".", 1)
            setattr(sys.modules[mod], key, orig)


def test_every_layer_wrapper_binds_somewhere():
    _engine_modules()
    originals = {}
    for name in run.LAYER_FUNCS:
        for mod_name, attr in run.LAYER_FUNCS[name]:
            mod = sys.modules[mod_name]
            originals[(mod_name, attr)] = getattr(mod, attr)
    tr = tracing.Tracer()
    bindings = run.install_tracer(tr)
    try:
        assert all(bindings[name] for name in run.LAYER_FUNCS), bindings
        for (mod_name, attr), orig in originals.items():
            assert all(
                v is not orig for n, m in sys.modules.items()
                if n.startswith(tracing.PACKAGE) for v in vars(m).values()
            ), f"{mod_name}.{attr} left unwrapped"
    finally:
        for (mod_name, attr), orig in originals.items():
            for n, m in list(sys.modules.items()):
                if n.startswith(tracing.PACKAGE):
                    for k, v in list(vars(m).items()):
                        if getattr(v, "__wrapped_original__", None) is orig:
                            setattr(m, k, orig)
