#!/usr/bin/env python3
"""Session benchmark for the engine: one closed-loop client per run.

    python3 perfbench/run.py --workload curation_session --seed 1 --seconds 16 --trace 0

Makes every input from ``--seed`` inside the checkout, starts one Spark
session, runs two untimed warm passes over the workload's ops, then
times as many whole passes as ``--seconds`` buys, checks every output
and prints one JSON line last: ``--trace 0`` gives the end-to-end
metrics, ``--trace 1`` the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import hoststats  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

# Pinned so runs on bigger hosts stay comparable; 4g is the heap every
# query here was measured with (the engine's 16g default exceeds a 15 GB
# host).
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "4g"

# The dedup/similarity tier: the only ops that lean on the
# artifact store, the persisted-frame registry, Arrow/pandas UDFs and
# shuffle-heavy self-joins. An odd count keeps the pass median on one
# query's samples rather than on the gap between two, and the five
# sit at distinct cost levels (~0.5, 0.8, 1.0, 1.3, 1.9 s warm here)
# so the 3rd-ranked query's samples hold the median.
CURATION_QUERIES = (
    "dedup_minhash_lsh",  # in-plan LSH, persisted signature frames
    "text_containment",  # shingle_postings artifact
    "dedup_semantic",  # sem_ec artifact, semantic pair stage
    "ann_topk_numpy",  # mapInPandas + numpy (Arrow path)
    "text_fingerprint",  # per-row hashing, no shuffle-heavy stage
)
# The engine keeps speeding up over a query's first executions in a JVM
# (JIT of the generated code): the second run of a curation query is
# still up to 2x slower than the third. Timing starts at the third.
WARM_PASSES = 2
# Oracle-less queries are checked against an oracled exact twin.
TOPK_TWIN = {"ann_topk_numpy": "ann_topk_bruteforce"}


def tail_percentiles(samples: list[float]) -> dict[str, float]:
    """p50 always; a higher percentile only when at least ten samples
    lie beyond it (nearest-rank)."""
    xs = sorted(samples)
    out = {"p50": statistics.median(xs)}
    for p in (90, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = xs[-(-len(xs) * p // 100) - 1]
    return out


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------
class Collected:
    """Rows an op already collected, in the shape ``compare_query`` reads."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows = columns, rows

    def collect(self) -> list:
        return self.rows


class CurationSession:
    """Dedup, similarity and ANN queries over the generated corpus.

    An op collects its result (every result here is at most a few
    hundred rows): the client waits for the rows, and the output check
    compares the rows the last timed pass returned instead of running
    every query once more."""

    size = "500 documents + 500 64-d embeddings (sf0.01-shaped tables)"
    pass_s = 5.5  # nominal timed-pass wall on a 4-core host; sets the pass count

    def __init__(self, seed: int, work: Path):
        from energy_data_pipeline_project_spark.operators import all_oracles, all_queries

        self.sf_dir = str(work / "data")
        inputs.write_tables(seed, self.sf_dir)
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.names = inputs.op_order(list(CURATION_QUERIES), seed)
        self.results: dict[str, Collected] = {}

    def op(self, spark, name: str, tr, traced: bool) -> dict:
        from energy_data_pipeline_project_spark.operators.dedup import release_cached_frames

        self.results.pop(name, None)
        with tr.span("operators.build"):
            df = self.queries[name](spark, self.sf_dir)
        if traced:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            self.results[name] = Collected(df.columns, df.collect())
        with tr.span("operators.release"):
            release_cached_frames()
        return {}

    def check(self, spark) -> list[str]:
        from energy_data_pipeline_project_spark.testing import compare_query

        bad = []
        for name in self.names:
            got = self.results.get(name)
            try:
                if got is None:
                    detail = "no result from the last pass"
                elif name in TOPK_TWIN:
                    detail = self._check_topk(got, TOPK_TWIN[name])
                else:
                    r = compare_query(
                        spark, self.sf_dir, name, lambda s, d: got, self.oracles[name]
                    )
                    detail = "" if r.ok else r.detail
            except Exception as e:  # a crashing check is a failed check
                detail = f"{type(e).__name__}: {e}"
            if detail:
                bad.append(f"{name}: {detail}")
        return bad

    def _check_topk(self, got: Collected, twin: str) -> str:
        """Same gate as the engine's own sf0.1 test: every query id of
        the exact twin's oracle present, mean recall@k >= 0.99."""
        from energy_data_pipeline_project_spark.testing import duck_connection

        con = duck_connection(self.sf_dir)
        try:
            res = con.execute(self.oracles[twin])
            exact = _neighbours([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        mine = _neighbours(got.columns, got.rows)
        if set(mine) != set(exact):
            return "query ids differ from the exact twin"
        recall = statistics.mean(len(mine[q] & hits) / len(hits) for q, hits in exact.items())
        return "" if recall >= 0.99 else f"recall@k {recall:.4f} < 0.99"


def _neighbours(columns: list[str], rows: list) -> dict[int, set]:
    qi, ni = columns.index("query_id"), columns.index("neighbor_id")
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r[qi], set()).add(r[ni])
    return out


class MedallionBackfill:
    """One op = one full bronze -> silver -> gold run into a fresh lake.
    Lakes stay until the run root is deleted, so their sizes can be read
    after the timed phase rather than inside an op's time."""

    size = f"{inputs.BACKFILL_DAYS}-day backfill: power 15-min x 10 types, price hourly"
    pass_s = 4.5

    def __init__(self, seed: int, work: Path):
        self.payloads = inputs.make_payloads(seed)
        self.days = inputs.backfill_days(seed)
        self.lakes = work / "lakes"
        self.names = ["backfill"]
        self.observed: list[dict] = []
        self.n = 0

    def op(self, spark, name: str, tr, traced: bool) -> dict:
        from energy_data_pipeline_project_spark.pipeline.config import (
            PipelineConfig,
            default_datasets,
        )
        from energy_data_pipeline_project_spark.pipeline.runner import run_pipeline
        from energy_data_pipeline_project_spark.sources.payloads import LocalJsonSource

        self.n += 1
        lake = self.lakes / f"op{self.n}"
        cfg = PipelineConfig(
            lake_root=str(lake),
            start_date=self.days[0],
            end_date=self.days[-1],
            datasets=default_datasets(),
        )
        with tr.span("pipeline.run"):
            res = run_pipeline(spark, cfg, LocalJsonSource(self.payloads))
        self.observed.append(res.observed)
        silver_rows = sum(
            v["n_rows"] for k, v in res.observed.items() if k.startswith("silver/")
        )
        return {"silver_rows": silver_rows, "lake": lake}

    def check(self, spark) -> list[str]:
        want = inputs.expected_counts(self.payloads)
        bad = []
        for i, obs in enumerate(self.observed):
            got = {k: v.get("n_rows") for k, v in obs.items()}
            if got != want:
                bad.append(f"op {i}: observed {got} != expected {want}")
            nulls = [k for k, v in obs.items() if v.get("nulls_timestamp")]
            if nulls:
                bad.append(f"op {i}: null timestamps in {nulls}")
        return bad


WORKLOADS = {
    "curation_session": CurationSession,
    "medallion_backfill": MedallionBackfill,
}


# ---------------------------------------------------------------------------
# Session and phases
# ---------------------------------------------------------------------------
def isolate(work: Path, event_log: bool) -> None:
    """Point every path the engine or Spark writes at this run's root.
    A traced run also keeps Spark's event log, uncompressed and
    non-rolling so the stdlib json parser reads it."""
    conf = work / "conf"
    conf.mkdir(parents=True)
    (work / "eventlog").mkdir()
    (conf / "spark-defaults.conf").write_text(
        f"spark.sql.warehouse.dir file://{work}/warehouse\n"
        f"spark.eventLog.enabled {str(event_log).lower()}\n"
        f"spark.eventLog.dir file://{work}/eventlog\n"
        "spark.eventLog.compress false\n"
        "spark.eventLog.rolling.enabled false\n"
    )
    (conf / "log4j2.properties").write_text(
        "rootLogger.level = error\n"
        "rootLogger.appenderRef.stderr.ref = console\n"
        "appender.console.type = Console\n"
        "appender.console.name = console\n"
        "appender.console.target = SYSTEM_ERR\n"
        "appender.console.layout.type = PatternLayout\n"
        "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_ARTIFACTS": str(work / "artifacts"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_CONF_DIR": str(conf),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    })


def run_pass(wl, spark, tr, log: list, label: str) -> None:
    from energy_data_pipeline_project_spark.pipeline.artifacts import drain_serve_log

    for name in wl.names:
        tr.op = f"{label}{len(log)}"
        t0 = time.perf_counter()
        err = ""
        info: dict = {}
        try:
            with tr.span("op", name):
                info = wl.op(spark, name, tr, tr.enabled)
        except Exception as e:  # closed loop: record the failure, go on
            err = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        serves = drain_serve_log()
        log.append({"op": tr.op, "traced": tr.enabled, "name": name, "s": dt,
                    "err": err, "serves": serves, **info})


def timed_phase(wl, spark, tr, plan: list[bool]) -> dict:
    """Whole passes, traced or not as ``plan`` says. The pass count is
    fixed, so every run of a workload times the same ops in the same
    positions: the engine keeps speeding up over its first runs in a
    JVM, and a pass count that varied with host speed would turn that
    drift into run-to-run spread."""
    log: list = []
    stat0 = hoststats.read_proc_stat()
    t0 = time.perf_counter()
    for traced in plan:
        tr.set_enabled(traced)
        run_pass(wl, spark, tr, log, "t" if traced else "u")
    wall = time.perf_counter() - t0
    tr.set_enabled(False)
    for rec in log:  # a timed op must never pay a cold artifact build
        if any(state == "cold" for _, state in rec["serves"]) and not rec["err"]:
            rec["err"] = "cold artifact serve inside the timed phase"
    return {
        "log": log, "passes": len(plan), "wall": wall,
        "steal_pct": hoststats.steal_pct(stat0, hoststats.read_proc_stat()),
    }


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = hoststats.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        killed = False
        while hoststats.alive(pid) and time.time() < deadline + 5:
            if time.time() > deadline and not killed:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
                killed = True
            time.sleep(0.05)
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------
def end_to_end(phase: dict, setup_s: float) -> dict:
    times = [r["s"] for r in phase["log"]]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (tail_percentiles(times)["p50"], "s"),
        "ops_per_s": (len(times) / phase["wall"], "1/s"),
    }


def per_layer(phase: dict, tr, spark_by_group: dict, serve_cold: int, extra: dict) -> dict:
    """Per-layer figures from the traced passes of a traced run."""
    log = [r for r in phase["log"] if r["traced"]]
    untraced = [r for r in phase["log"] if not r["traced"]]
    ops = {r["op"] for r in log}
    n_ops, passes = len(log), phase["traced_passes"]
    spans = [s for s in tr.spans if s.op in ops]
    selft = tracing.self_times(tr.spans)

    def total(name, tag=None, own=False):
        return sum(
            selft[s.sid] if own else s.end - s.start
            for s in spans if s.name == name and (tag is None or s.tag == tag)
        )

    def count(name):
        return sum(1 for s in spans if s.name == name)

    groups = {g: c for g, c in spark_by_group.items() if g.split("|")[0] in ops}

    def jobs(name):
        return sum(c["jobs"] for g, c in groups.items() if g.split("|")[1] == name)

    spark_tot = {k: sum(c[k] for c in groups.values()) for k in tracing.SPARK_COUNTERS}
    p50_t = tail_percentiles([r["s"] for r in log])["p50"]
    p50_u = tail_percentiles([r["s"] for r in untraced])["p50"]

    def mean_of(key):
        return statistics.mean(r.get(key, 0) for r in log)

    def lake_bytes_of(layer):  # bytes on disk per op, read after the timed phase
        return statistics.mean(
            sum(f.stat().st_size for f in (r["lake"] / layer).rglob("*") if f.is_file())
            if "lake" in r else 0
            for r in log
        )

    # silver + gold only: bronze stores the ingest wall clock
    # (ingested_at), so its compressed size moves by a few bytes per run
    lake_bytes = lake_bytes_of("silver") + lake_bytes_of("gold")
    return {
        "session.start_s": (extra["session_start_s"], "s"),
        "sources.load_table_s": (total("sources.load_table") / n_ops, "s"),
        "sources.load_table_calls": (count("sources.load_table") / passes, "count"),
        "sources.load_table_jobs": (jobs("sources.load_table") / passes, "count"),
        "operators.build_s": (total("operators.build", own=True) / n_ops, "s"),
        "operators.build_jobs": (jobs("operators.build") / passes, "count"),
        "operators.persisted_frames": (count("operators.persist") / passes, "count"),
        "operators.release_s": (total("operators.release") / n_ops, "s"),
        "artifacts.get_or_build_s": (total("artifacts.get_or_build") / n_ops, "s"),
        "artifacts.serve_cold": (serve_cold, "count"),
        "artifacts.serve_warm": (sum(
            1 for r in log for _, st in r["serves"] if st == "warm") / passes, "count"),
        "pipeline.bronze_s": (total("pipeline.bronze") / n_ops, "s"),
        "pipeline.silver_s": ((total("pipeline.silver") + total("pipeline.write", "silver")
                               + total("pipeline.read_table", "silver")) / n_ops, "s"),
        "pipeline.gold_s": ((total("pipeline.gold") + total("pipeline.write", "gold")
                             + total("pipeline.read_table", "gold")) / n_ops, "s"),
        "pipeline.write_s": (total("pipeline.write") / n_ops, "s"),
        "pipeline.read_table_s": (total("pipeline.read_table") / n_ops, "s"),
        "pipeline.silver_rows": (mean_of("silver_rows"), "count"),
        "pipeline.lake_bytes": (lake_bytes, "bytes"),
        "pipeline.write_amplification": (
            (lake_bytes + lake_bytes_of("bronze")) / extra["payload_bytes"]
            if extra.get("payload_bytes") else 0.0, "ratio"),
        "spark.plan_s": (total("spark.plan") / n_ops, "s"),
        "spark.exec_s": (extra["job_wall_s"] / n_ops, "s"),
        **{f"spark.{k}": (spark_tot[k] / passes, unit)
           for k, unit in tracing.SPARK_COUNTERS.items()},
        "bench.trace_overhead_frac": (p50_t / p50_u - 1.0, "ratio"),
        "peak_rss_mb": (extra["rss_mb"], "MB"),
        "host.steal_pct": (phase["steal_pct"], "%"),
        "host.calib_cpu_s": (extra["calib_cpu_s"], "s"),
    }


ENGINE = tracing.PACKAGE
# Span name -> the engine functions it wraps, as (defining module, name).
LAYER_FUNCS = {
    "sources.load_table": [(f"{ENGINE}.sources.tables", "load_table")],
    "operators.persist": [(f"{ENGINE}.operators._frames", "cached")],
    "artifacts.get_or_build": [(f"{ENGINE}.pipeline.artifacts", "get_or_build")],
    "pipeline.bronze": [(f"{ENGINE}.pipeline.ingestion", "ingest_dataset")],
    "pipeline.silver": [(f"{ENGINE}.pipeline.silver", "extract_timeseries")],
    "pipeline.gold": [
        (f"{ENGINE}.pipeline.gold", f)
        for f in ("power_daily_by_type", "price_daily", "power_price_daily")
    ],
    "pipeline.write": [
        (f"{ENGINE}.pipeline.lake", "write_table_observed"),
        (f"{ENGINE}.pipeline.lake", "write_table"),
    ],
    "pipeline.read_table": [(f"{ENGINE}.pipeline.lake", "read_table")],
}


def _lake_layer(args, kwargs) -> str:
    """Medallion layer of a lake call: write_table*(df, path), read_table(spark, path)."""
    path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
    return next((x for x in ("bronze", "silver", "gold") if f"/{x}/" in path), "")


def install_tracer(tr) -> dict[str, list[str]]:
    """Wrap each layer's public calls at every module binding."""
    import importlib

    out = {}
    for span, funcs in LAYER_FUNCS.items():
        tag_of = _lake_layer if span.startswith(("pipeline.write", "pipeline.read")) else None
        out[span] = [
            b for mod, attr in funcs
            for b in tracing.wrap_everywhere(tr, importlib.import_module(mod), attr, span, tag_of)
        ]
    return out


def job_wall_s(lines, ops: set[str]) -> float:
    """Wall time during which at least one Spark job of ``ops`` ran."""
    starts: dict[int, tuple[str, float]] = {}
    spans = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            starts[ev["Job ID"]] = (g, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            g, t0 = starts[ev["Job ID"]]
            if g.split("|")[0] in ops:
                spans.append((t0, ev["Completion Time"]))
    return tracing.covered(spans) / 1000.0


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    try:  # the engine must be importable from the checkout
        from energy_data_pipeline_project_spark.session import get_spark_session
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 3

    work = ROOT / ".perfbench" / "work" / f"{os.getpid()}-{time.time_ns()}"
    out_dir = ROOT / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    isolate(work, event_log=bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, work)
        walls = {"inputs_s": time.perf_counter() - t}
        t = time.perf_counter()
        spark = get_spark_session(app_name=f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t
        tr = tracing.Tracer(enabled=False)
        warm: list = []
        t = time.perf_counter()
        for _ in range(WARM_PASSES):
            run_pass(wl, spark, tr, warm, "w")
        walls["warm_s"] = time.perf_counter() - t
        serve_cold = sum(1 for r in warm for _, st in r["serves"] if st == "cold")
        setup_s = time.perf_counter() - T_PROCESS
        failed_setup = [f"warm {r['name']}: {r['err']}" for r in warm if r["err"]]

        # --seconds buys whole passes at the workload's nominal pass time
        passes = max(1, round(args.seconds / wl.pass_s))
        if args.trace:
            # as many traced passes as an untraced run times, interleaved
            # with as many untraced ones (u t t u ...) so the engine's
            # warm-up drift does not bias the overhead estimate
            tr.sc = spark.sparkContext
            bindings = install_tracer(tr)
            plan = ([False, True, True, False] * passes)[: 2 * passes]
        else:
            plan = [False] * passes
        phase = timed_phase(wl, spark, tr, plan)
        phase["traced_passes"] = sum(plan)
        timed = [r for r in phase["log"] if r["traced"] == bool(args.trace)]

        # the peak before the check: the check's oracle runs are not the workload
        rss_py, rss_jvm = hoststats.peak_rss_mb()
        tr.op = "check"
        t = time.perf_counter()
        bad = failed_setup + wl.check(spark)
        walls["check_s"] = time.perf_counter() - t
        calib = hoststats.calib_cpu_s()
        app_id = spark.sparkContext.applicationId
        t = time.perf_counter()
        shutdown(spark)
        spark = None
        walls["shutdown_s"] = time.perf_counter() - t

        logs = phase["log"]
        failed = sum(1 for r in logs if r["err"]) + len(bad)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input": wl.size, "order": wl.names, "cpus": CPUS,
            "driver_memory": DRIVER_MEMORY, "passes": phase["passes"],
            "ops": len(logs), "setup_s": setup_s, "session_start_s": session_start_s,
            "walls": walls, "timed_s": phase["wall"],
            "warm_serve_cold": serve_cold, "host.steal_pct": phase["steal_pct"],
            "host.calib_cpu_s": calib, "rss_mb": {"python": rss_py, "jvm": rss_jvm},
            "check_failures": bad,
            "op_errors": [f"{r['op']} {r['name']}: {r['err']}" for r in logs if r["err"]],
            "percentiles_s": tail_percentiles([r["s"] for r in timed]),
            "n_samples": len(timed),
            "per_op": [{k: r[k] for k in ("op", "name", "s", "serves")} for r in logs],
        }
        if args.trace:
            ev_files = [p for p in (work / "eventlog").iterdir() if app_id in p.name]
            lines = ev_files[0].read_text().splitlines() if ev_files else []
            extra = {
                "session_start_s": session_start_s, "calib_cpu_s": calib,
                "rss_mb": rss_py + rss_jvm,
                "job_wall_s": job_wall_s(lines, {r["op"] for r in timed}),
                "payload_bytes": inputs.payload_json_bytes(wl.payloads)
                if hasattr(wl, "payloads") else 0,
            }
            metrics = per_layer(phase, tr, tracing.fold_event_log(lines), serve_cold, extra)
            detail["bindings"] = {k: len(v) for k, v in bindings.items()}
            tr.dump(str(out_dir / f"{args.workload}-s{args.seed}-spans.json"))
        else:
            metrics = end_to_end(phase, setup_s)
        (out_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps(detail, indent=1, default=str)
        )
        print(json.dumps({"detail": {k: v for k, v in detail.items() if k != "per_op"}},
                         default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(logs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
