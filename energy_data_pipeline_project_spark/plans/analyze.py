"""Physical-plan inspection: assert the plan properties that matter at
100 TB instead of hoping for them.

``plan_report`` parses ``explain(formatted)`` output into the facts the
scale posture depends on: did filters push into the parquet scan, which
joins broadcast vs shuffle, how wide the whole-stage-codegen spans are,
and whether any Python row-at-a-time evaluation leaked into the plan.
tests/test_plans.py pins these properties for the headline queries so a
regression (e.g. a lost broadcast, a filter that stopped pushing) fails
CI rather than shipping as a 100× slowdown at scale.
"""

from __future__ import annotations

import io
import re
import uuid
from contextlib import redirect_stdout
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def jobs_during(
    spark: SparkSession, fn: Callable[..., Any], *args: Any
) -> tuple[Any, int]:
    """Call ``fn(*args)`` and return ``(result, n_jobs)``: its result
    and the number of Spark jobs the call launched. The jobs are
    counted under a job group unique to this call, so a count never
    includes another call's jobs."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_during")
    try:
        result = fn(*args)
    finally:
        sc.setJobGroup(None, None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class PlanReport:
    plan: str
    n_scans: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    shuffle_joins: int = 0
    exchanges: int = 0
    single_partition_exchanges: int = 0
    codegen_stages: int = 0
    python_eval: bool = False  # row-at-a-time Python UDF — the slow path
    arrow_eval: bool = False  # pandas/Arrow eval — acceptable when needed
    python_udtf: bool = False  # Python table function — deliberate, not a fallback

    @property
    def joins(self) -> int:
        return self.broadcast_joins + self.shuffle_joins


def plan_report(df: DataFrame) -> PlanReport:
    text = formatted_plan(df)
    rep = PlanReport(plan=text)
    # formatted explain lists each node twice (tree + numbered detail
    # section); count the "(N) NodeName" detail entries, once per node.
    rep.n_scans = len(re.findall(r"^\(\d+\) Scan parquet", text, re.M))
    # greedy to the LAST `]` on the line: In-filters render with nested
    # brackets (`In(col, [v1,v2])`), and a first-`]` cut silently
    # dropped every filter after one (r07 review)
    rep.pushed_filters = re.findall(r"PushedFilters: \[(.*)\]", text)
    rep.read_schemas = re.findall(r"ReadSchema: (\S+)", text)
    rep.broadcast_joins = len(
        re.findall(r"^\(\d+\) Broadcast(?:Hash|NestedLoop)Join", text, re.M)
    )
    rep.shuffle_joins = len(
        re.findall(r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", text, re.M)
    )
    rep.exchanges = len(re.findall(r"^\(\d+\) Exchange", text, re.M))
    # "Arguments: SinglePartition" is the formatted-plan signature of a
    # global funnel (unpartitioned window / global sort-limit feeding a
    # single task) — the 100 TB scale hazard plan pins guard against.
    rep.single_partition_exchanges = text.count("Arguments: SinglePartition")
    rep.codegen_stages = len(set(re.findall(r"codegen id : (\d+)", text)))
    # BatchEvalPythonUDTF is the (deliberate) Python table-function
    # node, not a scalar-UDF fallback — classify it separately so the
    # no-row-python gate stays meaningful for the UDTF query.
    rep.python_udtf = bool(re.search(r"(?:Batch|Arrow)EvalPythonUDTF", text))
    rep.python_eval = bool(
        re.search(r"BatchEvalPython(?!UDTF)", text)
    )
    rep.arrow_eval = (
        bool(re.search(r"ArrowEvalPython(?!UDTF)", text))
        or "MapInPandas" in text
        or "FlatMapGroupsInPandas" in text
    )
    return rep


def assert_scan_pruned(rep: PlanReport, must_not_contain: tuple[str, ...]) -> None:
    """Column pruning check: no ReadSchema may include these columns.

    Matches COLUMN NAMES parsed from the struct<...> text, not raw
    substrings — 'ts' must not false-positive against 'counts'."""
    for schema in rep.read_schemas:
        names = set(re.findall(r"[<,]\s*(\w+):", schema))
        for col in must_not_contain:
            assert col not in names, (
                f"column {col!r} read but never needed: {schema}"
            )


def window_partition_specs(plan_text: str) -> list[tuple[str, ...]]:
    """Partition column names (ids stripped) of every Window node in a
    formatted plan — the raw material of the low-cardinality window
    audit (r10 verdict #5): a window whose ENTIRE partition spec is
    low-cardinality columns sorts one task per group at 100 TB unless
    the frame under it is bounded-grain or the sort is range-sliced.

    Parses the Window node's ``Arguments: [fns], [parts], [order]``
    detail line — the middle bracket list is the partition spec."""
    specs: list[tuple[str, ...]] = []
    lines = plan_text.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) Window(?:GroupLimit)?\b", line):
            continue
        for j in range(i + 1, min(i + 8, len(lines))):
            m = re.match(r"^Arguments: (.*)$", lines[j].strip())
            if not m:
                continue
            # split top-level bracket groups
            groups = re.findall(r"\[([^\[\]]*(?:\[[^\]]*\][^\[\]]*)*)\]", m.group(1))
            if len(groups) >= 3:
                # Window: [windowExprs], [partitionSpec], [orderSpec]
                part = groups[-2]
            elif len(groups) == 2 and "windowspecdefinition" in groups[0]:
                # Window whose argString DROPPED an empty bracket group
                # (TreeNode.argString omits empty seqs — r11 verdict
                # #4: every GLOBAL window parsed as a garbage spec that
                # could never flag). [fns], [order] when the partition
                # spec is empty (order carries ASC/DESC); [fns],
                # [parts] when the ORDER is the empty one.
                part = "" if re.search(r"\b(ASC|DESC)\b", groups[1]) else groups[1]
            elif len(groups) == 1 and "windowspecdefinition" in groups[0]:
                # Window with BOTH specs empty (``over ()`` with no
                # orderBy): only [fns] survives argString — a global
                # window that used to fall into the WindowGroupLimit
                # branch and escape the audit
                part = ""
            elif groups:
                # WindowGroupLimit: [partitionSpec], [orderSpec]
                part = groups[0]
            else:
                break
            cols = tuple(
                re.sub(r"#\d+L?", "", c.strip())
                for c in part.split(",")
                if c.strip()
            )
            specs.append(cols)
            break
    return specs
