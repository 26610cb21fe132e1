"""Physical-plan introspection: the 100 TB guardrails, machine-checkable.

``plan_report`` inspects a DataFrame's formatted physical plan for the
properties that decide whether a query survives a 100× scale-up:

  * parquet filter pushdown (``PushedFilters``) — predicates reach the scan
  * column pruning (``ReadSchema``) — the scan reads only needed columns
  * broadcast joins — dim joins must not shuffle the fact side
  * whole-stage codegen spans — expressions stay JVM-side
  * cartesian products — flagged unless explicitly intended

Used by test_plan_quality.py and the other plan tests to pin the plan
shape of every headline query, so a regression that silently
de-optimizes a plan fails CI rather than a future cluster bill.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanReport:
    text: str
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: dict[str, str] = field(default_factory=dict)
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    shuffle_hash_joins: int = 0
    cartesian_products: int = 0
    codegen_spans: int = 0
    exchanges: int = 0

    def scans_column_count(self, table_substr: str) -> int | None:
        for loc, schema in self.read_schemas.items():
            if table_substr in loc:
                return schema.count(":")
        return None


def plan_report(df: DataFrame, run_first: bool = False) -> PlanReport:
    """``run_first=True`` executes the plan so AQE finalizes it — codegen
    annotations and runtime join selections only exist in the final plan."""
    if run_first:
        # collect() THIS DataFrame: count() would spawn a separate query
        # execution and leave this plan's AQE state unfinalized
        df.collect()
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    rep = PlanReport(text=text)
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", text):
        if m.group(1).strip():
            rep.pushed_filters.extend(
                f.strip() for f in m.group(1).split(",") if f.strip()
            )
    loc, schema = None, None
    for line in text.splitlines():
        lm = re.search(r"Location: \S+ \[(.*?)\]", line)
        if lm:
            loc = lm.group(1)
        sm = re.search(r"ReadSchema: struct<(.*)>?", line)
        if sm and loc is not None:
            rep.read_schemas[loc] = sm.group(1)
            loc = None
    # count node DETAIL headers ("(n) OpName") — the tree section mentions
    # every node a second time
    def nodes(op: str) -> int:
        return len(re.findall(rf"\(\d+\) {op}", text))

    rep.broadcast_joins = nodes("BroadcastHashJoin")
    rep.sortmerge_joins = nodes("SortMergeJoin")
    rep.shuffle_hash_joins = nodes("ShuffledHashJoin")
    rep.cartesian_products = nodes("CartesianProduct") + nodes(
        "BroadcastNestedLoopJoin"
    )
    rep.codegen_spans = len(re.findall(r"WholeStageCodegen \(\d+\)", text)) + len(
        set(re.findall(r"codegen id : (\d+)", text))
    )
    rep.exchanges = nodes("Exchange")  # shuffle exchanges only (Broadcast
    # Exchange headers read "BroadcastExchange" and don't match)
    return rep
