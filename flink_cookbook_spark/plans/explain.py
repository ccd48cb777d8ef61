"""Physical-plan inspection: the scale-hygiene checks as code.

Catalyst gives pushdown/pruning/broadcast for free *if* the plan is
declared well (SURVEY.md section 4.2); these helpers turn ".explain and
eyeball it" into assertions so every operator's plan shape is pinned by
tests (tests/test_plans.py) and regressions in plan quality fail CI, not
a 100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from parquet (ReadSchema) — column-pruning
    check: a 2-column projection must not scan 11 columns."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Shuffles the query itself runs: ShuffleExchangeExec nodes in its
    executed plan and subqueries (BroadcastExchange and reused exchanges
    excluded). The walk unwraps AQE (AdaptiveSparkPlanExec and its query
    stages) and stops at InMemoryTableScanExec, whose cached relation's
    build shuffles ran when it was materialized, not in this query."""

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        n = int(cls == "ShuffleExchangeExec")
        for nodes in (node.children(), node.subqueries()):
            n += sum(walk(nodes.apply(i)) for i in range(nodes.size()))
        return n

    return walk(df._jdf.queryExecution().executedPlan())


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def uses_whole_stage_codegen(df: DataFrame) -> bool:
    """Formatted plans mark codegen'd operators with '[codegen id : n]'
    (and '*' prefixes in simple mode)."""
    plan = formatted_plan(df)
    return "codegen id" in plan or "WholeStageCodegen" in plan


def is_take_ordered(df: DataFrame) -> bool:
    """Global top-k should plan as TakeOrderedAndProject, not Sort+Limit."""
    return "TakeOrderedAndProject" in formatted_plan(df)
