"""Plan inspection: assert the physical plans we designed for are the plans
Spark actually runs (SURVEY.md §4).

The 100 TB mandate is enforced here as *structural* checks rather than
timings: a query that re-introduces a shuffle, loses a broadcast, stops
pruning columns, or drops a pushed filter fails its plan test long before a
benchmark regresses.  All helpers work on the final (post-AQE-planning)
``explain`` text of an unexecuted DataFrame.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def _effective_plan(df: DataFrame, mode: str = "simple") -> str:
    """The plan that will (or did) run: once AQE finalizes, explain prints
    BOTH '== Final Plan ==' and '== Initial Plan ==' — keep only the final
    section so operators aren't double-counted."""
    plan = physical_plan(df, mode)
    marker = "== Initial Plan =="
    return plan.split(marker)[0] if marker in plan else plan


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excludes broadcast exchanges).
    Every one is a full materialization barrier at scale — fewer is better,
    and a known count is a regression tripwire."""
    return len(_SHUFFLE_EXCHANGE.findall(_effective_plan(df)))


#: a shuffle exchange's node name: ``\b`` keeps ``BroadcastExchange
#: HashedRelationBroadcastMode`` (whose mode the case-blind ``hash`` also
#: matches) out of the count
_SHUFFLE_EXCHANGE = re.compile(
    r"\bExchange (?:hash|range|rangepartitioning|RoundRobin|SinglePartition)", re.I
)


def lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string, each
    up to its balanced closing parenthesis (a nested lambda appears both
    inside its parent and on its own).  Spark evaluates a lambda body
    once per array element and hoists nothing out of it, so a whole-row
    expression found here (a tokenizer, a sort) runs once per element."""
    bodies = []
    head = "lambdafunction("
    start = plan.find(head)
    while start >= 0:
        depth, i = 0, start + len(head) - 1
        while i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            if depth == 0:
                break
            i += 1
        bodies.append(plan[start : i + 1])
        start = plan.find(head, start + 1)
    return bodies


def count_broadcast_joins(df: DataFrame) -> int:
    return _effective_plan(df).count("BroadcastHashJoin")


def count_sort_merge_joins(df: DataFrame) -> int:
    return _effective_plan(df).count("SortMergeJoin")


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — the column-pruning ground truth."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", physical_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters of every scan (predicate pushdown ground truth)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def has_whole_stage_codegen(df: DataFrame, execute: bool = True) -> bool:
    """True when the FINAL plan contains WholeStageCodegen stages.  Under
    AQE the final plan only exists after execution, so this runs the query
    (test-scale inputs) and then reads the ``isFinalPlan=true`` plan, whose
    ``*(n)`` markers are the codegen stages."""
    if execute:
        df.collect()  # executes df's own queryExecution → final AQE plan
    plan = physical_plan(df, "simple")
    if "isFinalPlan=true" in plan:
        return "*(" in plan
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", physical_plan(df, "codegen"))
    return bool(m and int(m.group(1)) > 0)


def uses_take_ordered(df: DataFrame) -> bool:
    """True when a sort+limit collapsed into TakeOrderedAndProject (top-k
    without a global sort)."""
    return "TakeOrderedAndProject" in _effective_plan(df)
