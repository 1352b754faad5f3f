"""Physical-plan assertions — make the 100 TB properties testable.

"Would this plan survive a 100× scale-up?" is a question about the physical
plan, not the row counts: filters must reach the parquet scan, small dims
must broadcast, scans must prune columns, and the hot path must stay inside
whole-stage codegen. These helpers parse ``explain("formatted")`` output so
tests can pin those properties and fail when a code change silently
regresses one (e.g. a join flipping from broadcast to sort-merge-exchange,
or a filter stuck above the scan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of distinct Exchange (shuffle) operators in the physical plan.

    Counts the detail section's ``(n) Exchange`` headers so an operator
    appearing in both the tree summary and the details isn't double-counted.
    AQE may later coalesce partitions but never removes a planned exchange;
    fewer planned exchanges = structurally less data movement at any scale.
    """
    return len(set(re.findall(r"\((\d+)\) Exchange\b", formatted_plan(df))))


def broadcast_join_count(df: DataFrame) -> int:
    return len(set(re.findall(r"\((\d+)\) BroadcastHashJoin\b", formatted_plan(df))))


def sortmerge_join_count(df: DataFrame) -> int:
    return len(set(re.findall(r"\((\d+)\) SortMergeJoin\b", formatted_plan(df))))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every file scan (predicate pushdown proof)."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan (column-pruning proof)."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen subtrees (wider = fewer breaks).

    An AQE-wrapped plan prints no codegen ids until its final plan is
    resolved, so if the first print is non-final, execute THIS DataFrame's
    own QueryExecution (collect — count would plan a fresh one) and
    re-print.
    """
    plan = formatted_plan(df)
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = formatted_plan(df)
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    ids |= set(re.findall(r"\[codegen id : (\d+)\]", plan))
    return len(ids)


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "plan contains a cartesian/nested-loop join:\n" + plan
    )
