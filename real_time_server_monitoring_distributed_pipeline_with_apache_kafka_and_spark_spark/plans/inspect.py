"""Parse `.explain("formatted")` output into checkable facts.

Works on the OPTIMIZED physical plan before execution (no job run), so
tests can assert plan shape cheaply. At 100 TB these properties are the
difference between a job that runs and one that doesn't:

- ``pushed_filters``: predicates that reached the parquet reader — rows
  never deserialized, row groups skipped via min/max stats.
- ``read_schema_columns``: column pruning — a 7-column scan for a
  2-column query pays 3.5x the I/O.
- ``plan_report``: those two plus node counts. Every exchange is a full
  shuffle of its input, the dominant cost at scale; broadcast joins avoid
  shuffling the fact side; fewer, wider WholeStageCodegen spans mean less
  row materialization between operators.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `explain("formatted")` text (physical plan + operator details)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001 — no public non-printing API
    jvm = df.sparkSession._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All predicates pushed into file scans (PushedFilters lines)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns each file scan actually reads (union over scans)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def _exchange_node_ids(plan: str, node_name: str) -> set[str]:
    """Unique operator ids of ``(N) <node_name>`` nodes in a formatted plan.

    Formatted explain prints each operator twice — once in the plan tree
    and once as a details-section heading — so counting matches would
    double-count; the id set dedups. The name is matched exactly
    (``Exchange`` does NOT match ``BroadcastExchange``: the pattern anchors
    the name right after the id, with a word-boundary guard after it).
    """
    return set(re.findall(rf"\((\d+)\)\s+{re.escape(node_name)}(?![\w])", plan))


def plan_report(df: DataFrame) -> dict:
    """One-call summary used by tests and by hand during tuning."""
    plan = formatted_plan(df)
    return {
        "pushed_filters": pushed_filters(df),
        "read_schema_columns": read_schema_columns(df),
        "exchanges": len(_exchange_node_ids(plan, "Exchange")),
        "broadcast_exchanges": len(_exchange_node_ids(plan, "BroadcastExchange")),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)),
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        # Every Python-stage physical node Spark 4 can plan, so none is
        # invisible to the census (found r11: the MMR rerank planned with
        # python_stages=0 because applyInPandas/FlatMapGroupsInPandas
        # matched none of the original three tokens): ArrowEvalPython(+UDTF),
        # BatchEvalPython(+UDTF), MapInPandas, applyInPandas (+cogroup
        # variant), pandas window/grouped-agg UDFs, and mapInArrow.
        "python_stages": len(
            re.findall(
                r"ArrowEvalPython|BatchEvalPython|MapInPandas"
                r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
                r"|WindowInPandas|AggregateInPandas|MapInArrow"
                r"|FlatMapGroupsInArrow|FlatMapCoGroupsInArrow",
                plan,
            )
        ),
    }
