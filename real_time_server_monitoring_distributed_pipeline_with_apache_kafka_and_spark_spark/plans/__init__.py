"""Physical-plan inspection: the engine's scale-verification tooling.

The engine defines no IR of its own — Catalyst is the planner (SURVEY.md
§3/§4: the reference compiles entirely to stock plans, and so do we). What
a 100 TB deployment needs instead is *evidence* about the plans Catalyst
produces: did the filter reach the parquet scan, how many exchanges
(shuffles) does the job pay for, which joins broadcast, how wide are the
whole-stage-codegen spans. This module extracts that evidence so tests can
pin it (tests/test_plans.py) and regressions in plan shape fail CI the
same way wrong results do.
"""

from .inspect import (
    formatted_plan,
    plan_report,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "formatted_plan",
    "plan_report",
    "pushed_filters",
    "read_schema_columns",
]
