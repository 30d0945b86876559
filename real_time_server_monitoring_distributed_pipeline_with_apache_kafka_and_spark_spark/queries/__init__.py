"""Named query registry: one entry per implemented operator (SURVEY.md SS2).

Each domain module exports ``QUERIES: dict[name, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, str]`` (DuckDB ANSI SQL over the pre-registered
testdata views). Queries without an oracle entry are non-SQL-expressible and
get the driver's weaker rows-only check. The registry is the plain merge of
the modules' tables in ``_MODULES`` order; a name may be registered once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import dedup, extras, monitoring, multimodal, profiling, relational, similarity, text

_MODULES = (monitoring, text, multimodal, dedup, similarity, relational, extras, profiling)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
