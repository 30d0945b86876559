"""Registry-wide oracle check: every queries() entry vs its DuckDB oracle at sf0.01.

Runs in tier 1, so every change re-proves the whole registry through the
driver contract (``all_queries``/``all_oracles``). Rows that differ only by
float last-ulp noise are also failures (the driver hashes values).
"""

from __future__ import annotations

import pytest

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
    all_oracles,
    all_queries,
)

from .conftest import SF_ORACLE
from .oracle_utils import compare, duckdb_conn

_QUERIES = all_queries()
_ORACLES = all_oracles()

_NAMES = sorted(_ORACLES)


@pytest.fixture(scope="module")
def duck():
    con = duckdb_conn(SF_ORACLE)
    yield con
    con.close()


def test_every_oracle_has_query():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", _NAMES)
def test_oracle_parity(spark, duck, name):
    df = _QUERIES[name](spark, SF_ORACLE)
    problems = compare(df, duck, _ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", _NAMES)
def test_oracle_output_types_are_hashable(duck, name):
    """No oracle may expose a raw DuckDB ``sum()`` in its output: DuckDB
    widens integer sums to HUGEINT (int128), which the round driver's
    Arrow-based value hasher serializes differently from Spark's BIGINT
    even when every value is equal — rows and schema names match, the
    hash does not (this exact failure hit sim_embedding_drift and
    rel_snapshot_diff in r07). DESCRIBE is plan-only, so this audits all
    oracles without executing them. Wrap sums as CAST(sum(..) AS BIGINT)
    (or DOUBLE, per the established convention in queries/relational.py).
    """
    rows = duck.execute(f"DESCRIBE {_ORACLES[name]}").fetchall()
    bad = [(r[0], r[1]) for r in rows if "HUGEINT" in str(r[1]).upper()]
    assert not bad, f"{name}: int128 output columns {bad}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(spark, name):
    """Empty-parametrization skip since r10, BY DESIGN: the last three
    rows-only queries (the sketches) became hash-checked accuracy
    reports, so every registered query now has an oracle and this test
    has nothing to cover. It stays as the safety net — a future query
    registered without an oracle lands here automatically instead of
    going driver-unchecked."""
    df = _QUERIES[name](spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
