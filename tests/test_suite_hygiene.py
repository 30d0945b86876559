"""Checks on the repository's own scaffolding rather than the engine.

- the benchmark's self-tests pass, so the suite command covers them too;
- the plan dump's normaliser makes two builds of one plan read the same;
- no test module shadows one test definition with another of the same name;
- ``bench.py``'s output line fits the driver's stdout budget with the full
  headline set;
- the query registry is the plain merge of its domain modules' tables, so
  its order depends on nothing outside the package.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_line_fits_driver_budget_with_full_headline():
    """The driver records only the last 2000 chars of stdout and parses the
    final line; bench.py hard-exits when that line exceeds its 1900-char
    budget. Pin the arithmetic: the line with every headliner at a
    worst-plausible 99.99 s must fit, or a future headliner addition breaks
    the driver parse."""
    import bench

    line = bench.bench_line({name: 99.99 for name in bench.HEADLINE}, 0.1)
    assert bench.LINE_BUDGET == 1900
    assert len(line) <= bench.LINE_BUDGET, (
        f"bench line is {len(line)} chars with {len(bench.HEADLINE)} "
        f"headliners — the driver parse budget is {bench.LINE_BUDGET}; "
        "trim the headline set before adding headliners"
    )
    assert list(json.loads(line)) == ["metric", "value", "unit", "queries", "sf"]


def test_registry_is_the_modules_tables_in_order():
    """``all_queries()`` is each domain module's ``QUERIES`` merged in
    ``_MODULES`` order, nothing reordered: the registry's iteration order
    must not depend on any file outside the package."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        _MODULES,
        all_queries,
    )

    assert list(all_queries()) == [name for m in _MODULES for name in m.QUERIES]


def test_benchmark_self_tests_pass():
    """The benchmark's self-tests import the alert jobs the engine defines,
    so a change there must keep the benchmark's gate working. They run in
    their own process: perfbench's conftest builds its own ``local[2]``
    session named ``spark`` and stops it at teardown."""
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "perfbench/tests", "-q", "-p", "no:cacheprovider"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-40:])
    assert proc.returncode == 0, f"perfbench/tests failed:\n{tail}"


def test_plan_dump_normalises_two_builds_of_one_plan(spark):
    """``tools/plan_dump.py`` compares trees by ``diff -r`` of normalised
    plans. The bucketed flagship names its tables by pid, lands under a
    temp directory and plans exchanges, and each build draws new
    expression ids: two raw builds differ, their normalised texts must not,
    and no ``_<pid>`` table suffix may survive."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.monitoring import (
        monitor_cpu_mem_alerts_bucketed,
    )
    from tools.plan_dump import normalise

    from .conftest import SF_SMOKE

    a, b = (formatted_plan(monitor_cpu_mem_alerts_bucketed(spark, SF_SMOKE)) for _ in range(2))
    pid_suffix = re.compile(rf"_{os.getpid()}(?!\d)")
    assert a != b and pid_suffix.search(a)
    assert normalise(a) == normalise(b)
    assert not pid_suffix.search(normalise(a))


def test_no_shadowed_test_definitions():
    """Python silently lets a later `def test_x` shadow an earlier one in
    the same module — the first body then NEVER runs (found live in r07:
    two test_streaming_session_window_matches_batch definitions). Pin
    against recurrence across the whole suite."""
    import collections

    bad = {}
    for path in glob.glob(os.path.join(REPO, "tests", "test_*.py")):
        names = re.findall(r"^def (test_\w+)", open(path).read(), re.M)
        dups = [n for n, c in collections.Counter(names).items() if c > 1]
        if dups:
            bad[os.path.basename(path)] = dups
    assert not bad, f"shadowed test definitions (first body never runs): {bad}"
