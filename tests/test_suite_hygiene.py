"""Checks on the repository's own scaffolding rather than the engine.

- ``tests/run_suite.sh`` runs every test file, and its shards cover each
  sharded file completely;
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


def test_suite_runner_covers_every_test_file():
    """tests/run_suite.sh partitions the suite into parallel pytest groups
    by EXPLICIT file list — a newly added test file that is not placed in
    a group would silently never run in the suite lane (found nearly-live
    in r07: test_streaming_stores.py split out of test_streaming.py had to
    be added to a group by hand). Pin: every tests/test_*.py appears in
    the runner exactly once, unsharded — OR in several groups whose
    SPARK_GRAFT_FILE_SHARD specs form a COMPLETE cover (same n, shards
    0..n-1): a duplicate without complete shards would either re-run
    tests (wasted wall) or, worse, a missing shard would silently never
    run part of the file."""
    script = open(os.path.join(REPO, "tests", "run_suite.sh")).read()
    listed = re.findall(r"tests/(test_\w+\.py)", script)
    on_disk = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(REPO, "tests", "test_*.py"))
    )
    missing = [f for f in on_disk if f not in listed]
    assert not missing, f"test files absent from run_suite.sh groups: {missing}"

    shard_m = re.search(r"\bshards=\(([^)]*)\)", script)
    shard_list = re.findall(r'"([^"]*)"', shard_m.group(1)) if shard_m else []
    # (spec, group) per file: a group's spec shards every file it lists.
    file_shards: dict[str, list[tuple[str, int]]] = {}
    group_files: dict[int, list[str]] = {}
    for num, body in re.findall(r'GROUP(\d+)="([^"]*)"', script, re.S):
        idx = int(num) - 1
        spec = shard_list[idx] if idx < len(shard_list) else ""
        group_files[idx] = re.findall(r"tests/(test_\w+\.py)", body)
        for f in group_files[idx]:
            file_shards.setdefault(f, []).append((spec, idx))
    for f, entries in file_shards.items():
        specs = [s for s, _ in entries]
        if len(entries) == 1:
            # Single-listed: it must NOT be sharded, or part of the file
            # silently never runs (r14 review: the old pin skipped this).
            assert not specs[0], (
                f"{f} is listed once but sharded {specs[0]} — its other "
                "shards run nowhere"
            )
            continue
        parsed = sorted(tuple(int(x) for x in s.split("/")) for s in specs if s)
        assert len(parsed) == len(specs), (
            f"{f} listed in more than one group without shard specs "
            f"(specs per group: {entries})"
        )
        ns = {n for _, n in parsed}
        assert len(ns) == 1 and [s for s, _ in parsed] == list(range(parsed[0][1])), (
            f"{f}: shard specs {specs} do not form a complete 0..n-1 cover"
        )
        # The shard is by COLLECTION INDEX across the whole group
        # (conftest): a 0..n-1 spec cover only covers the ITEMS if every
        # group in the cover collects the identical item sequence, i.e.
        # byte-identical file lists, order included. A reordered twin
        # would drop some items into no shard while this pin stayed green.
        lists = {i: group_files[i] for _, i in entries}
        first = next(iter(lists.values()))
        assert all(fl == first for fl in lists.values()), (
            f"{f}: shard cover groups {sorted(lists)} list different file "
            f"sequences — the index-based shards are not complements: {lists}"
        )


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
