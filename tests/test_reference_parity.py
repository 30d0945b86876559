"""Golden reference-parity test (SURVEY.md SS5 item 2).

Runs the engine's cpu_mem/net_disk jobs on reference-shaped fixtures with
the reference's exact config (30s/10s window, config.yaml:22-26 thresholds,
HH:mm:ss output, F.round) and checks every behavior documented in SURVEY
SS2: window membership, CASE branch order, label text, column names.
The expected side is computed independently in pure Python.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.config import (
    DEFAULT_CONFIG,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    monitoring as ops,
)

from .fixtures import metrics_wide_df, metrics_wide_rows, narrow_splits


def _expected_cpu_mem():
    """Independent Python model of spark_job1 (join -> 30s/10s window ->
    avg -> CASE -> HH:mm:ss + round)."""
    groups: dict[tuple, list[tuple[float, float]]] = defaultdict(list)
    for ts, server_id, cpu, mem, *_ in metrics_wide_rows():
        epoch = int(ts.timestamp())
        base = epoch // 10 * 10
        for k in range(3):
            start = base - 10 * k
            groups[(server_id, start)].append((cpu, mem))
    out = {}
    thr = DEFAULT_CONFIG.thresholds
    for (server_id, start), vals in groups.items():
        avg_cpu = sum(v[0] for v in vals) / len(vals)
        avg_mem = sum(v[1] for v in vals) / len(vals)
        if avg_cpu > thr.cpu_pct and avg_mem > thr.mem_pct:
            alert = "High CPU + Memory stress"
        elif avg_cpu > thr.cpu_pct:
            alert = "CPU spike suspected"
        elif avg_mem > thr.mem_pct:
            alert = "Memory saturation suspected"
        else:
            alert = "OK"
        from datetime import datetime, timezone

        fmt = lambda e: datetime.fromtimestamp(e, tz=timezone.utc).strftime("%H:%M:%S")  # noqa: E731
        out[(server_id, fmt(start), fmt(start + 30))] = (
            round(avg_cpu, 2),
            round(avg_mem, 2),
            alert,
        )
    return out


def test_cpu_mem_job_reference_golden(spark):
    wide = metrics_wide_df(spark)
    cpu, mem, _, _ = narrow_splits(wide)
    result = ops.cpu_mem_job(cpu, mem, time_format="HH:mm:ss")
    assert result.columns == [
        "server_id", "window_start", "window_end", "avg_cpu", "avg_mem", "alert",
    ]
    rows = result.collect()
    expected = _expected_cpu_mem()
    assert len(rows) == len(expected)
    n_alerts = 0
    for r in rows:
        key = (r.server_id, r.window_start, r.window_end)
        exp = expected[key]
        assert abs(r.avg_cpu - exp[0]) < 0.011, (key, r.avg_cpu, exp[0])
        assert abs(r.avg_mem - exp[1]) < 0.011, (key, r.avg_mem, exp[1])
        assert r.alert == exp[2], (key, r.alert, exp[2])
        n_alerts += r.alert != "OK"
    assert n_alerts > 0, "fixture must exercise non-OK branches"


def test_net_disk_job_labels_and_branch_order(spark):
    wide = metrics_wide_df(spark)
    _, _, net, disk = narrow_splits(wide)
    result = ops.net_disk_job(net, disk, time_format="HH:mm:ss")
    assert result.columns == [
        "server_id", "window_start", "window_end", "max_net_in", "max_disk_io", "alert",
    ]
    labels = {r.alert for r in result.collect()}
    assert labels == {
        "Network flood + Disk thrash suspected",
        "Possible DDoS",
        "Disk thrash suspected",
        "OK",
    }
    thr = DEFAULT_CONFIG.thresholds
    for r in result.collect():
        if r.max_net_in > thr.net_in and r.max_disk_io > thr.disk_io:
            assert r.alert == "Network flood + Disk thrash suspected"
        elif r.max_net_in > thr.net_in:
            assert r.alert == "Possible DDoS"


def test_window_membership_invariant(spark):
    """Every event appears in exactly duration/slide = 3 sliding windows."""
    from pyspark.sql import functions as F

    wide = metrics_wide_df(spark)
    n_events = wide.count()
    windowed = wide.groupBy(
        "server_id", F.window("ts", "30 seconds", "10 seconds")
    ).agg(F.count(F.lit(1)).alias("n"))
    total_memberships = windowed.agg(F.sum("n")).collect()[0][0]
    assert total_memberships == 3 * n_events


def test_cpu_mem_job_float32_parity_golden(spark):
    """Strict-parity mode reproduces the reference's pre-avg float32
    downcast (spark_job1.py:20-21): expected side is an independent model
    that rounds every metric through IEEE float32 BEFORE averaging, then
    averages in double like Spark's Average over FloatType."""
    import numpy as np

    groups: dict[tuple, list[tuple[float, float]]] = defaultdict(list)
    for ts, server_id, cpu, mem, *_ in metrics_wide_rows():
        base = int(ts.timestamp()) // 10 * 10
        for k in range(3):
            groups[(server_id, base - 10 * k)].append(
                (float(np.float32(cpu)), float(np.float32(mem)))
            )
    expected = {}
    from datetime import datetime, timezone

    fmt = lambda e: datetime.fromtimestamp(e, tz=timezone.utc).strftime("%H:%M:%S")  # noqa: E731
    for (server_id, start), vals in groups.items():
        expected[(server_id, fmt(start), fmt(start + 30))] = (
            sum(v[0] for v in vals) / len(vals),
            sum(v[1] for v in vals) / len(vals),
        )

    wide = metrics_wide_df(spark)
    cpu, mem, _, _ = narrow_splits(wide)
    result = ops.cpu_mem_job(
        cpu, mem, time_format="HH:mm:ss", float32_parity=True, round_fn=lambda c: c
    )
    rows = result.collect()
    assert len(rows) == len(expected)
    for r in rows:
        exp = expected[(r.server_id, r.window_start, r.window_end)]
        # float32-rounded inputs averaged in double: exact to 1e-9 relative
        assert abs(r.avg_cpu - exp[0]) <= 1e-9 * max(1.0, abs(exp[0]))
        assert abs(r.avg_mem - exp[1]) <= 1e-9 * max(1.0, abs(exp[1]))

    # and the downcast must actually CHANGE something vs the double path
    plain = {
        (r.server_id, r.window_start, r.window_end): (r.avg_cpu, r.avg_mem)
        for r in ops.cpu_mem_job(
            cpu, mem, time_format="HH:mm:ss", round_fn=lambda c: c
        ).collect()
    }
    diffs = sum(
        1
        for r in rows
        if plain[(r.server_id, r.window_start, r.window_end)] != (r.avg_cpu, r.avg_mem)
    )
    assert diffs > 0, "float32 parity mode should differ from double mode"


@pytest.mark.parametrize("pair", ops.ALERT_PAIRS, ids=lambda p: p.name)
def test_fused_alert_job_equals_alert_job_as_batch(spark, pair):
    """The stream jobs' one-aggregate builder, run as a batch query, emits
    the join-then-window job's windows and alerts: averages within one
    rounding unit (another summation order), maxima exact."""
    cpu, mem, net, disk = narrow_splits(metrics_wide_df(spark))
    sides = {"cpu": cpu, "mem": mem, "net": net, "disk": disk}
    dfs = [sides[m] for m in pair.metrics]
    tol = 0.011 if pair.agg is F.avg else 0.0

    def keyed(df):  # (entity, window, alert) -> the two aggregates
        return {(r[0], r[1], r[2], r[5]): (r[3], r[4]) for r in df.collect()}

    fused = ops.fused_alert_job(pair, *dfs)
    expected = keyed(ops.alert_job(pair, *dfs))
    got = keyed(fused)
    assert fused.columns == ["server_id", "window_start", "window_end", *pair.outputs, "alert"]
    assert got.keys() == expected.keys() and len(got) == 1240
    for k, (a, b) in expected.items():
        assert abs(got[k][0] - a) <= tol and abs(got[k][1] - b) <= tol, (k, got[k], expected[k])


def test_fused_alert_job_rejects_an_aggregate_without_array_form(spark):
    """A pair whose window aggregate has no array form fails when the plan
    is built, not with wrong numbers later."""
    cpu, mem, _, _ = narrow_splits(metrics_wide_df(spark))
    with pytest.raises(ValueError, match="no array form"):
        ops.fused_alert_job(replace(ops.CPU_MEM, agg=F.min), cpu, mem)
