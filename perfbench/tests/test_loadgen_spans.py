"""Load generator determinism and schedule; span self-time arithmetic."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import loadgen
import tables
from spans import Tracer, _union_length

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(root: str) -> dict[str, str]:
    out = {}
    for topic in os.listdir(root):
        if topic.startswith("topic-"):
            for name in os.listdir(os.path.join(root, topic)):
                with open(os.path.join(root, topic, name)) as f:
                    out[f"{topic}/{name}"] = f.read()
    return out


def test_backlog_is_deterministic_per_seed(tmp_path):
    a = loadgen.generate_backlog(str(tmp_path / "a"), 1, "warm")
    loadgen.generate_backlog(str(tmp_path / "b"), 1, "warm")
    loadgen.generate_backlog(str(tmp_path / "c"), 2, "warm")
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    shape = loadgen.BACKLOGS["warm"]
    assert a["events"] == len(shape["topics"]) * shape["servers"] * shape["span"] // loadgen.CADENCE
    assert len(os.listdir(tmp_path / "a" / "topic-cpu")) == shape["files"]
    assert os.listdir(tmp_path / "a" / "_staging") == []


def test_live_schedule_publishes_every_event_with_its_due_time(tmp_path):
    out, summary = str(tmp_path / "live"), str(tmp_path / "summary.json")
    start = time.time() + 0.2
    subprocess.run(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--mode", "live", "--out", out,
         "--pair", "cpu_mem", "--seed", "3", "--seconds", "1", "--start-at", repr(start), "--summary", summary],
        check=True, timeout=30)
    with open(summary) as f:
        s = json.load(f)
    live = loadgen.LIVE
    n_ticks = s["ticks"]
    assert n_ticks == int(live["factor"] / loadgen.CADENCE)
    assert s["events"] == 2 * live["servers"] * n_ticks
    cpu = loadgen.read_events(out, "cpu")
    assert sorted((r[0], r[1]) for r in cpu) == sorted(
        (k * loadgen.CADENCE, f"server_{i}") for k in range(n_ticks)
        for i in range(live["servers"]))
    # Creation time is the tick's due time, also for held-back events.
    for ts_s, _, _, created_ms in cpu:
        assert abs(created_ms / 1000 - (start + ts_s / live["factor"])) < 0.002
    # Some events were held back: a file holds an event of an earlier tick.
    late = 0
    for name in os.listdir(os.path.join(out, "topic-cpu")):
        k = int(name.split("-")[1].split(".")[0])
        with open(os.path.join(out, "topic-cpu", name)) as f:
            first = loadgen.wire_value(k * loadgen.CADENCE, "", [])
            late += sum(json.loads(line)["value"] < first for line in f)
    assert late > 0
    assert len(s["late_ms"]) == n_ticks + loadgen.MAX_HOLD_TICKS
    assert s["publish_log"][-1][1] == s["events"]


def test_tables_are_seeded_and_sized():
    a = tables.make_tables(1, 0.001)
    b = tables.make_tables(1, 0.001)
    c = tables.make_tables(2, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert set(a) == set(tables.TABLES)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True, "t")
    root = tr.add("jobs", "root", 0.0, 10.0)
    tr.add("sink", "a", 1.0, 4.0, root)
    tr.add("sink", "b", 3.0, 5.0, root)  # overlaps a: union is 1..5
    tr.add("sources", "c", 9.0, 12.0, root)  # clipped to the parent's end
    st = tr.self_times()
    assert st["jobs"] == 10.0 - 4.0 - 1.0
    assert st["sink"] == 3.0 + 2.0
    assert _union_length([(1, 4), (3, 5)], 0, 10) == 4


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("queries", "q"):
        pass
    assert tr.spans == []


def test_trigger_span_lays_phases_inside_the_trigger():
    tr = Tracer(True, "t")
    tr.add_trigger({"timestamp": "2024-01-01T00:00:00.000Z", "id": "x", "name": "q",
                    "durationMs": {"triggerExecution": 1000, "latestOffset": 100,
                                   "addBatch": 700, "commitOffsets": 50}})
    st = tr.self_times()
    assert abs(st["trigger"] - (1.0 - 0.8)) < 1e-6
    assert abs(st["sources"] - 0.1) < 1e-6 and abs(st["sink"] - 0.7) < 1e-6
