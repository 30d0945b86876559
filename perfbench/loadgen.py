"""Load generator: seeded metric messages published as files.

Runs as its own single-threaded process. It writes wire messages in the
reference producer's per-topic CSV layout (``ts,server_id,<metrics>``, the
layout ``streaming.parse.to_wire`` writes) into one directory per topic,
the broker-less file-stream stand-in the streaming tests use. Every file is
written under ``<out>/_staging`` and then atomically renamed into its topic
directory, so a reader never sees a partial file. Each record carries the
Kafka-record shape ``{"topic", "value", "timestamp"}``; ``timestamp`` is the
event's creation time in epoch milliseconds.

Two modes:

``live``
    Open loop, with the load of ``LIVE`` on one metric pair of ``PAIRS``
    (``--pair``). Tick ``k`` is due at
    ``start + k * CADENCE / factor`` wall seconds and carries the events
    whose event time is ``k * CADENCE`` seconds past the base. The schedule
    never waits for the reader: a tick that runs late is published late and
    its lateness is reported. A seeded share of messages is held back 1-6
    ticks (out of order, inside the one-minute watermark) and keeps its
    original creation time.

``backlog``
    Closed-loop input, with one of the shapes of ``BACKLOGS``: every tick of
    ``span`` event seconds is written at once, split into ``files`` files
    per topic. Creation time is the event time.

The summary (``--summary``) lists the events, the publish log and the
per-tick lateness. Run ``python3 loadgen.py --help`` for the flags.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)

# Per-topic metric columns and value ranges (reference dataset columns and
# producer.py message layouts; the fixture ranges in FIXTURES.md A1).
TOPIC_METRICS: dict[str, list[tuple[str, float]]] = {
    "cpu": [("cpu_pct", 100.0)],
    "mem": [("mem_pct", 100.0)],
    "net": [("net_in", 20000.0), ("net_out", 24000.0)],
    "disk": [("disk_io", 10000.0)],
}
MAX_HOLD_TICKS = 6
CADENCE = 5  # event seconds between a server's reports
TOPICS = ["cpu", "mem", "net", "disk"]

# Live load: 100 servers report one metric pair every 5 event seconds;
# event time runs 30x wall time, so a 30 s/10 s window closes every 1/3
# wall second and the one-minute watermark passes a window 2 wall seconds
# after it ends. Each pair is the input of one of the reference's two
# alert jobs. At 200 servers a trigger took long enough that the next one
# had twice the rows, so when the box's CPU slowed, latency grew far more
# than the CPU slowed (8.7 s p50 became 10.5-12.7 s); at half the rate a
# slower box lengthens triggers about in proportion.
LIVE = {"servers": 100, "factor": 30.0, "late_share": 0.02}
PAIRS = {"cpu_mem": ["cpu", "mem"], "net_disk": ["net", "disk"]}
BACKLOGS = {
    # The warm-up of the live workloads: 20 servers x 5 event minutes.
    "warm": {"servers": 20, "span": 300, "files": 4, "topics": TOPICS},
    # Catch-up backlog: 4 topics x 200 servers x 5 event minutes (48,000
    # events) in 8 files per topic, drained in one trigger per query.
    "catchup": {"servers": 200, "span": 300, "files": 8, "topics": TOPICS},
}


def wire_value(ts_s: int, server: str, values: list[float]) -> str:
    """One CSV message: ISO-8601 UTC timestamp, server id, metrics."""
    ts = (BASE_TS + timedelta(seconds=ts_s)).strftime("%Y-%m-%dT%H:%M:%S.000Z")
    return ",".join([ts, server, *(f"{v:.2f}" for v in values)])


class Generator:
    """Deterministic event source: the same seed gives the same messages."""

    def __init__(self, seed: int, servers: int, topics: list[str]):
        self.rng = random.Random(seed)
        self.servers = [f"server_{i}" for i in range(servers)]
        self.topics = topics

    def tick(self, k: int) -> dict[str, list[tuple[int, str, list[float]]]]:
        """Events of tick ``k`` per topic: (event second, server, values)."""
        ts_s = k * CADENCE
        out: dict[str, list] = {}
        for topic in self.topics:
            rows = []
            for server in self.servers:
                vals = [round(self.rng.uniform(0.0, hi), 2) for _, hi in TOPIC_METRICS[topic]]
                rows.append((ts_s, server, vals))
            out[topic] = rows
        return out


def _publish(out: str, topic: str, name: str, lines: list[str]) -> None:
    staging = os.path.join(out, "_staging", f"{topic}-{name}")
    with open(staging, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(staging, os.path.join(out, f"topic-{topic}", name))


def _record(topic: str, ts_s: int, server: str, vals: list[float], created_ms: int) -> str:
    return json.dumps(
        {"topic": f"topic-{topic}", "value": wire_value(ts_s, server, vals), "timestamp": created_ms}
    )


def _prepare(out: str, topics: list[str]) -> None:
    os.makedirs(os.path.join(out, "_staging"), exist_ok=True)
    for topic in topics:
        os.makedirs(os.path.join(out, f"topic-{topic}"), exist_ok=True)


def run_live(args) -> dict:
    topics = PAIRS[args.pair]
    gen = Generator(args.seed, LIVE["servers"], topics)
    hold_rng = random.Random(args.seed + 1)
    _prepare(args.out, topics)
    dt = CADENCE / LIVE["factor"]
    n_ticks = max(1, int(args.seconds / dt))
    held: dict[int, dict[str, list[str]]] = {}
    late_ms: list[float] = []
    publish_log: list[tuple[float, int]] = []
    published = 0
    for k in range(n_ticks + MAX_HOLD_TICKS):
        due = args.start_at + k * dt
        now = time.time()
        if now < due:
            time.sleep(due - now)
        late_ms.append((time.time() - due) * 1000.0)
        created_ms = int(due * 1000)
        batch = held.pop(k, {t: [] for t in topics})
        if k < n_ticks:
            for topic, rows in gen.tick(k).items():
                for ts_s, server, vals in rows:
                    line = _record(topic, ts_s, server, vals, created_ms)
                    if hold_rng.random() < LIVE["late_share"]:
                        later = k + hold_rng.randint(1, MAX_HOLD_TICKS)
                        held.setdefault(later, {t: [] for t in topics})[topic].append(line)
                    else:
                        batch[topic].append(line)
        for topic, lines in batch.items():
            if lines:
                _publish(args.out, topic, f"part-{k:06d}.json", lines)
                published += len(lines)
        publish_log.append((time.time(), published))
    return {
        "mode": "live",
        "ticks": n_ticks,
        "events": published,
        "start_at": args.start_at,
        "end_at": args.start_at + n_ticks * dt,
        "late_ms": late_ms,
        "publish_log": publish_log,
    }


def run_backlog(args) -> dict:
    shape = BACKLOGS[args.shape]
    topics = shape["topics"]
    gen = Generator(args.seed, shape["servers"], topics)
    _prepare(args.out, topics)
    n_ticks = shape["span"] // CADENCE
    per_file = -(-n_ticks // shape["files"])
    lines: dict[str, list[str]] = {t: [] for t in topics}
    published = 0
    for k in range(n_ticks):
        for topic, rows in gen.tick(k).items():
            for ts_s, server, vals in rows:
                created_ms = int((BASE_TS.timestamp() + ts_s) * 1000)
                lines[topic].append(_record(topic, ts_s, server, vals, created_ms))
        if (k + 1) % per_file == 0 or k == n_ticks - 1:
            for topic in topics:
                _publish(args.out, topic, f"part-{k:06d}.json", lines[topic])
                published += len(lines[topic])
                lines[topic] = []
    return {"mode": "backlog", "ticks": n_ticks, "events": published, "late_ms": [0.0],
            "publish_log": [(time.time(), published)]}


def read_events(out: str, topic: str) -> list[tuple[int, str, list[float], int]]:
    """Parse a topic directory back into (event second, server, values,
    created ms) - the generator's own view of what it published."""
    rows = []
    tdir = os.path.join(out, f"topic-{topic}")
    base = int(BASE_TS.timestamp())
    for name in sorted(os.listdir(tdir)):
        with open(os.path.join(tdir, name)) as f:
            for line in f:
                rec = json.loads(line)
                ts, server, *vals = rec["value"].split(",")
                ts_s = int(datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.000Z")
                           .replace(tzinfo=timezone.utc).timestamp()) - base
                rows.append((ts_s, server, [float(v) for v in vals], rec["timestamp"]))
    return rows


def generate_backlog(out: str, seed: int, shape: str) -> dict:
    """Write the backlog ``BACKLOGS[shape]`` with the load generator (its
    own process)."""
    summary = os.path.join(out, "_summary.json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "backlog", "--shape", shape,
         "--out", out, "--seed", str(seed), "--summary", summary],
        check=True, timeout=120,
    )
    with open(summary) as f:
        return json.load(f)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--mode", choices=["live", "backlog"], required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--summary", required=True)
    p.add_argument("--shape", choices=sorted(BACKLOGS), help="backlog: the backlog to write")
    p.add_argument("--pair", choices=sorted(PAIRS), help="live: the metric pair to publish")
    p.add_argument("--seconds", type=float, help="live: wall seconds of schedule")
    p.add_argument("--start-at", type=float, help="live: wall epoch of tick 0 (default: now)")
    args = p.parse_args()
    if args.mode == "live":
        if args.seconds is None or args.pair is None:
            p.error("--mode live needs --pair and --seconds")
        args.start_at = args.start_at or time.time()
        summary = run_live(args)
    else:
        if args.shape is None:
            p.error("--mode backlog needs --shape")
        summary = run_backlog(args)
    with open(args.summary, "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
