"""The workloads, run inside the engine process.

``Live`` is both workloads: stream-job1 (``alerts_live``, cpu+mem) or
stream-job2 (``alerts_live_net_disk``, net+disk). It has ``warmup()``
(part of set-up) and ``run(tracer)`` (measure for the run length, then
check every output outside the timed region), which returns::

    {"e2e": {...}, "layer": {...}, "attempted": n, "failed": m}

``e2e`` holds the three end-to-end figures measured in the run
(``latency_p50_ms``, ``latency_p99_ms``, ``throughput_rows_per_s``);
``layer`` holds the per-layer figures the workload moves. ``Catchup``
runs only inside a traced ``alerts_live`` run and ``Batch`` only inside a
traced ``alerts_live_net_disk`` run; both return per-layer figures.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import duckdb
import numpy as np
from pyspark.sql import functions as F

import gate
import loadgen
from loadgen import PAIRS, TOPICS
from common import (
    StampedSink,
    pct,
    progress_of,
    run_available_now,
    topic_stream,
    trigger_stats,
    tree_bytes,
    watermark_s,
)
from spans import parse_ts
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
    caching,
    schemas,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    monitoring as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans import (
    inspect,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
    all_oracles,
    all_queries,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
    jobs,
)

HERE = os.path.dirname(os.path.abspath(__file__))

# bench.py's frozen LEGACY9 set plus the persist-heavy curation composite,
# with the tables each one reads.
BATCH_QUERIES = {
    "monitor_cpu_mem_alerts": ["events"],
    "monitor_net_disk_alerts": ["events"],
    "rel_pricing_summary": ["lineitem"],
    "rel_multiway_revenue": ["customer", "lineitem", "nation", "orders", "region"],
    "rel_topk_per_group": ["orders"],
    "dedup_exact": ["documents"],
    "dedup_minhash_lsh": ["documents"],
    "sim_ann_bruteforce": ["embeddings"],
    "text_token_stats": ["documents"],
    "pipeline_training_prep": ["documents"],
}


JOBS = {("cpu", "mem"): (jobs.streaming_cpu_mem_job, ops.cpu_mem_job),
        ("net", "disk"): (jobs.streaming_net_disk_job, ops.net_disk_job)}


def _expected_alerts(spark, events: dict, pair: tuple[str, str]):
    dfs = [gate.events_frame(spark, events[t], t, schemas.TOPIC_SCHEMAS[t]) for t in pair]
    return JOBS[pair][1](*dfs), dfs


def _check_job(spark, events, pair, out_dir, progress, tracer) -> tuple[int, int, list]:
    """Compare a streamed alert job with the batch operator on the same
    events. Returns (attempted, failed, the two event frames)."""
    value_cols = ["avg_cpu", "avg_mem"] if pair == ("cpu", "mem") else ["max_net_in", "max_disk_io"]
    actual = spark.read.parquet(out_dir)
    emitted_end = actual.agg(F.max(F.unix_timestamp("window_end"))).first()[0] or 0
    cutoff = max(watermark_s(progress), float(emitted_end))
    with tracer.span("operators.monitoring", f"batch_job:{'_'.join(pair)}"):
        expected, dfs = _expected_alerts(spark, events, pair)
        attempted, failed = gate.check_alerts(gate.closed_windows(expected, cutoff),
                                              actual.drop("batch_id"), value_cols)
    return max(attempted, 1), failed if attempted else 1, dfs


class Live:
    """Open loop: the generator publishes one metric pair (``PAIRS``) on a
    fixed schedule while its alert job (demux -> watermarked join ->
    sliding avg or max -> CASE) runs."""

    def __init__(self, spark, work: str, seed: int, seconds: float, inputs: str, pair: str):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.inputs, self.pair_name, self.pair = inputs, pair, tuple(PAIRS[pair])
        self.runs = 0

    def warmup(self, tracer) -> None:
        self._job(os.path.join(self.inputs, "warm"), os.path.join(self.work, "warm-run"), tracer,
                  available_now=True)

    def _job(self, src, d, tracer, available_now=False):
        a, b = (topic_stream(self.spark, src, t, tracer) for t in self.pair)
        job = JOBS[self.pair][0]
        with tracer.span("streaming.jobs", job.__name__):
            alerts = job(a, b)
        sink = StampedSink(os.path.join(d, "out"))
        writer = (alerts.writeStream.outputMode("append").foreachBatch(sink)
                  .option("checkpointLocation", os.path.join(d, "ckpt")))
        if available_now:
            run_available_now({"warm_live": writer}, tracer)
            sink.flush()
            return None
        return writer, sink

    def run(self, tracer) -> dict:
        self.runs += 1
        d = os.path.join(self.work, f"live-{self.runs}")
        src = os.path.join(d, "src")
        loadgen._prepare(src, self.pair)
        writer, sink = self._job(src, d, tracer)
        with tracer.span("streaming.jobs", "start:live"):
            q = writer.queryName(f"live_{self.pair_name}_{self.runs}").start()
        summary_path = os.path.join(d, "loadgen.json")
        start_at = time.time() + 0.5
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--mode", "live", "--out", src,
             "--pair", self.pair_name, "--seed", str(self.seed), "--seconds", str(self.seconds),
             "--start-at", repr(start_at), "--summary", summary_path])
        try:
            gen.wait(timeout=self.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited with {gen.returncode}")
        with tracer.span("streaming.jobs", "drain:live"):
            q.processAllAvailable()
            _settle(q, sink)
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"live stream failed: {q.exception()}")
        sink.flush()
        progress = progress_of(q)
        with open(summary_path) as f:
            summary = json.load(f)
        return self._measure(d, src, sink, progress, summary, tracer)

    def _measure(self, d, src, sink, progress, summary, tracer) -> dict:
        first, second = self.pair
        events = {t: loadgen.read_events(src, t) for t in self.pair}
        created = {t: {(r[1], r[0]): r[3] for r in events[t]} for t in events}
        last: dict[tuple[str, int], int] = {}
        for key, c_ms in created[first].items():
            m_ms = created[second].get(key)
            if m_ms is None:
                continue
            server, ts = key
            for k in range(3):
                ws = ts - ts % 10 - 10 * k
                last[(server, ws)] = max(last.get((server, ws), 0), max(c_ms, m_ms))
        rows = (self.spark.read.parquet(os.path.join(d, "out"))
                .select("server_id", F.unix_timestamp("window_start").alias("ws"),
                        F.unix_timestamp("window_end").alias("we"), "batch_id").collect())
        base = int(loadgen.BASE_TS.timestamp())
        triggers = sorted((parse_ts(p["timestamp"]), parse_ts(p["eventTime"]["watermark"]))
                          for p in progress if p.get("eventTime", {}).get("watermark"))
        lat, wait, emit = [], [], []
        for r in rows:
            c = last.get((r["server_id"], r["ws"] - base))
            if c is None or r["batch_id"] not in sink.emitted:
                continue
            t_emit = sink.emitted[r["batch_id"]]
            lat.append(t_emit * 1000.0 - c)
            t_wm = next((t for t, wm in triggers if wm >= r["we"]), t_emit)
            wait.append(t_wm * 1000.0 - c)
            emit.append((t_emit - t_wm) * 1000.0)
        # Engine speed under this load: rows per second of trigger execution,
        # over every trigger of the run (the drain and no-data ones too).
        busy_s = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0
        processed = sum(p["numInputRows"] for p in progress)
        attempted, failed, dfs = _check_job(self.spark, events, self.pair,
                                            os.path.join(d, "out"), progress, tracer)
        joined = 0
        if tracer.enabled:
            with tracer.span("operators.monitoring", "join_metric_streams"):
                joined = ops.join_metric_streams(*dfs).count()
        if len(lat) < 1000:
            failed = max(failed, 1)
        lag, growth = _backlog(progress, summary)
        n_in = len(events[first]) + len(events[second])
        layer = {
            **trigger_stats(progress),
            "alert_latency_p50_ms": pct(lat, 50),
            "alert_latency_p99_ms": pct(lat, 99),
            "source.lag_events_max": max(lag, default=0),
            "live_backlog_growth_eps": growth,
            "latency.watermark_wait_ms_p50": pct(wait, 50),
            "latency.emit_ms_p50": pct(emit, 50),
            "loadgen.late_ms_p99": pct(summary["late_ms"], 99),
            "loadgen.events": summary["events"],
            "join.match_ratio": joined / n_in if n_in else 0.0,
            "window.rows_out_per_in": len(rows) / joined if joined else 0.0,
        }
        return {
            "e2e": {"latency_p50_ms": pct(lat, 50), "latency_p99_ms": pct(lat, 99),
                    "throughput_rows_per_s": processed / busy_s if busy_s else 0.0},
            "layer": layer, "attempted": attempted, "failed": failed,
        }


def _settle(q, sink, timeout: float = 10.0) -> None:
    """Wait until no trigger is running and the last progress covers the
    last batch the sink stamped (the watermark's no-data batch included)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        time.sleep(0.2)
        last = q.lastProgress
        done = last is not None and last["batchId"] >= max(sink.emitted, default=-1)
        if done and not q.status["isTriggerActive"] and not q.status["isDataAvailable"]:
            return


def _backlog(progress: list[dict], summary: dict) -> tuple[list[float], float]:
    """Generated-minus-processed events at each tick of the generator's
    schedule (a trigger's rows count as processed when the trigger ends),
    and the slope (events/s) of that over the schedule's second half."""
    done_at = sorted((parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0,
                      p["numInputRows"]) for p in progress)
    pts, done, j = [], 0, 0
    for t, published in summary["publish_log"]:
        while j < len(done_at) and done_at[j][0] <= t:
            done += done_at[j][1]
            j += 1
        pts.append((t, published - done))
    mid = (summary["start_at"] + summary["end_at"]) / 2
    half = [(t, b) for t, b in pts if mid <= t <= summary["end_at"]]
    slope = float(np.polyfit(*zip(*half), 1)[0]) if len(half) >= 2 else 0.0
    return [b for _, b in pts], slope


class Catchup:
    """Backlog catch-up after an outage, run once inside a traced
    ``alerts_live`` run: drain a pre-written four-topic backlog with
    ``Trigger.availableNow``. Phase 1 lands every topic through
    ``jobs.ingest_store_stream`` (the four consumer queries running
    together); phase 2 runs stream-job1 and stream-job2 together."""

    def __init__(self, spark, work: str, inputs: str):
        self.spark, self.work = spark, work
        self.backlog = os.path.join(inputs, "backlog")
        with open(os.path.join(self.backlog, "_summary.json")) as f:
            self.n = json.load(f)["events"]

    def _cycle(self, d, tracer) -> dict:
        src = self.backlog
        t0 = time.time()
        landers = {}
        for topic in TOPICS:
            stream = topic_stream(self.spark, src, topic, tracer)
            with tracer.span("streaming.jobs", f"ingest_store_stream:{topic}"):
                landers[f"land_{topic}"] = jobs.ingest_store_stream(
                    stream, os.path.join(d, "store", topic), os.path.join(d, "ckpt", f"land-{topic}"))
        land_progress = [p for prog in run_available_now(landers, tracer).values() for p in prog]
        t1 = time.time()
        alerters, sinks = {}, []
        for pair, (job, _) in JOBS.items():
            a, b = (topic_stream(self.spark, src, t, tracer) for t in pair)
            with tracer.span("streaming.jobs", job.__name__):
                alerts = job(a, b)
            name = "_".join(pair)
            sinks.append(StampedSink(os.path.join(d, "out", name)))
            alerters[pair] = (alerts.writeStream.outputMode("append").foreachBatch(sinks[-1])
                              .option("checkpointLocation", os.path.join(d, "ckpt", f"alerts-{name}")))
        alert_progress = run_available_now(alerters, tracer)
        t2 = time.time()
        for sink in sinks:
            sink.flush()
        return {"land": land_progress, "alerts": alert_progress,
                "land_events_per_s": self.n / (t1 - t0), "alerts_events_per_s": self.n / (t2 - t1)}

    def drain_once(self, tracer) -> dict:
        """One cycle without checks; the single-core baseline uses this."""
        c = self._cycle(os.path.join(self.work, "baseline"), tracer)
        return {k: c[k] for k in ("land_events_per_s", "alerts_events_per_s")}

    def run(self, tracer) -> dict:
        """One checked cycle; returns its per-layer figures."""
        d = os.path.join(self.work, "catchup")
        c = self._cycle(d, tracer)
        events = {t: loadgen.read_events(self.backlog, t) for t in TOPICS}
        attempted = failed = 0
        for topic in TOPICS:
            with tracer.span("gate", f"store:{topic}"):
                landed = self.spark.read.parquet(os.path.join(d, "store", topic))
                a, f = gate.check_store(landed, events[topic], topic)
            attempted, failed = attempted + a, failed + f
        for pair in JOBS:
            a, f, _ = _check_job(self.spark, events, pair, os.path.join(d, "out", "_".join(pair)),
                                 c["alerts"][pair], tracer)
            attempted, failed = attempted + a, failed + f
        files, size = tree_bytes(os.path.join(d, "store"))
        layer = {
            "land_events_per_s": c["land_events_per_s"],
            "alerts_events_per_s": c["alerts_events_per_s"],
            "sink.add_batch_ms_p50": trigger_stats(c["land"])["sink.add_batch_ms_p50"],
            "sink.files_written": files,
            "sink.bytes_written": size,
            **self._parse_alone(tracer, events),
        }
        return {"layer": layer, "attempted": attempted, "failed": failed}

    def _parse_alone(self, tracer, events: dict) -> dict:
        """``demux_topic`` alone over the backlog into ``noop``."""
        from common import RECORD_SCHEMA
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
            parse,
        )

        rows = secs = nulls = 0
        for topic in TOPICS:
            records = self.spark.read.schema(RECORD_SCHEMA).json(
                os.path.join(self.backlog, f"topic-{topic}"))
            t0 = time.time()
            with tracer.span("streaming.parse", f"parse_alone:{topic}"):
                parsed = parse.demux_topic(records, f"topic-{topic}", topic)
                parsed.write.format("noop").mode("overwrite").save()
            secs += time.time() - t0
            rows += len(events[topic])
            nulls += parsed.filter(F.col("ts").isNull() | F.col("server_id").isNull()).count()
        return {"parse.events_per_s": rows / secs, "parse.null_rows": nulls}


class Batch:
    """The batch path, run once inside a traced ``alerts_live_net_disk``
    run: each query of the set is built with
    ``queries.all_queries()[name](spark, dir)`` and run to its result,
    collected in the driver as Arrow, one query at a time. After
    ``WARM_PASSES`` untimed passes, ``PASSES`` timed passes; per-query
    figures are medians over them. The gate hashes the last pass's
    results, so no query runs again for the check."""

    # Passes keep getting faster for several passes while the JIT compiles
    # (19.9, 7.7, 6.5, 6.1, 5.5, 5.5 s on the 4-core box), and each pass
    # still generates and compiles ~120 classes (the set has more
    # whole-stage-codegen classes than Spark's codegen cache holds). Two
    # warm-up passes and two timed ones keep a traced run inside its time
    # limit while the box is slow.
    WARM_PASSES = 2
    PASSES = 2

    def __init__(self, spark, tables: str):
        self.spark, self.tables = spark, tables
        self.queries = all_queries()

    def _one(self, name: str, group: str, tracer):
        self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.time()
        with tracer.span("queries", f"build:{name}"):
            df = self.queries[name](self.spark, self.tables)
        t1 = time.time()
        with tracer.span("queries", f"exec:{name}"):
            result = df.toArrow()
        t2 = time.time()
        with tracer.span("caching", f"cache_is_empty:{name}"):
            leaked = not caching.cache_is_empty(self.spark)
        return df, result, t1 - t0, t2 - t1, leaked

    def run(self, tracer) -> dict:
        for _ in range(self.WARM_PASSES):
            for name in BATCH_QUERIES:
                self.queries[name](self.spark, self.tables).toArrow()
        build, execs = defaultdict(list), defaultdict(list)
        frames, results = {}, {}
        attempted = failed = 0
        leaked = set()
        for p in range(self.PASSES):
            for name in BATCH_QUERIES:
                attempted += 1
                results[name] = None
                try:
                    frames[name], results[name], b, e, lk = self._one(name, f"pb-{p}-{name}", tracer)
                except Exception as exc:  # a failed query counts, the run goes on
                    print(f"query {name} failed: {exc!r}", file=sys.stderr)
                    failed += 1
                    continue
                build[name].append(b)
                execs[name].append(e)
                if lk:
                    leaked.add(name)
        total = sum(statistics.median(b + e for b, e in zip(build[n], execs[n]))
                    for n in BATCH_QUERIES if build[n])
        layer = {"batch_total_s": total, "cache.leaked_after_query": len(leaked)}
        tracker = self.spark.sparkContext.statusTracker()
        for name in BATCH_QUERIES:
            layer[f"query.{name}.build_s"] = statistics.median(build[name]) if build[name] else 0.0
            layer[f"query.{name}.exec_s"] = statistics.median(execs[name]) if execs[name] else 0.0
            job_ids = tracker.getJobIdsForGroup(f"pb-0-{name}")
            stages = [s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds]
            layer[f"query.{name}.jobs"] = len(job_ids)
            layer[f"query.{name}.tasks"] = sum(
                si.numTasks for s in stages if (si := tracker.getStageInfo(s)))
            if name in frames:
                with tracer.span("plans", f"plan_report:{name}"):
                    rep = inspect.plan_report(frames[name])
                layer[f"plan.{name}.exchanges"] = rep["exchanges"]
                layer[f"plan.{name}.python_stages"] = rep["python_stages"]
        digests = {}
        for name, table in results.items():
            with tracer.span("gate", f"digest:{name}"):
                digests[name] = None if table is None else gate.arrow_digest(table)
        return {"layer": layer, "attempted": attempted, "failed": failed, "digests": digests}


def oracle_digests(tables_dir: str, table_names) -> dict:
    """DuckDB oracle hash of every batch query over the seeded tables."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(tables_dir, t + '.parquet')}')")
        oracles = all_oracles()
        return {name: gate.duckdb_digest(con, oracles[name]) for name in BATCH_QUERIES}
    finally:
        con.close()
