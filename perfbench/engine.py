"""Engine process: builds the session, warms up, runs one workload.

Started by ``run.py`` (never by hand) with the package root on
``PYTHONPATH``: set-up (writes ``<dir>/ready.json``), then wait for
``<dir>/go``, then the measured run (with ``--trace 1``, an untraced run
followed by a traced one); writes ``<dir>/result.json``.

A traced ``alerts_live`` run then drains the catch-up backlog once, traced
and checked, in the same warm JVM (``workloads.Catchup``); then it stops
the session, starts one at ``local[1]`` in that JVM and drains the backlog
once more without checks: the single-core baseline. A traced
``alerts_live_net_disk`` run then runs the batch queries, traced, in the
same JVM (``workloads.Batch``); the launcher checks their results.

Set-up time runs from the launcher's spawn timestamp
(``PERFBENCH_SPAWN_T``) to the end of the warm-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_SPAWN = float(os.environ.get("PERFBENCH_SPAWN_T") or time.time())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _write(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


def _wait_for(path: str, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"no {os.path.basename(path)} within {timeout:.0f} s")
        time.sleep(0.01)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--dir", required=True, help="this process's own working directory")
    p.add_argument("--inputs", required=True, help="inputs the launcher generated")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
        session,
    )

    import workloads
    from spans import ProgressListener, Tracer

    setup_tracer = Tracer(args.trace == 1, f"{args.workload}-{args.seed}-setup")
    t0 = time.time()
    with setup_tracer.span("session", "get_spark"):
        spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "5000")
    t1 = time.time()
    wl = _make(args, spark)
    with setup_tracer.span("session", "warmup"):
        wl.warmup(setup_tracer)
    t2 = time.time()
    print(f"[engine] get_spark {t1 - t0:.1f} s, warm-up {t2 - t1:.1f} s", file=sys.stderr)
    setup = {"setup_s": t2 - T_SPAWN, "session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}
    _write(os.path.join(args.dir, "ready.json"), setup)
    _wait_for(os.path.join(args.dir, "go"), timeout=120)

    if args.trace:
        plain = wl.run(Tracer(False, f"{args.workload}-{args.seed}-plain"))
        tracer = Tracer(True, f"{args.workload}-{args.seed}-traced")
        tracer.spans = setup_tracer.spans
        listener = ProgressListener()
        spark.streams.addListener(listener)
        traced = wl.run(tracer)
        layer = {**setup, **traced["layer"]}
        layer.pop("setup_s")
        for k, v in traced["e2e"].items():
            layer[f"trace.overhead.{k}"] = v - plain["e2e"][k]
        result = {"layer": layer, "e2e": plain["e2e"],
                  "attempted": plain["attempted"] + traced["attempted"],
                  "failed": plain["failed"] + traced["failed"]}
        if args.workload == "alerts_live":
            extra = workloads.Catchup(spark, args.dir, args.inputs).run(tracer)
        else:
            extra = workloads.Batch(spark, os.path.join(args.inputs, "tables")).run(tracer)
            result["digests"] = extra["digests"]
        layer.update(extra["layer"])
        result["attempted"] += extra["attempted"]
        result["failed"] += extra["failed"]
        spark.streams.removeListener(listener)
        for prog in listener.take():
            tracer.add_trigger(prog)
        tracer.dump(os.path.join(args.dir, "spans.json"))
        for layer_name, secs in tracer.self_times().items():
            layer[f"layer.{layer_name}.self_s"] = secs
        if args.workload == "alerts_live":
            spark.stop()
            spark = session.get_spark("perfbench-1core", cpus=1)
            spark.sparkContext.setLogLevel("ERROR")
            baseline = workloads.Catchup(spark, args.dir, args.inputs).drain_once(
                Tracer(False, "baseline"))
            for k, v in baseline.items():
                layer[f"baseline.{k}_1core"] = v
    else:
        result = wl.run(Tracer(False, f"{args.workload}-{args.seed}"))
    t3 = time.time()
    _write(os.path.join(args.dir, "result.json"), result)
    spark.stop()
    print(f"[engine] run and checks {t3 - t2:.1f} s, stop {time.time() - t3:.1f} s",
          file=sys.stderr, flush=True)


PAIRS = {"alerts_live": "cpu_mem", "alerts_live_net_disk": "net_disk"}


def _make(args, spark):
    import workloads

    return workloads.Live(spark, args.dir, args.seed, args.seconds, args.inputs,
                          PAIRS[args.workload])


if __name__ == "__main__":
    main()
