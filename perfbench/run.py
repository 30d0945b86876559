"""Benchmark launcher: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload alerts_live --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher generates the workload's
inputs from the seed, starts the engine process (``engine.py``) in a fresh
working directory under ``.perfbench_work/``, samples the engine's memory,
and prints as its last stdout line::

    {"correct": bool, "attempted": n, "failed": m, "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics (a
layer that does no work on the workload reports 0). Traced runs keep their spans in
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

PACKAGE = "real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark"
WORKLOADS = ("alerts_live", "alerts_live_net_disk")
DRIVER_MEM = "2g"
YOUNG_GEN = "256m"
# C2 compiles a method after 30% of the default invocation counts, so the
# JIT settles sooner: at the default thresholds passes over the batch
# queries kept speeding up until the sixth pass (7.5, 7.2, 7.3, 7.0, 6.8,
# 6.2 s after two warm-up passes), at 30% until about the fourth.
JIT_OPTS = "-XX:CompileThresholdScaling=0.3"
ENGINE_TIMEOUT_S = 150
BATCH_SCALE = 0.01


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def engine_cpus() -> int:
    """Cores for ``local[N]``: all but the one the load generator uses."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def make_inputs(workload: str, seed: int, inputs: str, trace: bool) -> None:
    import loadgen
    import tables

    loadgen.generate_backlog(os.path.join(inputs, "warm"), seed + 1, "warm")
    if not trace:
        return
    if workload == "alerts_live":  # the catch-up cycle
        loadgen.generate_backlog(os.path.join(inputs, "backlog"), seed, "catchup")
    else:  # the batch queries
        counts = tables.write_tables(os.path.join(inputs, "tables"), seed, BATCH_SCALE)
        with open(os.path.join(inputs, "tables.json"), "w") as f:
            json.dump(counts, f)


def engine_env(d: str, cpus: int) -> dict:
    local = os.path.join(d, "spark-local")
    tmp = os.path.join(d, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        # The same set and dict orders in every run, so query construction
        # takes the same path whatever the process.
        "PYTHONHASHSEED": "0",
        # Keep the JVM's files inside the run directory (no /tmp/hsperfdata)
        # and fix the heap and young generation sizes, so resident memory
        # does not follow G1's timing-driven heap resizing (with a growing
        # heap, peak RSS over the batch queries spread 0.22 over four seeds).
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.driver.extraJavaOptions="
                               f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} "
                               f"-Xmn{YOUNG_GEN} {JIT_OPTS}' pyspark-shell",
        "PERFBENCH_SPAWN_T": repr(time.time()),
    })
    return env


class Engine:
    """One engine process in its own session (so its JVM dies with it)."""

    def __init__(self, args, d: str, inputs: str, cpus: int):
        os.makedirs(d, exist_ok=True)
        self.dir = d
        self.log = open(os.path.join(d, "engine.log"), "w")
        cmd = [sys.executable, os.path.join(HERE, "engine.py"), "--workload", args.workload,
               "--dir", d, "--inputs", inputs, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        self.proc = subprocess.Popen(cmd, cwd=d, env=engine_env(d, cpus), stdout=self.log,
                                     stderr=subprocess.STDOUT, start_new_session=True)

    def read(self, name: str) -> dict:
        with open(os.path.join(self.dir, name)) as f:
            return json.load(f)

    def wait_for(self, name: str, timeout: float) -> dict:
        deadline = time.time() + timeout
        path = os.path.join(self.dir, name)
        while not os.path.exists(path):
            if self.proc.poll() is not None and not os.path.exists(path):
                raise RuntimeError(f"engine exited with {self.proc.returncode}:\n{self.tail()}")
            if time.time() > deadline:
                raise TimeoutError(f"engine wrote no {name} in {timeout:.0f} s:\n{self.tail()}")
            time.sleep(0.02)
        return self.read(name)

    def finish(self, timeout: float) -> None:
        try:
            self.proc.wait(timeout=timeout)
        finally:
            self.kill()
        if self.proc.returncode != 0:
            raise RuntimeError(f"engine exited with {self.proc.returncode}:\n{self.tail()}")
        for line in self.tail(20000).splitlines():
            if line.startswith("[engine]"):
                log(line.removeprefix("[engine] "))

    def kill(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
        else:
            try:  # the JVM and Python workers of an exited engine
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.log.close()

    def tail(self, n: int = 4000) -> str:
        if not self.log.closed:
            self.log.flush()
        with open(os.path.join(self.dir, "engine.log")) as f:
            return f.read()[-n:]


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (driver JVM, Python driver
    and Python workers), sampled every 50 ms. The tree is re-read from
    /proc once a second, as a scan of /proc costs the launcher a few ms of
    CPU. The load generator is not part of the engine and is left out."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._halt = pid, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        members: list[int] = []
        samples = 0
        while not self._halt.is_set():
            if samples % 20 == 0:
                members = self._members()
            samples += 1
            self.peak = max(self.peak, self._rss(members))
            self._halt.wait(0.05)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20

    def _members(self) -> list[int]:
        parents: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        cmdlines: dict[int, bytes] = {}
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            for child, parent in parents.items():
                if parent == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        for p in tree:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmdlines[p] = f.read()
            except OSError:
                continue
        # Skip the load generator, and a fork that has not yet exec'd (the
        # JVM forks to run shell helpers; its pages are shared).
        return [p for p, cmd in cmdlines.items()
                if b"loadgen.py" not in cmd and cmdlines.get(parents.get(p)) != cmd]

    def _rss(self, members: list[int]) -> int:
        total = 0
        for p in members:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                continue
        return total


def oracle_digests(inputs: str) -> dict:
    """DuckDB oracles for the batch queries of a traced
    ``alerts_live_net_disk`` run, computed once the engine has exited, so
    they take no CPU from the engine."""
    import workloads

    try:
        with open(os.path.join(inputs, "tables.json")) as f:
            names = list(json.load(f))
        return workloads.oracle_digests(os.path.join(inputs, "tables"), names)
    except Exception as exc:  # every output then counts as failed
        log(f"oracle failed: {exc!r}")
        return {}


def check_digests(result: dict, oracle: dict) -> None:
    """Count each query output that does not hash-match its oracle."""
    digests = result.pop("digests")
    bad = [n for n, d in digests.items() if d is None or d != oracle.get(n)]
    if bad:
        log(f"outputs differing from the oracle: {bad}")
    result["attempted"] += len(digests)
    result["failed"] += len(bad)


def measure(args, work: str) -> tuple[dict, dict]:
    """Run the engine; returns (engine result, extra figures)."""
    t_start = time.time()
    inputs = os.path.join(work, "inputs")
    make_inputs(args.workload, args.seed, inputs, args.trace == 1)
    main = Engine(args, os.path.join(work, "main"), inputs, engine_cpus())
    sampler = None
    try:
        sampler = RssSampler(main.proc.pid)
        sampler.start()
        t0 = time.time()
        setup_s = main.wait_for("ready.json", ENGINE_TIMEOUT_S)["setup_s"]
        log(f"set-up {setup_s:.1f} s (inputs {t0 - t_start:.1f} s)")
        open(os.path.join(main.dir, "go"), "w").close()
        t1 = time.time()
        main.finish(ENGINE_TIMEOUT_S)
        extra = {"setup_s": setup_s, "peak_rss_mb": sampler.stop()}
        result = main.read("result.json")
        log(f"measured run and checks {time.time() - t1:.1f} s")
        if "digests" in result:
            check_digests(result, oracle_digests(inputs))
        if args.trace:
            spans_out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(spans_out, exist_ok=True)
            shutil.copy(os.path.join(main.dir, "spans.json"),
                        os.path.join(spans_out, f"spans-{args.workload}-{args.seed}.json"))
        return result, extra
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        main.kill()


def main() -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark launcher")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, extra = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        figures = {**result["layer"], **extra,
                   "failed_frac": result["failed"] / max(result["attempted"], 1)}
        declared = spec["per_layer"]
    else:
        figures = {**result["e2e"], **extra}
        declared = spec["end_to_end"]
    metrics = {}
    for m in declared:
        value = figures.get(m["name"], 0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    out = {"correct": result["failed"] == 0, "attempted": result["attempted"],
           "failed": result["failed"], "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
