"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload alerts_live --seeds 1-10 [--out runs.jsonl]

Runs ``run.py`` once per seed (sequentially, from the repository root)
and prints, per end-to-end metric, the median, the quartiles and the
quartile distance as a share of the median, next to the metric's bound in
``BENCHMARK.json``. With ``--out`` every run's JSON line is appended to a
file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, quartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=400)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        runs.append(result)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    if len(runs) < 2:
        return 0
    print(f"{'metric':<24}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for m in spec["end_to_end"]:
        med, q1, q3, s = spread([r["metrics"][m["name"]]["value"] for r in runs])
        print(f"{m['name']:<24}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{s:>9.3f}{m['bound']:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
