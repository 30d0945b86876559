#!/usr/bin/env python
"""Dump registry queries' ``explain("formatted")`` for plan-identity checks.

Usage: python tools/plan_dump.py OUT_DIR [--sf-dir DIR] [NAME ...]

Builds each named registry query (default: all of them) over DIR (default:
the sf0.001 test data) in one session and writes its formatted physical
plan to OUT_DIR/<name>.txt, through :func:`normalise`. Two trees plan
identically when ``diff -r`` of their dumps is empty, so dump the parent
and the change with the same $SPARK_GRAFT_CPUS. The cache is cleared
before each query, so no plan reads another query's cached data.
Queries that execute inside their builder return a local frame; their dump
is that frame's trivial plan. Nothing is left outside OUT_DIR.
"""
from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (  # noqa: E402
    session,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (  # noqa: E402
    all_queries,
)


def normalise(plan: str, pid: int | None = None) -> str:
    """``plan`` with what differs between two builds of one plan replaced:
    temp-directory names (``<tmp>``, the path below them kept), the
    ``_<pid>`` suffix of per-process table names, expression ids (``#123``)
    and exchange ``plan_id``s."""
    pid = os.getpid() if pid is None else pid
    plan = re.sub(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]\)]+", "<tmp>", plan)
    plan = re.sub(rf"_{pid}(?!\d)", "_<pid>", plan)
    plan = re.sub(r"#\d+", "#", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # Python workers import the package from PYTHONPATH, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    queries = all_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    out_dir, sf_dir = os.path.abspath(args.out_dir), os.path.abspath(args.sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    # Spark creates its warehouse directory in the working directory.
    with tempfile.TemporaryDirectory() as cwd:
        os.chdir(cwd)
        spark = session.get_spark(app_name="rtsm-plan-dump")
        spark.sparkContext.setLogLevel("ERROR")
        for name in args.names or queries:
            spark.catalog.clearCache()
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                plan = formatted_plan(queries[name](spark, sf_dir))
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(normalise(plan))
            print(name, flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
