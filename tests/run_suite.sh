#!/usr/bin/env bash
# Full-suite runner that fits a 10-minute wall-clock budget (VERDICT r06 #4).
#
# The suite is ~30 min of CPU across 900+ tests — too slow single-process
# (each pytest process holds ONE session-scoped local[8] SparkSession).
# pytest-xdist is not installed in this container, so parallelism is eight
# plain pytest processes over a fixed file partition, balanced by measured
# wall time. A file too big for one group splits across groups with the
# SPARK_GRAFT_FILE_SHARD=s/n collection-item shard in conftest.py:
# test_oracle_parity.py (the biggest single file) and test_streaming.py
# (trigger-WAIT bound, so its halves parallelize perfectly) each run in
# two halves.
# Streaming/stores groups spend most wall time waiting on micro-batch
# triggers, so the CPU-bound groups oversubscribe 32 cores only
# nominally. That slack is also why test_dedup_similarity.py — misc's
# measured 2:16 long pole — item-shards across the two streaming
# halves: its CPU overlaps their trigger waits. A changelog-into-stores
# variant was measured and REVERTED (stores' waits are shorter and it
# became the 6:05 pole); test_changelog.py lives in misc.
# 8 x 8g driver heap fits the 128 GiB box.
#
# Per-group shard routing: shards[i] is group i's SPARK_GRAFT_FILE_SHARD
# spec. It shards EVERY item the group's process collects, so a sharded
# group lists only files meant to shard. The suite-coverage pin
# (test_suite_hygiene.py) enforces that any multi-listed file's specs
# form a complete 0..n-1 cover over identical file lists. The var is set
# for every group (empty reads as unset) so a value exported in the
# caller's shell cannot leak in and silently drop tests.
#
# The ninth group runs the benchmark's self-tests (perfbench/tests, its own
# conftest and local[2] session): they import the alert jobs the engine
# defines, so a change there must keep the benchmark's gate working.
#
# Usage (from the repo root):   bash tests/run_suite.sh
# Exit code 0 iff all nine groups pass. Logs land in /tmp/rtsm-suite-*.log.
set -u
cd "$(dirname "$0")/.."
export SPARK_GRAFT_DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-8g}"

GROUP1="tests/test_streaming.py tests/test_dedup_similarity.py"
GROUP2="tests/test_oracle_parity.py"
GROUP3="tests/test_oracle_parity.py"
GROUP4="tests/test_plans.py tests/test_skew.py tests/test_reference_parity.py"
GROUP5="tests/test_properties.py tests/test_profiling.py"
GROUP6="tests/test_caching.py tests/test_changelog.py tests/test_cli.py \
tests/test_suite_hygiene.py tests/test_joins.py \
tests/test_multimodal.py tests/test_scaling_probe.py \
tests/test_sources.py tests/test_text_ops.py"
GROUP7="tests/test_streaming_stores.py"
GROUP8="tests/test_streaming.py tests/test_dedup_similarity.py"
GROUP9="perfbench/tests"

pids=()
names=(streaming-a oracle-a oracle-b plans properties misc stores streaming-b perfbench)
groups=("$GROUP1" "$GROUP2" "$GROUP3" "$GROUP4" "$GROUP5" "$GROUP6" "$GROUP7" "$GROUP8" "$GROUP9")
shards=("0/2" "0/2" "1/2" "" "" "" "" "1/2" "")
for i in "${!groups[@]}"; do
    # shellcheck disable=SC2086  # word-splitting the file list is the point
    env SPARK_GRAFT_FILE_SHARD="${shards[$i]}" \
        python -m pytest ${groups[$i]} -q --no-header \
        > "/tmp/rtsm-suite-${names[$i]}.log" 2>&1 &
    pids+=($!)
done

rc=0
for i in "${!groups[@]}"; do
    if ! wait "${pids[$i]}"; then
        rc=1
        echo "GROUP ${names[$i]} FAILED — tail of /tmp/rtsm-suite-${names[$i]}.log:"
        tail -n 30 "/tmp/rtsm-suite-${names[$i]}.log"
    else
        tail -n 1 "/tmp/rtsm-suite-${names[$i]}.log" | sed "s/^/GROUP ${names[$i]}: /"
    fi
done
exit $rc
