"""Cache lifecycle helpers (VERDICT r02 #7): operator-internal persist()
entries must not outlive the computation when callers use the scoped
helpers."""

from __future__ import annotations

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.caching import (
    cache_is_empty,
    cache_scope,
    released,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    dedup as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
    load_table,
)

from .conftest import SF_SMOKE
from .fixtures import FILE_CONTEXT_MANAGER, checkpoint_manager

BUFFER_KEYS = ("spark.buffer.pageSize", "spark.broadcast.blockSize")


def test_released_evicts_operator_internal_persist(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    shingled = ops.word_shingles(docs)
    with released(shingled):
        n_pairs = ops.jaccard_pairs(shingled, threshold=0.8).count()
        # the operator persisted the shingle table internally
        assert not cache_is_empty(spark)
    assert n_pairs >= 0
    assert cache_is_empty(spark)


def test_cache_scope_clears_everything(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    with cache_scope(spark):
        shingled = ops.word_shingles(docs)
        ops.minhash_lsh_pairs(shingled, threshold=0.8).count()
        assert not cache_is_empty(spark)
    assert cache_is_empty(spark)


def test_runtime_confs_respect_user_shuffle_partitions(spark):
    """apply_runtime_confs sizes shuffle partitions ONLY when nobody set
    them, to the session's task slots (state) and 2x slots (batch,
    initialPartitionNum): a session whose owner set shuffle partitions (a
    sized cluster) must never be clobbered, and gets no
    initialPartitionNum, so the owner's count governs batch and state
    alike."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        INITIAL_PARTITION_NUM,
        apply_runtime_confs,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_initial = spark.conf.get(INITIAL_PARTITION_NUM, None)
    try:
        spark.conf.unset("spark.sql.shuffle.partitions")
        apply_runtime_confs(spark)
        slots = spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(slots)
        assert spark.conf.get(INITIAL_PARTITION_NUM) == str(max(2 * slots, 8))

        spark.conf.unset(INITIAL_PARTITION_NUM)
        spark.conf.set("spark.sql.shuffle.partitions", "1000")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1000"
        assert spark.conf.get(INITIAL_PARTITION_NUM, None) is None

        # An owner's explicit 200, Spark's default value, is the owner's
        # choice too: the conf API tells it apart from an unset conf.
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert spark.conf.get(INITIAL_PARTITION_NUM, None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_initial is None:
            spark.conf.unset(INITIAL_PARTITION_NUM)
        else:
            spark.conf.set(INITIAL_PARTITION_NUM, prev_initial)


def test_local_session_writes_checkpoints_through_filesystem_manager(spark, tmp_path):
    """A ``local[...]`` session writes its checkpoint files through
    FileSystemBasedCheckpointFileManager, not Spark's FileContext default,
    which forks ``readlink``/``chmod`` per file without the Hadoop native
    library. An owner's own manager (a cloud store's, say) survives
    apply_runtime_confs, and so does Spark's default on any non-local
    master."""
    from types import SimpleNamespace

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        LOCAL_CHECKPOINT_FILE_MANAGER,
        apply_runtime_confs,
    )

    assert checkpoint_manager(spark, tmp_path / "ckpt") == "FileSystemBasedCheckpointFileManager"

    prev = spark.conf.get(CHECKPOINT_FILE_MANAGER, None)
    try:
        spark.conf.set(CHECKPOINT_FILE_MANAGER, FILE_CONTEXT_MANAGER)
        apply_runtime_confs(spark)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILE_CONTEXT_MANAGER
        assert checkpoint_manager(spark, tmp_path / "ckpt") == "FileContextBasedCheckpointFileManager"
    finally:
        if prev is None:
            spark.conf.unset(CHECKPOINT_FILE_MANAGER)
        else:
            spark.conf.set(CHECKPOINT_FILE_MANAGER, prev)

    class Conf(dict):  # the two RuntimeConfig calls apply_runtime_confs makes
        def set(self, key, value):
            self[key] = value

    def managed(master: str) -> str | None:
        bare = SimpleNamespace(
            conf=Conf({"spark.sql.shuffle.partitions": "64"}),
            sparkContext=SimpleNamespace(master=master, defaultParallelism=64),
        )
        return apply_runtime_confs(bare).conf.get(CHECKPOINT_FILE_MANAGER)

    for master in ("local", "local[3]", "local[*]", "local[4,2]"):
        assert managed(master) == LOCAL_CHECKPOINT_FILE_MANAGER, master
    for master in ("yarn", "spark://driver:7077", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert managed(master) is None, master


def test_get_spark_keeps_a_fetched_sessions_partition_counts(spark, monkeypatch):
    """get_spark on a running session (the CLI roles call it in-process)
    fetches it without resizing: its master, and so its task slots, is
    already fixed, and so is its heap; its owner's partition counts and
    buffer sizes stay."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        INITIAL_PARTITION_NUM,
        get_spark,
    )

    keys = ("spark.sql.shuffle.partitions", INITIAL_PARTITION_NUM) + BUFFER_KEYS
    before = [spark.conf.get(k) for k in keys]
    page_before = page_size_bytes(spark)
    # A heap that would size a new session's pages differently (8m).
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert get_spark("rtsm-refetch", cpus=2, shuffle_partitions=3) is spark
    assert [spark.conf.get(k) for k in keys] == before
    assert page_size_bytes(spark) == page_before


def page_size_bytes(spark) -> int:
    return spark._jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()


def test_buffer_confs_cover_unified_memory_with_small_pages():
    """The page is the smallest power of two of at least 2 MB whose 8,192
    page-table entries still cover the unified memory, so a task can use
    all of it; broadcast blocks stay below half a 1 MB G1 region."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        buffer_confs,
    )

    mb = 1024 * 1024
    for heap, heap_mb, page_mb in (("2g", 2048, 2), ("16g", 16384, 2), ("64g", 65536, 8)):
        confs = buffer_confs(heap)
        page = int(confs["spark.buffer.pageSize"].removesuffix("m")) * mb
        unified = (heap_mb - 300) * mb * 0.6
        assert page == page_mb * mb, (heap, confs)
        assert page >= 2 * mb and 8192 * page >= unified, heap
        assert page == 2 * mb or 8192 * page // 2 < unified, heap  # the smallest such
        assert confs["spark.broadcast.blockSize"] == "256k"


def test_session_sizes_pages_and_broadcast_blocks_for_micro_batches(spark):
    """The suite's ``local[8]`` session (8g-16g heap) runs 2 MB Tungsten
    pages, where Spark's heap-derived default would be 32-64 MB, and
    256 KB broadcast blocks instead of 4 MB."""
    assert page_size_bytes(spark) == 2 * 1024 * 1024
    assert spark.sparkContext.getConf().get("spark.broadcast.blockSize") == "256k"
