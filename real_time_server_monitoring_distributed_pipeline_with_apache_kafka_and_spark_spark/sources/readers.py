"""Batch sources: parquet testdata tables and metric CSVs.

Replaces the reference's ``spark.read.csv(..., inferSchema=True)`` scans
(``spark_job1.py:14-15``) with explicit-schema reads; parquet scans get
column pruning + predicate pushdown from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized types.

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` it reads as long nanos and
    is converted to a microsecond timestamp here (SURVEY.md SS7.4). The
    conversion is a codegen'd projection - pushdown on other columns is
    unaffected.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer `div`, not `/1000`: float division of ~1.7e18 ns loses
        # sub-microsecond precision (double ulp ~256 ns at that magnitude).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> list[str]:
    """Register the testdata tables as temp views for ad-hoc ``spark.sql``.

    Views are lazy logical plans over the normalized ``load_table`` scans —
    registering all ten costs nothing until a query references one, and a
    query that references two tables scans exactly those two (the catalog
    lookup resolves to the same pruned/pushed-down parquet scans the named
    queries compile to). Returns the registered names.
    """
    out = []
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
        out.append(n)
    return out


def parallelize_if_narrow(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer partitions than
    cores (small/single-file inputs). At real scale the input already has
    thousands of partitions and this is a no-op — no shuffle is added.

    Use for long linear per-row compute chains (e.g. a real image-decode
    UDF over a narrow scan). Do NOT use upstream of multi-branch plans
    that persist the result: measured on the dedup pipelines, the extra
    tiny-partition shuffle made every branch slower (ngram 12s -> 31s at
    sf0.1) — the persist already amortizes the serial scan there.
    """
    # Streaming DataFrames have no inputFiles()/rdd to inspect (both
    # raise); micro-batch parallelism is the source's concern
    # (maxFilesPerTrigger / Kafka partitions), so pass through untouched.
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    # inputFiles() reads the scan's file listing without materializing the
    # plan (df.rdd would force RDD conversion just to count partitions).
    # File count lower-bounds scan parallelism for splittable formats.
    n_files = len(df.inputFiles())
    if n_files == 0:
        # Non-file-backed (createDataFrame, post-shuffle, memory source):
        # no listing to inspect, so pay the RDD-conversion partition count
        # to keep the min-parallelism guarantee for these callers.
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if n_files < target:
        return df.repartition(target)
    return df


def read_metrics_csv(spark: SparkSession, path: str, topic: str = "wide") -> DataFrame:
    """Explicit-schema CSV scan of a (wide or landed narrow) metric file.

    Parity with reference S1 (``spark_job1.py:14-15``) minus ``inferSchema``.
    """
    schema = schemas.METRICS_WIDE if topic == "wide" else schemas.TOPIC_SCHEMAS[topic]
    return spark.read.schema(schema).csv(path, header=True)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Explicit-schema JSON-Lines scan — the interchange format most raw
    text/web corpora arrive in before they become parquet.

    Same no-inference policy as every other source here: at 100 TB a
    schema-inference pass is a full extra read of the corpus, and a
    drifting inferred type (one shard where an id happens to parse as
    long) silently forks downstream plans. Corrupt lines land in
    ``_corrupt_record`` (PERMISSIVE) instead of failing the scan —
    the audit-then-drop posture; pass a schema without that column to
    drop them silently.
    """
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink (one object per line, parallel files) — the export
    format for downstream tokenizer/training toolchains."""
    df.write.mode(mode).json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file multimodal ingest via Spark's built-in ``binaryFile``
    source: one row per file with (path, modificationTime, length,
    content BINARY) — the real entry point for image/audio/video corpora
    that arrive as loose files before anything re-packs them as parquet.
    The operators/multimodal.py decode chain consumes the ``content``
    column directly (its test-fixture twin, attach_binary_payload,
    derives payloads from text instead).

    ``glob`` filters by filename pattern (``pathGlobFilter``, e.g.
    ``*.png``) AT LISTING TIME — skipped files are never opened.
    ``max_bytes`` refuses files above a size cap (a corrupt 50 GB blob
    in a crawl of 100 KB images would otherwise OOM the task that draws
    it): the filter is on the ``length`` METADATA column, which prunes
    via the source's own file listing before content is read.

    Scale notes: binaryFile is NOT splittable (one file = one task's
    read — fine for media files, wrong for a single giant tar; unpack
    archives upstream), and content rows flow whole through the scan —
    keep ``spark.sql.files.maxPartitionBytes``-sized batches in mind
    when files are large.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_binary_files_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_binary_files`: watch a directory for
    newly arriving media files and emit them as (path, modificationTime,
    length, content) rows — continuous multimodal landing. Feed it to
    ``streaming.jobs.ingest_store_stream`` with a decode transform and
    arriving media accretes into an idempotent feature store exactly
    once (pinned by tests/test_streaming.py::
    test_binary_file_stream_lands_decoded_features).

    Streaming file sources require an explicit schema; binaryFile's is
    FIXED (``BINARY_FILE_SCHEMA``), so none is asked of the caller.
    ``max_files_per_trigger`` bounds micro-batch size — the backpressure
    knob for a directory that starts with a large backlog.
    """
    reader = spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan — the other columnar interchange format (Hive/Trino
    warehouses commonly hand data over as ORC). Columnar + footer stats,
    so Spark's predicate pushdown and column pruning work exactly as on
    parquet (pinned by tests/test_sources.py::test_orc_pushdown_and_pruning).

    Schema is optional (unlike the text formats): ORC files embed their
    schema, so no inference pass is needed; pass one to pin types across
    shards written by drifting producers.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """ORC sink (parallel files, optional hive-style partitioning) — the
    export path into ORC-native warehouses; same no-coalesce posture as
    :func:`write_partitioned_parquet`."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Scale-safe sink: partitioned parquet, no ``coalesce(1)``.

    Replaces reference S2 (``spark_job1.py:57`` single-file CSV). At 100 TB a
    single-task write is the bottleneck; a partitioned columnar layout keeps
    writes parallel and enables partition pruning on read.
    """
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent PARTITION-scoped batch overwrite: rewrite only the
    partitions present in ``df``, leaving every other landed partition
    untouched (``spark.sql.sources.partitionOverwriteMode=dynamic``,
    scoped to this write). The warehouse re-run primitive: a corrected
    day's batch replaces exactly that day's directories — re-running it
    twice is a no-op, and neighbors never vanish, unlike a plain
    ``mode("overwrite")`` which truncates the WHOLE table root.

    At 100 TB this is also the cheap path: the rewrite's cost is the
    affected partitions' size, not the table's. Pair with the streaming
    stores' ``batch_id=N`` contract — this is the same idempotence idea
    for scheduled batch.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (optionally sorted) parquet table: co-locate join/agg keys
    at WRITE time so every later join or aggregation on the bucket key
    runs with zero exchange — the landed-table answer to the monitoring
    join's both-sides shuffle (operators/monitoring.py scale notes).

    At 100 TB this converts the per-query shuffle of two metric tables
    into a one-time cost at landing: both sides bucketed by the same key
    into the same bucket count join bucket-to-bucket (plan pinned by
    tests/test_plans.py::test_bucketed_join_no_exchange). ``sort_cols``
    additionally orders within buckets so sort-merge joins skip the sort
    when files-per-bucket is 1.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered, within-file-sorted parquet layout: global range
    partitioning on ``sort_cols`` + a sort inside each output task.

    The time-series landing layout: every output file covers a DISJOINT
    ``sort_cols`` range (range partitioning puts a row's file by its key
    range; the in-task sort orders rows inside), so parquet footer
    min/max statistics become airtight — a reader with a range predicate
    skips every non-overlapping file (and row group) without touching
    its data pages. At 100 TB this is the difference between scanning a
    month and scanning the two hours the query asks about, BEFORE
    partition pruning even enters: it composes with (and refines)
    date-partitioned directories.

    ``repartitionByRange`` samples the key distribution, so files are
    balanced under skew (unlike fixed time-bucket directories, where a
    hot hour lands in one file). File-range disjointness is pinned by
    tests/test_sources.py::test_range_sorted_layout_disjoint_files.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def _quantile_bucket_expr(col: F.Column, cuts: list[float], lo: int, hi: int) -> F.Column:
    """Balanced comparison tree assigning ``col`` its bucket in
    [lo, hi] given sorted boundaries ``cuts`` (cuts[i] separates bucket i
    from i+1): depth log2(cells), total 2*cells-1 expression nodes —
    codegen'd binary search, no per-row loop, no window."""
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return (
        F.when(col < F.lit(cuts[mid]), _quantile_bucket_expr(col, cuts, lo, mid))
        .otherwise(_quantile_bucket_expr(col, cuts, mid + 1, hi))
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> F.Column:
    """Z-order (Morton) curve key over 2+ numeric columns: each column
    maps onto a ``bits``-bit grid via SAMPLED quantile cut points
    (``approxQuantile`` — rank-based, so skewed distributions still fill
    the grid uniformly), then the grids' bits interleave into one
    clustering key. Nearby curve keys are nearby in EVERY input
    dimension — the property single-column sorting cannot give a second
    column.

    Scale shape: the cuts are one sampling pass per column collected as
    an O(2^bits) driver array (the ``repartitionByRange`` sampling
    pattern — NOT a global-sort ntile window, which would funnel the
    table through one task), and bucket assignment is a codegen'd
    balanced comparison tree — pure scan speed.
    """
    n_cells = 1 << bits
    probs = [i / n_cells for i in range(1, n_cells)]
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cuts = df.approxQuantile(c, probs, 1.0 / (4 * n_cells))
        grid = _quantile_bucket_expr(
            F.col(c).cast("double"), cuts, 0, n_cells - 1
        ).cast("long")
        for b in range(bits):
            bit = F.shiftright(grid, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return key


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustered landing: range-partition + sort on a
    Z-ORDER curve key over ``cluster_cols``, so parquet footer min/max
    stats stay tight on EVERY clustered column at once — the file-
    skipping layout for workloads that filter sometimes by one column,
    sometimes by another (Delta/Iceberg's OPTIMIZE ZORDER, as plain
    DataFrame ops). :func:`write_range_sorted` makes one column's ranges
    airtight and leaves the second column scattered across all files;
    the curve trades a little tightness on the first for bounded ranges
    on all. Effectiveness is pinned by
    tests/test_sources.py::test_zorder_layout_skips_on_both_columns.

    Cost: one quantile-sampling pass per clustered column (driver gets
    an O(2^bits) cut array — the ``repartitionByRange`` sampling
    pattern) plus the curve-keyed range write, paid once at landing
    time, amortized by every subsequent pruned scan (the standard
    lakehouse OPTIMIZE trade).
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    keyed = df.withColumn("__zkey", zorder_key(df, cluster_cols, bits=bits))
    (
        keyed.repartitionByRange(n, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference-parity sink: one CSV part-file with header (S2/M1,
    ``spark_job1.py:57``). Only for small demo outputs."""
    df.coalesce(1).write.csv(path, header=True, mode=mode)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: ``mergeSchema`` unions the
    footers of every file under ``path``, so shards written before a
    column existed read as NULL in that column instead of failing or
    silently dropping it — the read side of additive schema evolution on
    a long-lived 100 TB landing zone.

    mergeSchema costs a footer read per file at planning time; use it on
    evolving landing zones, not on frozen curated tables (plain
    ``spark.read.parquet`` skips the union there).
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def conform_to_schema(df: DataFrame, schema, strict: bool = False) -> DataFrame:
    """Normalize any DataFrame onto a target StructType: missing columns
    materialize as typed NULLs, extra columns drop (or raise when
    ``strict``), present columns cast to the target type, and the output
    column order IS the schema order — the write-side half of schema
    evolution, run before appending to a governed table so every shard
    carries the identical schema regardless of which producer version
    emitted it.

    Casting uses plain ``cast`` (ANSI-off permissive semantics:
    unparseable values become NULL rather than failing mid-append);
    pair with an expectations gate downstream when NULLs must alarm.

    Name matching is CASE-INSENSITIVE (Spark's own default resolver
    semantics, ``spark.sql.caseSensitive=false``): a producer shard that
    drifted to ``Doc_ID`` still feeds the target's ``doc_id`` instead of
    silently materializing NULLs. Two producer columns that collide
    case-insensitively are ambiguous and raise — but only when the
    collision matters: in non-strict mode a collision among columns the
    target doesn't name at all would be dropped either way, so those
    frames normalize instead of failing.
    """
    target_lower = {f.name.lower() for f in schema.fields}
    have: dict[str, str] = {}
    for c in df.columns:
        lc = c.lower()
        if lc in have and (strict or lc in target_lower):
            raise ValueError(
                f"ambiguous producer columns (case-insensitive collision): "
                f"{have[lc]!r} vs {c!r}"
            )
        have.setdefault(lc, c)
    extras = [c for c in df.columns if c.lower() not in target_lower]
    if strict and extras:
        raise ValueError(f"unexpected columns for target schema: {extras}")
    cols = []
    for field in schema.fields:
        src = have.get(field.name.lower())
        if src is not None:
            cols.append(F.col(src).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def fs_total_bytes(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Recursive byte total of ``suffix`` files under ``path`` via the
    Hadoop FileSystem API — works against any store Spark itself can
    read (local, HDFS, object stores), unlike ``os.walk``, which only
    sees the driver's local filesystem. A driver-side listing, so it
    sizes a store without a job, e.g. ``compact_ingest_store``'s output
    count. Uses the JVM gateway, so classic sessions only (same
    constraint as caching.py; Spark Connect exposes no ``_jvm``)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = fs.listFiles(jpath, True)
    total = 0
    while files.hasNext():
        status = files.next()
        if status.getPath().getName().endswith(suffix):
            total += status.getLen()
    return total


def file_layout_report(
    spark: SparkSession, path: str, small_file_bytes: int = 32 * 1024 * 1024
) -> DataFrame:
    """Small-file / layout health report for a landed parquet store.

    The dominant table-maintenance failure at 100 TB is not wrong data
    but wrong LAYOUT: thousands of KB-sized files per partition (each one
    a scan task, a NameNode/listing entry, an S3 GET) written by
    over-parallel or micro-batch jobs. This reads the store's own
    ``_metadata`` hidden struct — per-FILE facts surfaced by the scan
    itself, no filesystem walk, no driver-side listing loop — and
    aggregates one row per directory: file count, bytes, rows,
    small-file count (< ``small_file_bytes``) and the min/avg/max file
    size the compaction decision needs. Distributed end-to-end: the
    per-file collapse happens map-side in the same jobs that would scan
    the data anyway.

    Pair with ``compact_ingest_store`` / ``overwrite_partitions``: this
    report says WHERE to compact, those say how.
    """
    meta = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.file_size").alias("file_size"),
    )
    per_file = meta.groupBy("file_path", "file_size").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    per_dir = per_file.withColumn(
        "directory", F.regexp_replace("file_path", "/[^/]+$", "")
    ).groupBy("directory")
    return per_dir.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("file_size").alias("total_bytes"),
        F.sum("n_rows").alias("total_rows"),
        F.count(F.when(F.col("file_size") < small_file_bytes, 1)).alias(
            "n_small_files"
        ),
        F.min("file_size").alias("min_file_bytes"),
        (F.sum("file_size") / F.count(F.lit(1))).cast("long").alias("avg_file_bytes"),
        F.max("file_size").alias("max_file_bytes"),
    )
