"""Source/sink layout tests."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
    write_range_sorted,
)

from .conftest import SF_SMOKE


def test_range_sorted_layout_disjoint_files(spark, tmp_path):
    """write_range_sorted must produce files whose ts key ranges are
    pairwise disjoint (footer min/max proves a range reader can skip
    every non-overlapping file) and fully sorted within each file."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "ts", "value"
    )
    out = str(tmp_path / "range_sorted")
    write_range_sorted(ev, out, sort_cols=["ts"], n_files=8)

    ranges = []
    n_rows = 0
    for f in glob.glob(f"{out}/part-*.parquet"):
        pf = pq.ParquetFile(f)
        file_min = file_max = None
        prev_group_max = None
        for g in range(pf.metadata.num_row_groups):
            col = next(
                pf.metadata.row_group(g).column(i)
                for i in range(pf.metadata.row_group(g).num_columns)
                if pf.metadata.row_group(g).column(i).path_in_schema == "ts"
            )
            stats = col.statistics
            assert stats is not None and stats.has_min_max
            # row groups are internally ordered too (sortWithinPartitions)
            if prev_group_max is not None:
                assert stats.min >= prev_group_max
            prev_group_max = stats.max
            file_min = stats.min if file_min is None else min(file_min, stats.min)
            file_max = stats.max if file_max is None else max(file_max, stats.max)
            n_rows += pf.metadata.row_group(g).num_rows
        if file_min is not None:
            ranges.append((file_min, file_max))

    assert n_rows == ev.count()
    assert len(ranges) > 1  # range partitioning actually split the data
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges: {(lo_a, hi_a)} vs {(lo_b, hi_b)}"


def test_jsonl_roundtrip_and_corrupt_line_audit(spark, tmp_path):
    """S1 extension: explicit-schema JSONL source/sink. Round-trips the
    documents table losslessly, and a malformed line lands in
    _corrupt_record (audit-then-drop) instead of failing the scan or
    silently vanishing."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        load_table,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(spark, out, docs.schema)
    want = sorted(tuple(r) for r in docs.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want

    # Corrupt line handling: append a garbage file into the directory.
    (tmp_path / "docs_jsonl" / "zz_garbage.json").write_text(
        '{"doc_id": 1, "text": "ok-line", "lang": "en", "source": "s", "n_chars": 7}\n'
        "{not json at all\n"
    )
    audit_schema = StructType(
        list(docs.schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    # Spark disallows projecting ONLY _corrupt_record from a raw JSON
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize full rows.
    rows = read_jsonl(spark, out, audit_schema).collect()
    n_bad = sum(1 for r in rows if r._corrupt_record is not None)
    assert n_bad == 1
    assert len(rows) - n_bad == docs.count() + 1


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """write_zorder_clustered must keep per-file footer min/max ranges
    BOUNDED on both clustered columns simultaneously — a point/range
    predicate on either column can skip most files. The single-column
    range-sorted layout (the control) leaves the second column's per-file
    ranges spanning nearly the whole domain."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        write_range_sorted,
        write_zorder_clustered,
    )

    from pyspark.sql import functions as F

    # Two independent uniform dimensions.
    df = spark.range(40000).select(
        F.pmod(F.xxhash64("id"), F.lit(10000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)).alias("y"),
        F.col("id").alias("payload"),
    )

    def per_file_coverage(path, col):
        """Mean fraction of the column's domain a file's [min, max] spans."""
        spans = []
        lo_all, hi_all = None, None
        metas = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            pf = pq.ParquetFile(f)
            fmin = fmax = None
            for g in range(pf.metadata.num_row_groups):
                c = next(
                    pf.metadata.row_group(g).column(i)
                    for i in range(pf.metadata.row_group(g).num_columns)
                    if pf.metadata.row_group(g).column(i).path_in_schema == col
                )
                s = c.statistics
                fmin = s.min if fmin is None else min(fmin, s.min)
                fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is None:
                continue
            metas.append((fmin, fmax))
            lo_all = fmin if lo_all is None else min(lo_all, fmin)
            hi_all = fmax if hi_all is None else max(hi_all, fmax)
        domain = (hi_all - lo_all) or 1
        return sum((b - a) / domain for a, b in metas) / len(metas), len(metas)

    z_out = str(tmp_path / "zorder")
    write_zorder_clustered(df, z_out, ["x", "y"], n_files=16)
    ctl_out = str(tmp_path / "xsorted")
    write_range_sorted(df, ctl_out, sort_cols=["x"], n_files=16)

    zx, nzx = per_file_coverage(z_out, "x")
    zy, _ = per_file_coverage(z_out, "y")
    cx, ncx = per_file_coverage(ctl_out, "x")
    cy, _ = per_file_coverage(ctl_out, "y")
    assert nzx >= 8 and ncx >= 8  # layouts actually split
    # Control: x airtight, y unclustered (files span ~the whole y domain).
    assert cx < 0.15 and cy > 0.8
    # Z-order: BOTH columns bounded — every file covers a strict
    # sub-range of each dimension (the 2D skipping property).
    assert zx < 0.5 and zy < 0.5, (zx, zy)
    # And rows survive the round trip.
    assert spark.read.parquet(z_out).count() == 40000


def test_orc_roundtrip_lossless(spark, tmp_path):
    """ORC sink -> source round-trips every testdata type losslessly,
    including timestamps and binary payloads, with partitioned layout."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        load_table,
        read_orc,
        write_orc,
    )

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_cols=["lang"])
    back = read_orc(spark, path)
    assert set(back.columns) == set(docs.columns)
    # Hive-partitioned layout moves the partition column last on read —
    # select a fixed order before comparing.
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    a = sorted(map(tuple, docs.select(cols).collect()))
    b = sorted(map(tuple, back.select(cols).collect()))
    assert a == b
    # binary column survives byte-for-byte
    pa = {r.doc_id: bytes(r.payload) for r in docs.select("doc_id", "payload").collect()}
    pb = {r.doc_id: bytes(r.payload) for r in back.select("doc_id", "payload").collect()}
    assert pa == pb


def test_orc_pushdown_and_pruning(spark, tmp_path):
    """The ORC scan must behave like parquet at 100 TB: predicate
    pushdown reaches the file (PushedFilters) and only selected columns
    are read (pruning) plus partition pruning on the directory layout."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        load_table,
        read_orc,
        write_orc,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_cols=["o_orderstatus"])
    df = (
        read_orc(spark, path)
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000.0))
        .select("o_orderkey", "o_totalprice")
    )
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderstatus=F" in plan or "PartitionFilters" in plan
    assert df.count() > 0


def test_schema_evolution_read_and_conform(spark, tmp_path):
    """Additive schema evolution: mergeSchema unions old/new shards
    (pre-evolution files read NULL in the new column), and
    conform_to_schema normalizes any producer's frame onto the governed
    schema — missing→typed NULL, extra→dropped (or strict error), types
    cast, column order = schema order."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        conform_to_schema,
        read_parquet_evolved,
    )

    path = str(tmp_path / "landing")
    v1 = spark.range(5).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    v1.write.mode("append").parquet(path)
    v2 = spark.range(5, 10).select(
        F.col("id").alias("doc_id"),
        F.lit("de").alias("lang"),
        F.lit(0.9).alias("quality"),  # the column added in v2
    )
    v2.write.mode("append").parquet(path)

    merged = read_parquet_evolved(spark, path)
    assert set(merged.columns) == {"doc_id", "lang", "quality"}
    rows = {r.doc_id: r.quality for r in merged.collect()}
    assert all(rows[i] is None for i in range(5))
    assert all(rows[i] == 0.9 for i in range(5, 10))

    target = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("quality", DoubleType()),
            StructField("source", StringType()),  # not yet produced anywhere
        ]
    )
    legacy = spark.createDataFrame(
        [(1, "en", "99", "x", True)],
        "doc_id int, lang string, quality string, junk string, extra boolean",
    )
    out = conform_to_schema(legacy, target)
    assert out.columns == ["doc_id", "lang", "quality", "source"]
    r = out.collect()[0]
    assert (r.doc_id, r.lang, r.quality, r.source) == (1, "en", 99.0, None)
    assert dict(out.dtypes)["doc_id"] == "bigint"  # int upcast to target

    with _pytest.raises(ValueError, match="unexpected columns"):
        conform_to_schema(legacy, target, strict=True)


def test_conform_to_schema_case_insensitive_match(spark):
    """Spark's default resolver is case-insensitive; conform_to_schema
    must match producer columns the same way (Doc_ID feeds doc_id, never
    a silent NULL), and must refuse ambiguous case-collisions."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        conform_to_schema,
    )

    target = StructType(
        [StructField("doc_id", LongType()), StructField("lang", StringType())]
    )
    drifted = spark.createDataFrame([(7, "en")], "Doc_ID int, LANG string")
    out = conform_to_schema(drifted, target)
    assert out.columns == ["doc_id", "lang"]
    r = out.collect()[0]
    assert (r.doc_id, r.lang) == (7, "en")

    ambiguous = spark.createDataFrame([(1, 2)], "doc_id int, DOC_ID int")
    with _pytest.raises(ValueError, match="ambiguous"):
        conform_to_schema(ambiguous, target)

    # A case-collision among columns the target doesn't name is harmless
    # in non-strict mode (both copies drop anyway) — normalize, don't
    # reject. In strict mode the extras themselves are the error.
    extras_collide = spark.createDataFrame(
        [(7, "en", 1, 2)], "doc_id int, lang string, Junk int, JUNK int"
    )
    out2 = conform_to_schema(extras_collide, target)
    assert out2.columns == ["doc_id", "lang"]
    r2 = out2.collect()[0]
    assert (r2.doc_id, r2.lang) == (7, "en")
    with _pytest.raises(ValueError):
        conform_to_schema(extras_collide, target, strict=True)


def test_overwrite_partitions_is_scoped_and_idempotent(spark, tmp_path):
    """Dynamic partition overwrite: re-landing one partition's batch
    replaces exactly that partition — neighbors survive, a re-run is a
    no-op, and plain mode('overwrite') (static) would instead truncate
    the whole root. Also pins that the session conf is restored."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        overwrite_partitions,
    )

    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)],
        "day string, id int, v double",
    )
    overwrite_partitions(full, path, ["day"])
    assert spark.read.parquet(path).count() == 3

    # Corrected re-run of ONLY day 1: fewer rows, new values.
    day1_fix = spark.createDataFrame(
        [("d1", 9, 99.0)], "day string, id int, v double"
    )
    overwrite_partitions(day1_fix, path, ["day"])
    got = {(r.day, r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("d1", 9, 99.0), ("d2", 3, 30.0)}

    # Idempotence: the same re-run changes nothing.
    overwrite_partitions(day1_fix, path, ["day"])
    got2 = {(r.day, r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got2 == got

    # The conf guard restored the session default (static unless owner-set).
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


def test_binary_file_source_feeds_multimodal_chain(spark, tmp_path):
    """binaryFile ingest: loose media files become (path, length,
    content) rows; glob filters at listing time, the max_bytes cap
    prunes on the length metadata column, and the content column drives
    the SAME multimodal decode chain the parquet-payload path uses."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.multimodal import (
        image_ahash,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        read_binary_files,
    )

    media = tmp_path / "media"
    media.mkdir()
    payloads = {}
    for i in range(6):
        blob = bytes((i * 37 + j * 11) % 256 for j in range(200 + i * 40))
        (media / f"img_{i}.bin").write_bytes(blob)
        payloads[f"img_{i}.bin"] = blob
    (media / "notes.txt").write_text("not a media file")
    (media / "huge.bin").write_bytes(bytes(4096))

    df = read_binary_files(spark, str(media), glob="*.bin", max_bytes=1000)
    rows = {r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()}
    # Glob excluded the .txt; the size cap excluded the 4 KB blob.
    assert set(rows) == set(payloads)
    for name, blob in payloads.items():
        assert rows[name] == (len(blob), blob)

    # The content column feeds the decode chain directly: derive the
    # (doc_id, payload) shape and run the a-hash operator end-to-end.
    with_payload = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
    )
    sigs = image_ahash(with_payload)
    got = sigs.collect()
    assert len(got) == len(payloads)
    assert all(r.sig_lo is not None and r.sig_hi is not None for r in got)


def test_file_layout_report_flags_small_files(spark, tmp_path):
    """The _metadata-driven layout report counts files/bytes/rows per
    directory and flags fragmentation a compaction pass should fix."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        file_layout_report,
    )

    frag = str(tmp_path / "frag")
    spark.range(1000).repartition(20).write.parquet(frag)
    compact = str(tmp_path / "compact")
    spark.range(1000).coalesce(1).write.parquet(compact)

    r_frag = file_layout_report(spark, frag).collect()
    assert len(r_frag) == 1
    row = r_frag[0]
    assert row.n_files == 20 and row.total_rows == 1000
    assert row.n_small_files == 20  # every 50-row file is far below 32 MB
    assert row.min_file_bytes <= row.avg_file_bytes <= row.max_file_bytes
    assert row.total_bytes > 0

    r_c = file_layout_report(spark, compact).collect()[0]
    assert r_c.n_files == 1 and r_c.total_rows == 1000
    # the report is the compaction trigger: same data, 20x fewer files
    assert r_c.n_files * 20 == row.n_files


def test_register_views_subset_and_layout_on_partitioned_store(spark, tmp_path):
    """register_views registers exactly the asked-for subset over the
    normalized scans; file_layout_report emits one row per partition
    directory of a partitioned store."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        file_layout_report,
        register_views,
    )

    got = register_views(spark, "/root/testdata/sf0.001", "region", "nation")
    assert got == ["region", "nation"]
    joined = spark.sql(
        "SELECT r_name, count(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ).collect()
    assert len(joined) == 5 and all(r.n == 5 for r in joined)

    from pyspark.sql import functions as F

    store = str(tmp_path / "parts")
    spark.range(200).withColumn("p", (F.col("id") % 2).cast("int")).write.partitionBy(
        "p"
    ).parquet(store)
    rows = file_layout_report(spark, store).collect()
    dirs = {r.directory.rsplit("/", 1)[-1]: r for r in rows}
    assert set(dirs) == {"p=0", "p=1"}
    assert all(r.total_rows == 100 for r in rows)


def test_file_layout_report_agrees_with_fs_walk(spark, tmp_path):
    """Two independent mechanisms — the scan's _metadata column and the
    Hadoop FileSystem walk — must account for the same bytes."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        file_layout_report,
        fs_total_bytes,
    )

    store = str(tmp_path / "xwalk")
    spark.range(5000).repartition(7).write.parquet(store)
    report_total = sum(
        r.total_bytes for r in file_layout_report(spark, store).collect()
    )
    assert report_total == fs_total_bytes(spark, store)


# ---------------------------------------------------------------------------
# Custom Python data source (Spark 4 DataSource API): sources/pysource.py
# ---------------------------------------------------------------------------


def test_server_metrics_row_formula_is_pinned():
    """The generator's LCG formula is a public contract (the DuckDB
    oracle replays it as SQL over range()); pin exact rows so a constant
    change cannot slip through as 'still deterministic'."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        metrics_row,
    )

    assert metrics_row(0, 50) == (0, 0, 0, 23.45, 0.01)
    assert metrics_row(1, 50) == (1, 1, 0, 75.9, 3.52)
    assert metrics_row(123456, 50) == (123456, 6, 2469, 35.93, 62.95)


def test_server_metrics_batch_partitions_cover_range_disjointly():
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        _MetricsBatchReader,
    )

    r = _MetricsBatchReader({"n_rows": "10000", "rows_per_partition": "3000"})
    parts = r.partitions()
    assert [(p.start, p.end) for p in parts] == [
        (0, 3000), (3000, 6000), (6000, 9000), (9000, 10000)
    ]
    seen = [i for p in parts for (i, *_rest) in r.read(p)]
    assert seen == list(range(10000))


def test_server_metrics_batch_read_matches_formula(spark):
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        metrics_row,
        register_server_metrics,
    )

    register_server_metrics(spark)
    got = sorted(
        tuple(r)
        for r in spark.read.format("server_metrics")
        .option("n_rows", 500)
        .option("n_servers", 7)
        .load()
        .collect()
    )
    assert got == [metrics_row(i, 7) for i in range(500)]


def test_server_metrics_stream_equals_batch(spark, tmp_path):
    """Streaming leg: micro-batches over the same row space must drain to
    exactly the batch read — same rows, no dupes, no gaps — across
    multiple triggers (n_rows spans several batch_rows advances)."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        register_server_metrics,
    )

    register_server_metrics(spark)
    q = (
        spark.readStream.format("server_metrics")
        .option("n_rows", 3500)
        .option("n_servers", 11)
        .option("batch_rows", 1000)
        .load()
        .writeStream.format("memory")
        .queryName("pysource_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(tuple(r) for r in spark.table("pysource_stream").collect())
    batch = sorted(
        tuple(r)
        for r in spark.read.format("server_metrics")
        .option("n_rows", 3500)
        .option("n_servers", 11)
        .load()
        .collect()
    )
    assert streamed == batch
    # progress proves it actually micro-batched (ceil(3500/1000) = 4 batches)
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches >= 2, [p["numInputRows"] for p in q.recentProgress]


def test_server_metrics_rejects_bad_options(spark):
    """Bad options fail at planning time with the option named, not as a
    worker-side ZeroDivision/ValueError mid-job."""
    import pytest as _pytest

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        register_server_metrics,
    )

    register_server_metrics(spark)
    for opt, val, frag in [
        ("n_servers", 0, "n_servers"),
        ("rows_per_partition", 0, "rows_per_partition"),
        ("n_rows", -5, "n_rows"),
    ]:
        with _pytest.raises(Exception, match=frag):
            (
                spark.read.format("server_metrics")
                .option(opt, val)
                .load()
                .collect()
            )
