"""End-to-end CLI tests: the reference's main.py roles on our engine.

Covers the full swap-in path: reference-layout config.yaml parsing,
producer fan-out (--dry-run, no broker), landed-CSV analytics jobs
(spark-job1/2) writing reference-shaped alert CSVs.
"""

from __future__ import annotations

import os

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
    config as cfg,
)

from .fixtures import checkpoint_manager, metrics_wide_df, narrow_splits

REF_YAML = """
team_number: 1
kafka:
  broker_ip: "10.0.0.1:9092"
  topics:
    cpu: "topic-cpu"
    mem: "topic-mem"
    net: "topic-net"
    disk: "topic-disk"
spark_jobs:
  window_duration: "30 seconds"
  slide_duration: "10 seconds"
alert_thresholds:
  cpu_pct: 94.35
  mem_pct: 78.06
  net_in: 4724.68
  disk_io: 4563.25
paths:
  data_file: "{data_file}"
  output_dir: "{output_dir}"
"""


def _write_config(tmp_path, data_file: str) -> str:
    out = tmp_path / "output"
    path = tmp_path / "config.yaml"
    path.write_text(REF_YAML.format(data_file=data_file, output_dir=str(out)))
    return str(path)


def test_from_yaml_reference_layout(tmp_path):
    path = _write_config(tmp_path, "/data/dataset.csv")
    config = cfg.from_yaml(path)
    assert config.kafka.broker == "10.0.0.1:9092"
    assert config.kafka.all_topics == ["topic-cpu", "topic-mem", "topic-net", "topic-disk"]
    assert config.window.duration == "30 seconds"
    assert config.thresholds.net_in == 4724.68
    assert config.paths.data_file == "/data/dataset.csv"


def test_producer_dry_run_and_spark_jobs(spark, tmp_path):
    import main as cli

    wide = metrics_wide_df(spark)
    data_file = str(tmp_path / "dataset_csv")
    wide.coalesce(1).write.csv(data_file, header=True)
    config_path = _write_config(tmp_path, data_file)
    config = cfg.from_yaml(config_path)

    # producer --dry-run: full fan-out transform, landed as parquet, with
    # run statistics mirroring the reference's instrumentation
    # (producer.py:90-104): records, per-topic counts, elapsed, records/sec.
    stats = cli.run_producer(spark, config, dry_run=True)
    wire = spark.read.parquet(os.path.join(config.paths.output_dir, "wire_messages"))
    assert wire.columns == ["topic", "value"]
    n_rows = wide.count()
    assert wire.count() == 4 * n_rows  # 4 messages per row, producer.py:68-77
    by_topic = {r["topic"]: r["count"] for r in wire.groupBy("topic").count().collect()}
    assert by_topic == {t: n_rows for t in config.kafka.all_topics}
    # BASELINE.md proxy shape: N source rows -> 4N fan-out messages
    assert stats["total_records"] == n_rows
    assert stats["total_messages"] == 4 * n_rows
    assert stats["by_topic"] == by_topic
    assert stats["elapsed_sec"] > 0 and stats["records_per_sec"] > 0

    # consumer landing simulated from the same fixture (no broker): narrow CSVs
    cpu, mem, net, disk = narrow_splits(wide)
    for stem, df in [("cpu_data", cpu), ("mem_data", mem), ("net_data", net), ("disk_data", disk)]:
        df.coalesce(1).write.csv(
            os.path.join(config.paths.output_dir, stem), header=True, mode="overwrite"
        )

    # Every spark-job output holds its pair's batch job rows: CSV under the
    # reference naming team_{n}_<PAIR>.csv (spark_job1.py:56-57, team_number
    # from config.yaml:1) and --parquet under <pair>_alerts. Averages summed
    # in another order may differ by one rounding unit; a max may not.
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
        monitoring as ops,
    )

    out = config.paths.output_dir

    def keyed(df):  # (entity, window, alert) -> the two aggregates
        rows = df.collect()
        out = {(r[0], r[1], r[2], r[5]): (r[3], r[4]) for r in rows}
        assert len(out) == len(rows)
        return out

    for role, job, frames, csv_name, parquet_dir, cols, combined, tol in [
        ("spark-job1", ops.cpu_mem_job, (cpu, mem), "team_1_CPU_MEM.csv", "cpu_mem_alerts",
         ["avg_cpu", "avg_mem"], "High CPU + Memory stress", 0.011),
        ("spark-job2", ops.net_disk_job, (net, disk), "team_1_NET_DISK.csv", "net_disk_alerts",
         ["max_net_in", "max_disk_io"], "Network flood + Disk thrash suspected", 0.0),
    ]:
        cli.main([role, "--config", config_path])
        cli.main([role, "--config", config_path, "--parquet"])
        parquet = spark.read.parquet(os.path.join(out, parquet_dir))
        assert parquet.columns == ["server_id", "window_start", "window_end", *cols, "alert"]
        csv = spark.read.schema(parquet.schema).csv(os.path.join(out, csv_name), header=True)
        want = keyed(job(*frames, config=config, time_format="HH:mm:ss"))
        for got in (keyed(parquet), keyed(csv)):
            assert got.keys() == want.keys(), role
            for k, (a, b) in got.items():
                assert abs(a - want[k][0]) <= tol and abs(b - want[k][1]) <= tol, (role, k)
        labels = {k[-1] for k in want}
        assert combined in labels and "OK" in labels, (role, labels)


def test_producer_stats_reference_dataset_proxy(spark, tmp_path):
    """BASELINE.md proxy target: replaying the reference's own dataset.csv
    (28,800 rows) fans out 115,200 messages; stats must report both."""
    import os

    import pytest

    import main as cli

    ref_csv = "/root/reference/data/dataset.csv"
    if not os.path.exists(ref_csv):
        pytest.skip("reference dataset not present")
    config_path = _write_config(tmp_path, ref_csv)
    stats = cli.run_producer(spark, cfg.from_yaml(config_path), dry_run=True)
    assert stats["total_records"] == 28800
    assert stats["total_messages"] == 115200
    assert set(stats["by_topic"]) == {"topic-cpu", "topic-mem", "topic-net", "topic-disk"}
    assert all(n == 28800 for n in stats["by_topic"].values())
    assert stats["records_per_sec"] > 0


def test_kafka_roles_fail_fast_without_connector(spark, tmp_path):
    """Broker-needing roles raise an actionable deployment hint (not
    Spark's bare 'Failed to find data source') when the Kafka connector
    jar is absent — which it is in this environment."""
    import pytest

    import main as cli
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.kafka import (
        require_kafka_connector,
    )

    try:
        require_kafka_connector(spark)
        pytest.skip("kafka connector present in this environment")
    except RuntimeError:
        pass
    wide = metrics_wide_df(spark)
    data_file = str(tmp_path / "data_csv")
    wide.coalesce(1).write.csv(data_file, header=True)
    config = cfg.from_yaml(_write_config(tmp_path, data_file))
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        cli.run_producer(spark, config, dry_run=False)
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        cli.run_consumer(spark, config, "consumer1")


def test_query_role_runs_and_writes(spark, tmp_path, capsys):
    """The `query` role runs any registered query by name: --list
    enumerates the registry, a bad name fails fast with guidance, and
    --out persists parquet."""
    import main as m

    m.main(["query", "--list"])
    names = capsys.readouterr().out.split()
    assert "rel_pricing_summary" in names and len(names) >= 140

    out = str(tmp_path / "q_out")
    m.main([
        "query", "--name", "rel_pricing_summary",
        "--sf-dir", "/root/testdata/sf0.001", "--out", out,
    ])
    back = spark.read.parquet(out)
    assert back.count() > 0 and "sum_qty" in back.columns

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="registered queries"):
        m.main(["query", "--name", "not_a_query"])


def test_query_role_scale_check(spark, capsys):
    """--scale-check guards the plan pre-execution: a scale-shaped query
    passes and reports; a nested-loop query fails fast."""
    import pytest as _pytest

    import main as m
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
        ScaleSafetyError,
    )

    m.main(["query", "--name", "rel_pricing_summary", "--scale-check"])
    assert "scale-check ok" in capsys.readouterr().out

    with _pytest.raises(ScaleSafetyError):
        m.main(["query", "--name", "rel_cross_join", "--scale-check"])


def test_query_role_explain(spark, capsys):
    """--explain prints the formatted physical plan (the plan-iteration
    workflow as a CLI verb) and does NOT execute or write anything."""
    import main as m

    m.main(["query", "--name", "rel_pricing_summary", "--explain"])
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_sql_role_adhoc_statement(spark, capsys):
    """The sql role registers the testdata views and runs one statement
    through the same Catalyst pipeline as the named queries."""
    import main as m

    m.main(
        [
            "sql",
            "--query",
            "SELECT r_name, count(*) AS n FROM nation "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
        ]
    )
    out = capsys.readouterr().out
    assert "AFRICA" in out and "MIDDLE EAST" in out

    # --explain composes: the filter must reach the parquet scan
    m.main(
        [
            "sql",
            "--query",
            "SELECT count(*) AS n FROM orders WHERE o_orderdate < DATE'1994-01-01'",
            "--explain",
        ]
    )
    out = capsys.readouterr().out
    assert "PushedFilters" in out and "o_orderdate" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="--query"):
        m.main(["sql"])


def test_layout_role_reports_store_health(spark, capsys, tmp_path):
    """The layout role surfaces the _metadata small-file report as a CLI
    verb; a missing --path fails fast without a session-dependent error."""
    import main as m
    import pytest as _pytest

    store = str(tmp_path / "store")
    spark.range(100).repartition(4).write.parquet(store)
    m.main(["layout", "--path", store])
    out = capsys.readouterr().out
    assert "n_small_files" in out and "4" in out

    with _pytest.raises(SystemExit, match="--path"):
        m.main(["layout"])


def test_stream_role_runs_on_filesystem_checkpoint_manager(spark, tmp_path):
    """The in-process stream role fetches the running session through
    get_spark, which (re)applies the local checkpoint manager: with the
    conf cleared beforehand, the role leaves the session writing its
    checkpoint through FileSystemBasedCheckpointFileManager. Without the
    Kafka connector the role stops right after that, at its connector
    check."""
    import pytest

    import main as cli
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        CHECKPOINT_FILE_MANAGER,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.kafka import (
        require_kafka_connector,
    )

    try:
        require_kafka_connector(spark)
        pytest.skip("kafka connector present: the role would run until stopped")
    except RuntimeError:
        pass
    config_path = _write_config(tmp_path, str(tmp_path / "unused_csv"))
    checkpoint = tmp_path / "output" / "_checkpoint_stream-job1"
    prev = spark.conf.get(CHECKPOINT_FILE_MANAGER)
    spark.conf.unset(CHECKPOINT_FILE_MANAGER)
    try:
        assert checkpoint_manager(spark, checkpoint) == "FileContextBasedCheckpointFileManager"
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            cli.main(["stream-job1", "--config", config_path])
        assert checkpoint_manager(spark, checkpoint) == "FileSystemBasedCheckpointFileManager"
    finally:
        spark.conf.set(CHECKPOINT_FILE_MANAGER, prev)


def test_wire_path_equals_direct_path_end_to_end(spark, tmp_path):
    """Broker-free full-chain parity: the producer's SERIALIZED wire bytes,
    demuxed back through the consumer parser and landed, drive spark-job1
    to the exact rows the direct (fixture-landed) path produces. This is
    the strongest S4->S5->S6->J1 pin available without a broker: the only
    missing hop is Kafka's transport itself."""
    import main as cli
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
        parse as wire_parse,
    )

    wide = metrics_wide_df(spark)
    data_file = str(tmp_path / "dataset_csv")
    wide.coalesce(1).write.csv(data_file, header=True)

    def run_job1(subdir: str, land) -> list:
        sub = tmp_path / subdir
        sub.mkdir()
        config_path = _write_config(sub, data_file)
        config = cfg.from_yaml(config_path)
        os.makedirs(config.paths.output_dir, exist_ok=True)
        land(config)
        cli.main(["spark-job1", "--config", config_path, "--parquet"])
        out = spark.read.parquet(
            os.path.join(config.paths.output_dir, "cpu_mem_alerts")
        )
        return sorted(tuple(r) for r in out.collect())

    def land_direct(config):
        cpu, mem, *_ = narrow_splits(wide)
        for stem, df in [("cpu_data", cpu), ("mem_data", mem)]:
            df.coalesce(1).write.csv(
                os.path.join(config.paths.output_dir, stem), header=True
            )

    def land_via_wire(config):
        cli.run_producer(spark, config, dry_run=True)
        msgs = spark.read.parquet(
            os.path.join(config.paths.output_dir, "wire_messages")
        )
        for metric, attr, stem in [
            ("cpu", "topic_cpu", "cpu_data"),
            ("mem", "topic_mem", "mem_data"),
        ]:
            wire_parse.demux_topic(
                msgs, getattr(config.kafka, attr), metric
            ).coalesce(1).write.csv(
                os.path.join(config.paths.output_dir, stem), header=True
            )

    direct = run_job1("direct", land_direct)
    via_wire = run_job1("wire", land_via_wire)
    assert len(direct) > 0
    assert via_wire == direct
