"""Pipeline configuration with the reference's defaults.

Mirrors ``/root/reference/config/config.yaml`` (window/slide at :18-20,
alert thresholds at :22-26, topics at :5-9) as typed dataclasses instead of
a YAML blob, so jobs are parameterized the same way the reference's are.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class WindowConfig:
    """Sliding-window parameters (reference config.yaml:18-20)."""

    duration: str = "30 seconds"
    slide: str = "10 seconds"


@dataclass(frozen=True)
class AlertThresholds:
    """Alert thresholds (reference config.yaml:22-26)."""

    cpu_pct: float = 94.35
    mem_pct: float = 78.06
    net_in: float = 4724.68
    disk_io: float = 4563.25


@dataclass(frozen=True)
class KafkaConfig:
    """Kafka transport config (reference config.yaml:3-9, producer.py:11-22)."""

    broker: str = "localhost:9092"
    topic_cpu: str = "topic-cpu"
    topic_mem: str = "topic-mem"
    topic_net: str = "topic-net"
    topic_disk: str = "topic-disk"
    starting_offsets: str = "earliest"

    def topic(self, metric: str) -> str:
        """The topic carrying ``metric`` (cpu, mem, net or disk)."""
        return getattr(self, f"topic_{metric}")

    @property
    def all_topics(self) -> list[str]:
        return [self.topic_cpu, self.topic_mem, self.topic_net, self.topic_disk]


@dataclass(frozen=True)
class PathsConfig:
    """Input/output paths (reference config.yaml:28-30)."""

    data_file: str = "data/dataset.csv"
    output_dir: str = "output/"


@dataclass(frozen=True)
class PipelineConfig:
    window: WindowConfig = field(default_factory=WindowConfig)
    thresholds: AlertThresholds = field(default_factory=AlertThresholds)
    kafka: KafkaConfig = field(default_factory=KafkaConfig)
    paths: PathsConfig = field(default_factory=PathsConfig)
    # Reference config.yaml:1 — drives the team_{n}_CPU_MEM.csv /
    # team_{n}_NET_DISK.csv output naming (spark_job1.py:56, spark_job2.py:56).
    team_number: int = 1


DEFAULT_CONFIG = PipelineConfig()


def from_yaml(path: str) -> PipelineConfig:
    """Load a reference-layout ``config.yaml`` (so an existing user's config
    file works verbatim: kafka.broker_ip/topics, spark_jobs.window_duration/
    slide_duration, alert_thresholds.*, paths.*). Missing keys fall back to
    the reference defaults above.
    """
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    kafka = raw.get("kafka", {}) or {}
    topics = kafka.get("topics", {}) or {}
    sj = raw.get("spark_jobs", {}) or {}
    thr = raw.get("alert_thresholds", {}) or {}
    paths = raw.get("paths", {}) or {}
    d = DEFAULT_CONFIG
    return PipelineConfig(
        window=WindowConfig(
            duration=sj.get("window_duration", d.window.duration),
            slide=sj.get("slide_duration", d.window.slide),
        ),
        thresholds=AlertThresholds(
            cpu_pct=float(thr.get("cpu_pct", d.thresholds.cpu_pct)),
            mem_pct=float(thr.get("mem_pct", d.thresholds.mem_pct)),
            net_in=float(thr.get("net_in", d.thresholds.net_in)),
            disk_io=float(thr.get("disk_io", d.thresholds.disk_io)),
        ),
        kafka=KafkaConfig(
            broker=kafka.get("broker_ip", d.kafka.broker),
            topic_cpu=topics.get("cpu", d.kafka.topic_cpu),
            topic_mem=topics.get("mem", d.kafka.topic_mem),
            topic_net=topics.get("net", d.kafka.topic_net),
            topic_disk=topics.get("disk", d.kafka.topic_disk),
        ),
        paths=PathsConfig(
            data_file=paths.get("data_file", d.paths.data_file),
            output_dir=paths.get("output_dir", d.paths.output_dir),
        ),
        team_number=int(raw.get("team_number", d.team_number)),
    )
