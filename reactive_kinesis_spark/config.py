"""Config layer replicating the reference's resolution semantics (U1/U2).

The reference resolves a named consumer/producer block against a
``default-consumer`` / ``default-producer`` block via HOCON ``withFallback``
(reference consumer/KinesisConsumer.scala:60-101,
producer/ProducerConf.scala:53-86) and derives the checkpoint application
name as ``"$application-name-$stream-name"`` (KinesisConsumer.scala:71-72).

Here: plain dict merge with the same name→default fallback, typed
dataclasses, and emission as Spark reader/writer options. Defaults mirror
reference.conf (cited per field).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Any

DEFAULT_CONSUMER_KEY = "default-consumer"
DEFAULT_PRODUCER_KEY = "default-producer"


def resolve_block(config: dict[str, Any], name: str, default_key: str) -> dict[str, Any]:
    """Named block with fallback to the default block (shallow merge,
    named block wins) — dict form of HOCON ``withFallback``."""
    merged = dict(config.get(default_key) or {})
    merged.update(config.get(name) or {})
    return merged


@dataclass
class ConsumerConfig:
    """Typed consumer config. Field ↔ reference.conf mapping cited inline."""

    stream_name: str
    application_name: str = "reactive-kinesis-spark"
    # TRIM_HORIZON | LATEST | AT_TIMESTAMP (reference.conf:469-477); a
    # checkpoint dir always wins if present (README.md:675-683 semantics).
    initial_position: str = "TRIM_HORIZON"
    at_timestamp: str | None = None
    # KCL maxRecords — max records per fetch batch (reference.conf:479-482)
    max_records: int = 10_000
    # worker.batchTimeoutSeconds (reference.conf:413-417)
    batch_timeout_seconds: int = 10
    # worker.failedMessageRetries (reference.conf:419-422); in-batch
    # retries apply only to a non-deterministic predicate, so mark a flaky
    # one asNondeterministic() (streaming.tolerance.tolerant_foreach_batch)
    failed_message_retries: int = 1
    # worker.failureTolerancePercentage (reference.conf:424-430)
    failure_tolerance_percentage: float = 0.25
    # worker.gracefulShutdownHook / shutdownTimeoutSeconds
    # (reference.conf:432-438)
    graceful_shutdown_hook: bool = True
    shutdown_timeout_seconds: int = 25
    # checkpointer.intervalMillis / backoffMillis / notificationDelayMillis
    # (reference.conf:441-449)
    checkpoint_interval_millis: int = 2_000
    checkpoint_backoff_millis: int = 3_000
    checkpoint_notification_delay_millis: int = 1_000
    # engine-side: Structured Streaming checkpoint dir (replaces DynamoDB)
    checkpoint_location: str | None = None
    # pass-through options for a real Kinesis connector
    extra_options: dict[str, str] = field(default_factory=dict)

    @property
    def checkpoint_app_name(self) -> str:
        """DynamoDB-table-name analog (KinesisConsumer.scala:71-72)."""
        return f"{self.application_name}-{self.stream_name}"

    @classmethod
    def from_dict(cls, config: dict[str, Any], name: str) -> "ConsumerConfig":
        block = resolve_block(config, name, DEFAULT_CONSUMER_KEY)
        known = {f.name for f in fields(cls)}
        kwargs = {k: v for k, v in block.items() if k in known}
        extra = {k: str(v) for k, v in block.items() if k not in known}
        if "stream_name" not in kwargs:
            raise ValueError(f"consumer block {name!r} missing stream_name")
        kwargs.setdefault("extra_options", {}).update(extra)
        return cls(**kwargs)

    def reader_options(self) -> dict[str, str]:
        """Options for ``spark.readStream`` (connector-agnostic names)."""
        opts = {
            "streamName": self.stream_name,
            "startingPosition": (
                self.at_timestamp
                if self.initial_position == "AT_TIMESTAMP" and self.at_timestamp
                else self.initial_position.lower()
            ),
            "maxFetchRecordsPerShard": str(self.max_records),
        }
        opts.update(self.extra_options)
        return opts


@dataclass
class ProducerConfig:
    """Typed producer config — the FULL KPL knob surface, typed.

    The reference types all KPL settings
    (producer/KinesisProducerConfig.scala:27-60) and emits them onto the
    native KPL configuration (``toAwsConfig``, same file :63-106). Here the
    send-path knobs (aggregation, collection, TTL, outstanding-requests)
    drive ``streaming.sink.write_batch`` directly; the transport/metrics
    knobs parameterize the wire layer (``streaming.aws.Boto3Transport``:
    endpoints, region, timeouts) or are carried for config-surface parity
    (a deployment that swaps in the real KPL reads them via
    :meth:`kpl_config`). Defaults mirror reference.conf:57-395 — the
    public KPL defaults.
    """

    stream_name: str
    # KPL AggregationEnabled / AggregationMaxCount / AggregationMaxSize
    # (reference.conf:57-91)
    aggregation_enabled: bool = True
    aggregation_max_count: int = 4_294_967_295
    aggregation_max_size: int = 51_200
    # KPL CollectionMaxCount / CollectionMaxSize — PutRecords packing caps
    # (reference.conf:93-114)
    collection_max_count: int = 500
    collection_max_size: int = 5_242_880
    # akka.max-outstanding-requests (stream/Kinesis.scala:195-200).
    # Optional in the reference too (reference.conf:38-44, commented out =
    # no throttle configured). None ⇒ strict sequential send: concurrency
    # is OPT-IN because it requires a thread-safe transport and relaxes
    # intra-key ordering across requests.
    max_outstanding_requests: int | None = None
    # KPL RecordTtl (reference.conf:325-343) — per-record retry budget
    record_ttl_millis: int = 30_000
    # KPL RateLimit % of shard capacity (reference.conf:283-301)
    rate_limit_percent: int = 150
    # --- connection / endpoint knobs (consumed by the transport layer) ---
    # KPL KinesisEndpoint/KinesisPort (reference.conf:126-140) — custom
    # endpoint, e.g. localstack; maps to Boto3Transport(endpoint_url=...)
    kinesis_endpoint: str | None = None
    kinesis_port: int = 443
    # KPL Region (reference.conf:318-324)
    region: str | None = None
    # KPL ConnectTimeout / RequestTimeout (reference.conf:87-92,355-366)
    connect_timeout_millis: int = 6_000
    request_timeout_millis: int = 6_000
    # KPL MinConnections / MaxConnections (reference.conf:240-247,164-173)
    min_connections: int = 1
    max_connections: int = 24
    # KPL VerifyCertificate (reference.conf:374-378)
    verify_certificate: bool = True
    # KPL FailIfThrottled (reference.conf:142-155)
    fail_if_throttled: bool = False
    # KPL RecordMaxBufferedTime (reference.conf:274-294)
    record_max_buffered_time_millis: int = 100
    # --- credentials (names/profiles — the object-valued providers of
    # KinesisProducerConfig.scala:29-30 have no cross-language form) ---
    credentials_provider: str | None = None
    metrics_credentials_provider: str | None = None
    credentials_refresh_delay_millis: int = 5_000
    # --- metrics/cloudwatch knobs (carried for parity) ---
    cloudwatch_endpoint: str | None = None
    cloudwatch_port: int = 443
    metrics_granularity: str = "shard"  # global | stream | shard
    metrics_level: str = "detailed"  # none | summary | detailed
    metrics_namespace: str = "KinesisProducerLibrary"
    metrics_upload_delay_millis: int = 60_000
    additional_metric_dimensions: list = field(default_factory=list)
    # --- native-process knobs (no engine meaning; parity only) ---
    log_level: str = "info"
    enable_core_dumps: bool = False
    native_executable: str | None = None
    temp_directory: str | None = None
    threading_model: str = "PER_REQUEST"  # PER_REQUEST | POOLED
    thread_pool_size: int = 0
    extra_options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        _check_enum("threading_model", self.threading_model, ("PER_REQUEST", "POOLED"))
        _check_enum(
            "metrics_granularity", self.metrics_granularity, ("global", "stream", "shard")
        )
        _check_enum("metrics_level", self.metrics_level, ("none", "summary", "detailed"))
        _check_enum(
            "log_level", self.log_level, ("trace", "debug", "info", "warning", "error")
        )
        if not 1 <= self.collection_max_count <= 500:
            raise ValueError(
                f"collection_max_count={self.collection_max_count} outside "
                "[1, 500] (PutRecords API cap)"
            )

    @classmethod
    def from_dict(cls, config: dict[str, Any], name: str) -> "ProducerConfig":
        block = resolve_block(config, name, DEFAULT_PRODUCER_KEY)
        known = {f.name for f in fields(cls)}
        kwargs = {k: v for k, v in block.items() if k in known}
        extra = {k: str(v) for k, v in block.items() if k not in known}
        if "stream_name" not in kwargs:
            raise ValueError(f"producer block {name!r} missing stream_name")
        kwargs.setdefault("extra_options", {}).update(extra)
        return cls(**kwargs)

    def kpl_config(self) -> dict[str, Any]:
        """The KPL-named settings map — the analog of ``toAwsConfig``
        (producer/KinesisProducerConfig.scala:63-106): every typed knob
        under its public KPL name; Optional knobs only when set (the
        reference folds ``Option`` the same way)."""
        out: dict[str, Any] = {}
        for field_name, kpl_name in _KPL_FIELD_MAP.items():
            value = getattr(self, field_name)
            if value is None:
                continue
            out[kpl_name] = value
        return out

    @classmethod
    def from_kpl_config(cls, stream_name: str, kpl: dict[str, Any]) -> "ProducerConfig":
        """Inverse of :meth:`kpl_config` — the analog of ``fromAwsConfig``
        (producer/KinesisProducerConfig.scala:120-158)."""
        inverse = {v: k for k, v in _KPL_FIELD_MAP.items()}
        kwargs: dict[str, Any] = {}
        extra: dict[str, str] = {}
        for kpl_name, value in kpl.items():
            if kpl_name in inverse:
                kwargs[inverse[kpl_name]] = value
            else:
                extra[kpl_name] = str(value)
        return cls(stream_name=stream_name, extra_options=extra, **kwargs)


def _check_enum(name: str, value: str, allowed: tuple[str, ...]) -> None:
    if value not in allowed:
        raise ValueError(f"{name}={value!r} not one of {allowed}")


#: typed field ↔ public KPL setting name (KinesisProducerConfig.scala:63-106
#: setter per knob; reference.conf:57-395 documents each). The engine-only
#: knobs (stream_name, max_outstanding_requests, extra_options) have no KPL
#: name and are deliberately absent.
_KPL_FIELD_MAP: dict[str, str] = {
    "aggregation_enabled": "AggregationEnabled",
    "aggregation_max_count": "AggregationMaxCount",
    "aggregation_max_size": "AggregationMaxSize",
    "cloudwatch_endpoint": "CloudwatchEndpoint",
    "cloudwatch_port": "CloudwatchPort",
    "collection_max_count": "CollectionMaxCount",
    "collection_max_size": "CollectionMaxSize",
    "connect_timeout_millis": "ConnectTimeout",
    "credentials_provider": "CredentialsProvider",
    "credentials_refresh_delay_millis": "CredentialsRefreshDelay",
    "enable_core_dumps": "EnableCoreDumps",
    "fail_if_throttled": "FailIfThrottled",
    "kinesis_endpoint": "KinesisEndpoint",
    "kinesis_port": "KinesisPort",
    "log_level": "LogLevel",
    "max_connections": "MaxConnections",
    "metrics_credentials_provider": "MetricsCredentialsProvider",
    "metrics_granularity": "MetricsGranularity",
    "metrics_level": "MetricsLevel",
    "metrics_namespace": "MetricsNamespace",
    "metrics_upload_delay_millis": "MetricsUploadDelay",
    "min_connections": "MinConnections",
    "native_executable": "NativeExecutable",
    "rate_limit_percent": "RateLimit",
    "record_max_buffered_time_millis": "RecordMaxBufferedTime",
    "record_ttl_millis": "RecordTtl",
    "region": "Region",
    "request_timeout_millis": "RequestTimeout",
    "temp_directory": "TempDirectory",
    "thread_pool_size": "ThreadPoolSize",
    "threading_model": "ThreadingModel",
    "verify_certificate": "VerifyCertificate",
    "additional_metric_dimensions": "AdditionalMetricDimensions",
}
