"""Config layer replicating the reference's resolution semantics (U1/U2).

The reference resolves a named consumer/producer block against a
``default-consumer`` / ``default-producer`` block via HOCON ``withFallback``
(reference consumer/KinesisConsumer.scala:60-101,
producer/ProducerConf.scala:53-86).

Here: plain dict merge with the same name→default fallback and typed
dataclasses that hold only the settings the engine acts on — every field
has a reader. The reference also types the KCL worker/checkpointer and the
native KPL daemon settings; this engine runs neither, so those knobs are
absent rather than carried and ignored. Defaults mirror reference.conf
(cited per field).
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
    """Typed consumer config, emitted as ``kinesis_live`` reader options
    (:mod:`reactive_kinesis_spark.streaming.live_source`)."""

    stream_name: str
    # trim_horizon | latest | at_timestamp | at_sequence_number |
    # after_sequence_number, case-insensitive — kinesis_live's five
    # positions (reference.conf:469-477 types the first three). A committed
    # checkpoint always wins: the source resumes from Spark's offset log.
    initial_position: str = "TRIM_HORIZON"
    # epoch seconds or ISO-8601, for at_timestamp (reference.conf:474-477)
    at_timestamp: str | None = None
    # KCL maxRecords — records per shard per micro-batch (reference.conf:479-482)
    max_records: int = 10_000
    # further kinesis_live options (transport, leaseDir, deaggregate, ...);
    # from_dict puts every non-field key of the block here
    extra_options: dict[str, str] = field(default_factory=dict)

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
        """Options for ``spark.readStream.format("kinesis_live")``."""
        opts = {
            "streamName": self.stream_name,
            "startingPosition": self.initial_position.lower(),
            "maxRecordsPerBatch": str(self.max_records),
        }
        if self.at_timestamp is not None:
            opts["startingTimestamp"] = str(self.at_timestamp)
        opts.update(self.extra_options)
        return opts


@dataclass
class ProducerConfig:
    """Typed producer config: the KPL settings the engine acts on.

    The reference types every KPL setting
    (producer/KinesisProducerConfig.scala:27-60) because it drives the
    native KPL daemon. Here the send-path knobs (aggregation, collection,
    TTL, outstanding requests) drive ``streaming.sink.write_batch``, the
    connection knobs build the boto3 client
    (``streaming.aws.Boto3Transport.from_producer_config``) and the metrics
    knobs configure ``streaming.metrics.MetricsReporter.from_config``.
    Defaults mirror reference.conf:57-395 — the public KPL defaults.
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
    # KPL MaxConnections (reference.conf:164-173)
    max_connections: int = 24
    # KPL VerifyCertificate (reference.conf:374-378)
    verify_certificate: bool = True
    # KPL CredentialsProvider as a profile name (the object-valued providers
    # of KinesisProducerConfig.scala:29-30 have no cross-language form)
    credentials_provider: str | None = None
    # --- metrics knobs (consumed by MetricsReporter.from_config) ---
    metrics_granularity: str = "shard"  # global | stream | shard
    metrics_level: str = "detailed"  # none | summary | detailed
    metrics_namespace: str = "KinesisProducerLibrary"
    metrics_upload_delay_millis: int = 60_000

    def __post_init__(self) -> None:
        _check_enum(
            "metrics_granularity", self.metrics_granularity, ("global", "stream", "shard")
        )
        _check_enum("metrics_level", self.metrics_level, ("none", "summary", "detailed"))
        if not 1 <= self.collection_max_count <= 500:
            raise ValueError(
                f"collection_max_count={self.collection_max_count} outside "
                "[1, 500] (PutRecords API cap)"
            )

    @classmethod
    def from_dict(cls, config: dict[str, Any], name: str) -> "ProducerConfig":
        """A key that is not a field raises (``TypeError`` naming it): the
        engine has no pass-through for settings it would not act on."""
        block = resolve_block(config, name, DEFAULT_PRODUCER_KEY)
        if "stream_name" not in block:
            raise ValueError(f"producer block {name!r} missing stream_name")
        return cls(**block)


def _check_enum(name: str, value: str, allowed: tuple[str, ...]) -> None:
    if value not in allowed:
        raise ValueError(f"{name}={value!r} not one of {allowed}")
