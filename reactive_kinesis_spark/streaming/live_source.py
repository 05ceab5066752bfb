"""``kinesis_live`` — a live-polling Kinesis streaming source (S1/S2 live).

Completes the consumer loop the replay source models from parquet: the same
five starting positions, checkpoint-wins resume, per-shard ``maxRecords``
paging and per-shard order — but the data plane is GetShardIterator /
GetRecords through a pluggable :mod:`consumer_aws` transport, i.e. the
reference's actual consumption path (consumer/KinesisConsumer.scala:240-271,
consumer/ConsumerProcessingManager.scala:100-121, reference.conf:479-487).

Architecture: a :class:`SimpleDataSourceStreamReader` — Spark 4's
driver-side streaming reader. That choice is deliberate, not a shortcut:

* the KCL worker IS a single polling process per application instance —
  one thread per shard (consumer/KinesisConsumer.scala:207-226); the
  driver-side poll loop fans GetRecords out over a bounded thread pool
  (``pollConcurrency``, default 8) with per-shard cursors, so batch
  latency stays near-flat as shard count grows instead of serializing one
  network round-trip per shard;
* Kinesis shard read caps (2 MB/s, 5 reads/s per shard) bound any single
  consumer far below driver capacity, so executor-parallel GetRecords buys
  nothing on one stream — the scale path for replay/backfill is the
  partitioned ``kinesis_replay`` source over exported shard files;
* offsets are per-shard **sequence-number maps** — restart replays the
  in-flight range deterministically via AT/AFTER_SEQUENCE_NUMBER iterators
  (``readBetweenOffsets``), upgrading the reference's at-least-once
  (README.md:684-686) to Spark's exactly-once offset-log contract.

Trigger note: ``trigger(availableNow=True)`` falls back to Trigger.Once
semantics for Python data sources (no SupportsTriggerAvailableNow seam), so
with ``maxRecordsPerBatch`` set it delivers ONE page per shard and stops.
Paged/backfill reads should use a repeating trigger (``processingTime``) or
leave the page cap at the 10k default with availableNow.

Options (case-insensitive): ``streamName`` (required), ``startingPosition``
(5 positions, default trim_horizon) + ``startingTimestamp`` /
``startingSequenceNumber``, ``maxRecordsPerBatch`` (per shard per
micro-batch, default 10_000 = kcl.maxRecords), ``pollConcurrency`` (max
concurrent per-shard GetRecords polls per batch, default 8; 1 = strictly
sequential), ``shards`` (explicit subset
— the L1 shard-assignment analog), ``leaseDir`` + ``workerId`` +
``failoverTimeMillis`` (automatic lease coordination between N concurrent
consumers — heartbeats, cooperative rebalance, dead-worker takeover from
the lease checkpoint; ``leaseDir`` is a shared directory every worker
mounts — see :mod:`.lease`), ``deaggregate`` (true = KCL-style KPL
deaggregation with sub-sequence numbers), ``transport`` (factory name,
default ``boto3``) + ``region``/``endpointUrl``/``profile``.
:meth:`~reactive_kinesis_spark.config.ConsumerConfig.reader_options` builds
these from a typed consumer config.

Tests inject a fake transport via :func:`register_transport_factory` — the
same fake-client seam as the producer's ``Boto3Transport``.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Callable, Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from reactive_kinesis_spark.schemas import EVENT_SCHEMA
from reactive_kinesis_spark.streaming.consumer_aws import read_shard
from reactive_kinesis_spark.streaming.replay_source import (
    _POSITIONS,
    _parse_timestamp_us,
)

LIVE_FORMAT_NAME = "kinesis_live"

#: name → factory(options_dict) → transport. ``boto3`` (default) and
#: ``localdir`` are built in; ``module.path:attr`` resolves by import. A
#: name registry (vs pickling a transport into the DataSource) keeps
#: DataSource options plain strings — the Spark contract. NB: Spark
#: constructs streaming readers in a dedicated Python worker process, so a
#: factory registered at runtime in the driver process is only visible to
#: readers constructed in-process (unit tests driving the reader class
#: directly); end-to-end queries must use a built-in name or an importable
#: ``module:attr`` path.
_TRANSPORT_FACTORIES: dict[str, Callable[[dict], object]] = {}


def register_transport_factory(name: str, factory: Callable[[dict], object]) -> None:
    _TRANSPORT_FACTORIES[name] = factory


def _default_boto3_factory(options: dict):
    from reactive_kinesis_spark.streaming.consumer_aws import Boto3GetRecordsTransport

    return Boto3GetRecordsTransport.from_options(options)


def _localdir_factory(options: dict):
    from reactive_kinesis_spark.streaming.consumer_aws import LocalDirGetRecordsTransport

    path = options.get("transportpath")
    if not path:
        raise ValueError("transport=localdir requires option 'transportPath'")
    return LocalDirGetRecordsTransport(path)


register_transport_factory("boto3", _default_boto3_factory)
register_transport_factory("localdir", _localdir_factory)


def _resolve_transport_factory(name: str) -> Callable[[dict], object]:
    if name in _TRANSPORT_FACTORIES:
        return _TRANSPORT_FACTORIES[name]
    if ":" in name:
        import importlib

        module, _, attr = name.partition(":")
        return getattr(importlib.import_module(module), attr)
    raise ValueError(
        f"unknown transport {name!r}; registered: {sorted(_TRANSPORT_FACTORIES)} "
        "(or pass an importable 'module.path:factory')"
    )


def _to_timestamp(value) -> datetime:
    """boto3 hands back tz-aware datetimes; fakes may hand epoch seconds.
    Normalize to tz-aware UTC (EVENT_SCHEMA timestamp)."""
    if isinstance(value, datetime):
        return value if value.tzinfo else value.replace(tzinfo=timezone.utc)
    return datetime.fromtimestamp(float(value), tz=timezone.utc)


class _LiveStreamReader(SimpleDataSourceStreamReader):
    """Offsets: ``{shard_id: last_delivered_sequence_number}`` with ``""``
    = nothing delivered yet (start from the configured initial position).
    Plain-string values keep the offset JSON primitive, per the API.

    With ``startingPosition=latest`` the offset value is
    ``"first:last"`` — the FIRST sequence number this query ever delivered
    for the shard rides along, because a committed range starting at ``""``
    is otherwise unreplayable (re-resolving LATEST lands at the new tip
    and would silently drop the batch; trim_horizon would replay records
    the query intentionally skipped). ``readBetweenOffsets`` replays such
    a range as ``AT_SEQUENCE_NUMBER(first) .. last``."""

    @staticmethod
    def _dec(value: str | None) -> tuple[str, str]:
        """Offset value → (first_delivered_seq, last_seq); plain values
        (non-latest positions, old checkpoints) decode as ("", value)."""
        if not value:
            return "", ""
        if ":" in value:
            first, _, last = value.partition(":")
            return first, last
        return "", value

    def _enc(self, first: str, last: str) -> str:
        if self._position == "latest" and first:
            return f"{first}:{last}"
        return last

    def __init__(self, options: dict):
        self._stream = options.get("streamname")
        if not self._stream:
            raise ValueError("kinesis_live requires option 'streamName'")
        position = str(options.get("startingposition", "trim_horizon")).lower()
        if position not in _POSITIONS:
            raise ValueError(
                f"unsupported startingPosition {position!r}; one of {_POSITIONS}"
            )
        ts_opt = options.get("startingtimestamp")
        self._position = position
        self._timestamp_us = _parse_timestamp_us(ts_opt) if ts_opt is not None else None
        self._sequence_number = options.get("startingsequencenumber")
        if position == "at_timestamp" and self._timestamp_us is None:
            raise ValueError("startingPosition=at_timestamp requires startingTimestamp")
        if position.endswith("_sequence_number") and self._sequence_number is None:
            raise ValueError(f"startingPosition={position} requires startingSequenceNumber")
        self._max_records = int(options.get("maxrecordsperbatch", 10_000))
        # Bounded thread-pool fan-out over shards per micro-batch (the
        # reference runs one worker per shard, KinesisConsumer.scala:207-226).
        # Sequential polling serializes one GetRecords round-trip per shard
        # per batch — fine at 4 shards, a driver-side latency wall at 500.
        # Each shard is polled by exactly ONE task per batch, so per-shard
        # order and the per-shard iterator/closed-shard caches stay
        # single-writer; boto3 clients are documented thread-safe.
        self._poll_concurrency = max(1, int(options.get("pollconcurrency", 8)))
        self._deaggregate = str(options.get("deaggregate", "false")).lower() == "true"
        shards_opt = options.get("shards")
        self._shard_subset = (
            [s.strip() for s in str(shards_opt).split(",") if s.strip()]
            if shards_opt
            else None
        )
        factory_name = str(options.get("transport", "boto3"))
        self._transport = _resolve_transport_factory(factory_name)(options)
        # Lease coordination (L1 full): with `leaseDir` set, N concurrent
        # queries against one stream split shards automatically, release
        # cooperatively on rebalance, and take over a dead worker's shards
        # (with its last committed position) after `failoverTimeMillis` —
        # the KCL lease-table analog (reference.conf:489-512). See
        # streaming/lease.py for the protocol and its guarantees.
        lease_dir = options.get("leasedir")
        if lease_dir:
            import uuid

            from reactive_kinesis_spark.streaming.lease import LeaseCoordinator

            self._lease = LeaseCoordinator(
                str(lease_dir),
                str(options.get("workerid") or f"worker-{uuid.uuid4().hex[:12]}"),
                int(options.get("failovertimemillis", 10_000)),
            )
        else:
            self._lease = None
        self._lease_ckpts: dict[str, str] = {}
        # LATEST before the first record: keep the live iterator across
        # polls (in-memory only) — a fresh LATEST iterator each batch would
        # skip records arriving between polls. After a crash-restart the
        # position re-resolves to LATEST, exactly the KCL's semantics for a
        # lease that never checkpointed.
        # shard → (live iterator, issued-at epoch µs): the timestamp makes
        # iterator EXPIRY recoverable without a gap (AT_TIMESTAMP re-resolve)
        self._latest_iters: dict[str, tuple[str, int]] = {}
        # shards observed CLOSED-and-drained (null NextShardIterator).
        # In-memory: after a restart one extra poll of each closed parent
        # re-detects it, so child gating resumes conservatively.
        self._closed_shards: set[str] = set()

    # -- shard discovery ---------------------------------------------------

    def _shards(self) -> list[str]:
        """Refreshed per batch — resharding shows up as new shard ids,
        which start at the initial position (KCL lease-sync analog). An
        explicit ``shards`` subset pins this consumer's assignment (L1).

        Parent-before-child gating (KCL shard-end semantics): a shard with
        a parent still listed and not yet observed closed-and-drained is
        withheld from this batch, so a split/merge never interleaves child
        records before the tail of the parent — per-key order survives
        resharding. Transports without lineage (``shard_parents``) fall
        back to independent shards."""
        shards = self._transport.list_shards(self._stream)
        if self._shard_subset is not None:
            missing = [s for s in self._shard_subset if s not in shards]
            if missing:
                raise ValueError(f"unknown shard ids {missing}; available: {shards}")
            shards = list(self._shard_subset)
        lineage = getattr(self._transport, "shard_parents", None)
        if lineage is None:
            return self._lease_filter(shards)
        parents = lineage(self._stream)
        listed = set(parents)
        shards = [
            sid
            for sid in shards
            if all(
                p not in listed or p in self._closed_shards
                for p in parents.get(sid, [])
            )
        ]
        return self._lease_filter(shards)

    def _lease_filter(self, shards: list[str]) -> list[str]:
        """With a coordinator: heartbeat + release/acquire, then keep only
        the shards this worker owns this batch; their lease checkpoints
        (another worker's last committed position, for takeovers) are
        stashed for :meth:`read`."""
        if self._lease is None:
            return shards
        self._lease_ckpts = self._lease.sync(shards)
        return [sid for sid in shards if sid in self._lease_ckpts]

    # -- record conversion -------------------------------------------------

    def _rows(self, shard_id: str, rec: dict) -> Iterator[Tuple]:
        """One GetRecords record → EVENT_SCHEMA tuple(s). With
        ``deaggregate`` on, KPL aggregates expand into sub-records with
        ascending sub-sequence numbers (the KCL's transparent
        deaggregation; README.md:684-686 sub-sequence semantics)."""
        ts = _to_timestamp(rec["ApproximateArrivalTimestamp"])
        data = bytes(rec["Data"])
        seq = rec["SequenceNumber"]
        pk = rec.get("PartitionKey", "")
        if self._deaggregate:
            from reactive_kinesis_spark.streaming.deaggregate import unpack_records

            subs = unpack_records(data)
            if not (len(subs) == 1 and subs[0][0] == ""):
                for i, (sub_pk, sub_data) in enumerate(subs):
                    yield (self._stream, shard_id, sub_pk, seq, i, sub_data, ts)
                return
        yield (self._stream, shard_id, pk, seq, 0, data, ts)

    def _poll(
        self,
        shard_id: str,
        last_seq: str,
        *,
        max_records: int | None,
        until: str | None = None,
        position: str | None = None,
        sequence_number: str | None = None,
    ) -> tuple[list[Tuple], str]:
        """``position``/``sequence_number`` override the configured start
        position for THIS poll (new-shard trim_horizon, latest-range
        replay); ``None`` = the reader's configured position."""
        import time as _time

        pos = position or self._position
        seqno = sequence_number if position else self._sequence_number
        ts_us = None if position else self._timestamp_us
        rows: list[Tuple] = []
        new_last = last_seq
        state: dict = {}
        resume, resume_issued = (
            self._latest_iters.get(shard_id, (None, None))
            if pos == "latest" and not last_seq and until is None
            else (None, None)
        )
        poll_started_us = int(_time.time() * 1_000_000)
        for rec in read_shard(
            self._transport,
            self._stream,
            shard_id,
            last_sequence_number=last_seq or None,
            position=pos,
            timestamp_us=ts_us,
            sequence_number=seqno,
            max_records=max_records,
            until_sequence_number=until,
            resume_iterator=resume,
            resume_issued_at_us=resume_issued,
            state=state,
        ):
            rows.extend(self._rows(shard_id, rec))
            new_last = rec["SequenceNumber"]
        if pos == "latest" and until is None:
            if new_last:
                self._latest_iters.pop(shard_id, None)  # seq now durable
            elif state.get("next_iterator"):
                # remember WHEN the cached iterator chain was live so that
                # expiry can recover via AT_TIMESTAMP without a gap
                self._latest_iters[shard_id] = (
                    state["next_iterator"],
                    resume_issued or poll_started_us,
                )
        if until is None and state.get("closed"):
            # closed-and-drained: unblocks this shard's children next batch
            self._closed_shards.add(shard_id)
        return rows, new_last

    # -- SimpleDataSourceStreamReader protocol -----------------------------

    def initialOffset(self) -> dict:
        # full (ungated) listing at query start: shards that existed here
        # read from the CONFIGURED position when they later enter the
        # offsets (a gated child of a pre-closed parent); shards absent
        # here are true mid-stream arrivals and read from trim_horizon
        self._initial_listing = set(self._transport.list_shards(self._stream))
        owned = {sid: "" for sid in self._shards()}
        if self._lease is not None:
            # a fresh query has no committed positions; anything withheld
            # here releases at the lease's recorded checkpoint
            self._lease.release_pending({})
        return owned

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        end = dict(start)
        shards = self._shards()
        if self._lease is not None:
            # Lease bookkeeping happens at READ-time, not commit-time:
            # Spark defers a source's commit callback until the next
            # data-bearing batch, so on a quiet stream commit may never
            # fire. `start` is durable here (micro-batches are serial:
            # the previous batch is sunk and WAL'd before the next read
            # is planned), so it is the correct position to both stamp
            # on released shards (cooperative handover, second half) and
            # record as the takeover checkpoint for shards still owned.
            committed = {sid: self._dec(raw)[1] for sid, raw in start.items()}
            self._lease.release_pending(committed)
            self._lease.record_checkpoints(
                {sid: committed.get(sid, "") for sid in shards}
            )
        plan: list[tuple[str, str, str, str | None]] = []
        for sid in shards:
            raw = start.get(sid)
            if sid in self._closed_shards:
                # drained to shard end — nothing more can arrive; keep the
                # committed position without burning a GetRecords poll
                end.setdefault(sid, raw or "")
                continue
            first, last = self._dec(raw)
            # a shard NOT in the start offsets appeared after the query
            # started (resharding): its records begin at ITS trim horizon
            # (KCL child-shard semantics). The configured position must not
            # apply — at/after_sequence_number would hand another shard's
            # sequence number to GetShardIterator (InvalidArgument on real
            # Kinesis), latest would skip records arrived since the split.
            # Exception: a shard that existed at query START but was gated
            # behind an unfinished parent keeps the configured position
            # (fresh-app semantics, no pre-query replay under latest).
            known_at_start = sid in getattr(self, "_initial_listing", set())
            # Lease takeover: resume AFTER the max of this query's own
            # offset and the lease checkpoint (the previous owner's last
            # committed position) — never behind a position another worker
            # already delivered, whether the shard is new to this query
            # (raw is None) or returning after a rebalance round-trip.
            ckpt = self._lease_ckpts.get(sid, "")
            if ckpt:
                from reactive_kinesis_spark.streaming.lease import seq_max

                last = seq_max(last, ckpt)
            override = (
                "trim_horizon"
                if raw is None and not last and not known_at_start
                else None
            )
            plan.append((sid, first, last, override))
        batch: list[Tuple] = []
        # results consumed in plan (= shard-listing) order regardless of
        # poll completion order → batch assembly stays deterministic
        for (sid, first, _last, _ovr), (rows, new_last) in zip(
            plan, self._poll_all(plan)
        ):
            batch.extend(rows)
            if rows and not first:
                first = rows[0][3]  # first sequence number ever delivered
            end[sid] = self._enc(first, new_last)
        return iter(batch), end

    def _poll_all(
        self, plan: list[tuple[str, str, str, str | None]]
    ) -> list[tuple[list[Tuple], str]]:
        """One ``_poll`` per planned shard, fanned out over a bounded
        thread pool (``pollConcurrency``); order of results == order of
        ``plan``. Each shard is handled by exactly one task, so the
        per-shard mutable state (``_latest_iters[sid]``,
        ``_closed_shards.add``) has a single writer; a worker exception
        fails the batch (Spark retries the trigger), matching the
        sequential path's semantics."""

        def one(item: tuple[str, str, str, str | None]) -> tuple[list[Tuple], str]:
            sid, _first, last, override = item
            return self._poll(
                sid, last, max_records=self._max_records, position=override
            )

        if len(plan) <= 1 or self._poll_concurrency <= 1:
            return [one(item) for item in plan]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(self._poll_concurrency, len(plan)),
            thread_name_prefix="kinesis-live-poll",
        ) as pool:
            return list(pool.map(one, plan))

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        """Deterministic replay of a committed-offset range after restart:
        the closed sequence range per shard, re-fetched via sequence-number
        iterators. No page budget — the full range must be delivered.

        A range that starts at ``""`` replays from the position that
        produced it: ``AT_SEQUENCE_NUMBER(first)`` for latest (the encoded
        first-delivered seq), trim_horizon for a shard discovered
        mid-stream, else the configured initial position (deterministic
        for trim_horizon / at_timestamp / at_sequence_number)."""
        for sid, end_raw in end.items():
            end_first, end_seq = self._dec(end_raw)
            start_raw = start.get(sid)
            _, start_seq = self._dec(start_raw)
            if not end_seq or end_seq == start_seq:
                continue
            if start_seq:
                rows, _ = self._poll(sid, start_seq, max_records=None, until=end_seq)
            elif end_first:
                # latest-position first range: replay exactly what was
                # delivered, starting at the recorded first sequence number
                rows, _ = self._poll(
                    sid,
                    "",
                    max_records=None,
                    until=end_seq,
                    position="at_sequence_number",
                    sequence_number=end_first,
                )
            elif start_raw is None:
                # mid-stream-discovered shard: its first range began at its
                # trim horizon, replay the same way
                rows, _ = self._poll(
                    sid, "", max_records=None, until=end_seq, position="trim_horizon"
                )
            else:
                rows, _ = self._poll(sid, "", max_records=None, until=end_seq)
            yield from rows

    def commit(self, end: dict) -> None:
        # Spark's offset log IS this query's durable position; with a
        # lease coordinator the committed positions are ALSO written to
        # the lease table so another worker's takeover resumes after them
        # (KCL checkpoint-on-lease semantics).
        if self._lease is not None:
            for sid, raw in end.items():
                _, last = self._dec(raw)
                if last:
                    self._lease.record_checkpoint(sid, last)


class KinesisLiveDataSource(DataSource):
    """``spark.readStream.format("kinesis_live")`` after
    :func:`register_live_source`."""

    @classmethod
    def name(cls) -> str:
        return LIVE_FORMAT_NAME

    def schema(self):
        return EVENT_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _LiveStreamReader({k.lower(): v for k, v in self.options.items()})


def register_live_source(spark) -> None:
    """Register the connector on this session (idempotent)."""
    spark.dataSource.register(KinesisLiveDataSource)
