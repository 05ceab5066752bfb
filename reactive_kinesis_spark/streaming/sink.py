"""Producer sink (S3–S6, T1/T2, O3 in SURVEY.md §2.1).

Reference behavior being reproduced Spark-natively:

* per-element send with callbacks → per-batch accounting inside
  ``foreachBatch`` (KinesisProducerActor.scala:40-64,164-195);
* KPL record aggregation (reference.conf:57-91) → :func:`aggregate_records`;
* PutRecords collection packing ≤500 records / ≤5 MB per request
  (reference.conf:93-114) → :class:`RequestPacker`;
* outstanding-request throttling with 0.9 hysteresis
  (KinesisProducerActor.scala:135-217) + the sink's ack window of 1000
  (stream/Kinesis.scala:195-200) → bounded in-flight requests per task;
* RecordTtl retry budget (reference.conf:325-343) → per-request retries
  with deadline;
* materialized ``Future[Done]`` completing when all elements are acked
  (KinesisSinkGraphStage.scala:69-148) → the micro-batch commit itself.

The wire transport is pluggable: tests use :class:`LocalDirTransport`
(files on disk, one JSON line per record); a real deployment drops in a
``boto3 put_records`` transport with the identical packing/retry semantics.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from reactive_kinesis_spark.config import ProducerConfig
from reactive_kinesis_spark.streaming.deaggregate import pack_records

#: A transport takes one PutRecords-shaped request (list of (partition_key,
#: payload) entries) and returns per-entry success flags.
Transport = Callable[[str, list[tuple[str, bytes]]], list[bool]]


class TransportError(RuntimeError):
    pass


class BoundedSender:
    """Bounded-concurrency request dispatch with 0.9 resume hysteresis —
    the reference's outstanding-request throttle, Spark-task-shaped.

    The reference producer actor stashes sends once outstanding futures
    reach ``max-outstanding-requests`` and resumes below 0.9× the bound
    (producer/KinesisProducerActor.scala:135-161,203-217); the stream sink
    pulls the next element only while ``outstanding < maxOutstanding``
    (stream/Kinesis.scala:195-200, KinesisSinkGraphStage.scala:100-105).
    Here: requests run on a thread pool; ``submit`` blocks (the stash
    analog — a Spark task has no mailbox to stash into) while in-flight
    requests ≥ the bound, resuming once they drain below 0.9×bound.
    A failed request (TTL exhausted) raises on the next ``submit`` or at
    ``close()``, failing the task → batch → query, the reference's
    ``SendFailed`` ⇒ stage-failure escalation.

    ``max_outstanding=1`` degenerates to strict sequential send (no
    cross-request reordering); above 1, records of one partition key may
    reorder across concurrent requests — the same contract as the KPL
    (README.md:684-686: consumers needing order use aggregation or dedup
    by sequence number).
    """

    def __init__(self, send_fn, max_outstanding: int, pool_size: int | None = None):
        import concurrent.futures as cf

        self._cf = cf
        self._send = send_fn
        self._max = max(1, int(max_outstanding))
        self._pool = cf.ThreadPoolExecutor(
            max_workers=pool_size or min(self._max, 8)
        )
        self._inflight: set = set()

    def _reap(self, block_below: float | None = None) -> None:
        """Collect finished futures (raising their errors); if
        ``block_below`` is set, wait until in-flight < that level."""
        while True:
            done = {f for f in self._inflight if f.done()}
            for f in done:
                self._inflight.discard(f)
                f.result()  # propagate TransportError
            if block_below is None or len(self._inflight) < block_below:
                return
            self._cf.wait(self._inflight, return_when=self._cf.FIRST_COMPLETED)

    def submit(self, entries: list[tuple[str, bytes]]) -> None:
        self._reap()
        if len(self._inflight) >= self._max:
            # throttled: resume only below 0.9× the bound (hysteresis)
            self._reap(block_below=0.9 * self._max)
        self._inflight.add(self._pool.submit(self._send, entries))

    def close(self) -> None:
        try:
            while self._inflight:
                self._cf.wait(self._inflight, return_when=self._cf.ALL_COMPLETED)
                self._reap()
        finally:
            self._pool.shutdown(wait=True)

    def abort(self) -> None:
        """Error-path cleanup: cancel queued requests and reclaim the pool
        WITHOUT raising further. In-flight sends are waited out (each is
        bounded by the record TTL) so no zombie thread keeps calling the
        transport after the Spark task has failed — a task retry must not
        race a leftover sender from the failed attempt."""
        for f in self._inflight:
            f.cancel()
        self._pool.shutdown(wait=True, cancel_futures=True)
        self._inflight.clear()


@dataclass
class RequestPacker:
    """Packs producer records into PutRecords-shaped requests honoring
    CollectionMaxCount/CollectionMaxSize (reference.conf:93-114)."""

    max_count: int = 500
    max_size: int = 5_242_880
    _buf: list[tuple[str, bytes]] = field(default_factory=list)
    _size: int = 0

    def add(self, pk: str, data: bytes) -> list[tuple[str, bytes]] | None:
        entry_size = len(data) + len(pk.encode("utf-8"))
        flushed = None
        if self._buf and (
            len(self._buf) >= self.max_count or self._size + entry_size > self.max_size
        ):
            flushed = self.flush()
        self._buf.append((pk, data))
        self._size += entry_size
        return flushed

    def flush(self) -> list[tuple[str, bytes]] | None:
        if not self._buf:
            return None
        out, self._buf, self._size = self._buf, [], 0
        return out


class LocalDirTransport:
    """File-based transport for tests: each request becomes one JSON-lines
    file (base64 payloads). Readable back via ``read_back``."""

    def __init__(self, directory: str, fail_pks: tuple[str, ...] = ()):
        self.directory = directory
        self.fail_pks = fail_pks

    def __call__(self, stream_name: str, entries: list[tuple[str, bytes]]) -> list[bool]:
        import base64

        os.makedirs(self.directory, exist_ok=True)
        path = os.path.join(self.directory, f"{stream_name}-{uuid.uuid4().hex}.jsonl")
        results = []
        lines = []
        for pk, data in entries:
            ok = pk not in self.fail_pks
            if ok:
                lines.append(
                    json.dumps(
                        {"pk": pk, "data": base64.b64encode(data).decode("ascii")}
                    )
                )
            results.append(ok)
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + ("\n" if lines else ""))
        return results

    def read_back(self) -> list[tuple[str, bytes]]:
        import base64

        out = []
        if not os.path.isdir(self.directory):
            return out
        for name in sorted(os.listdir(self.directory)):
            with open(os.path.join(self.directory, name)) as fh:
                for line in fh:
                    if line.strip():
                        rec = json.loads(line)
                        out.append((rec["pk"], base64.b64decode(rec["data"])))
        return out


def write_batch(
    batch_df: DataFrame,
    conf: ProducerConfig,
    transport: Transport,
    pk_col: str = "partition_key",
    payload_col: str = "payload",
    max_outstanding: int | None = None,
) -> None:
    """Send one micro-batch through the producer path.

    Repartitions on the partition key (co-locates each key's records in one
    task — the per-shard ordering analog), then per partition: optional KPL
    aggregation, collection packing, send with retry-until-TTL. A record
    failing after its TTL raises, failing the batch (Spark retries, then the
    query stops — the reference's ``SendFailed`` ⇒ stage failure,
    KinesisSinkGraphStage.scala:138-148).

    ``max_outstanding`` (default: ``conf.max_outstanding_requests``) bounds
    concurrent in-flight requests per task via :class:`BoundedSender` —
    the reference's producer throttle with 0.9 resume hysteresis.
    Concurrency is OPT-IN (mirroring the reference, where
    max-outstanding-requests is optional, reference.conf:38-44): when
    neither the argument nor the config sets it, sends are strictly
    sequential, preserving intra-key order and requiring nothing of the
    transport. Values > 1 require a thread-safe transport and relax
    cross-request ordering (the KPL contract, README.md:684-686).
    """
    max_count = conf.collection_max_count
    max_size = conf.collection_max_size
    agg_enabled = conf.aggregation_enabled
    agg_count = min(conf.aggregation_max_count, 1_000_000)
    agg_size = conf.aggregation_max_size
    ttl_s = conf.record_ttl_millis / 1000.0
    stream_name = conf.stream_name
    outstanding = (
        max_outstanding
        if max_outstanding is not None
        else (conf.max_outstanding_requests or 1)
    )

    def send_partition(rows: Iterator) -> None:
        packer = RequestPacker(max_count, max_size)

        def send_request(entries: list[tuple[str, bytes]]) -> None:
            deadline = time.monotonic() + ttl_s
            todo = entries
            while todo:
                results = transport(stream_name, todo)
                todo = [e for e, ok in zip(todo, results) if not ok]
                if todo and time.monotonic() >= deadline:
                    raise TransportError(
                        f"{len(todo)} records unsent after RecordTtl "
                        f"{conf.record_ttl_millis} ms (first pk={todo[0][0]!r})"
                    )
                if todo:
                    time.sleep(min(0.05, ttl_s / 10))

        sender = BoundedSender(send_request, outstanding)

        def emit(pk: str, data: bytes) -> None:
            flushed = packer.add(pk, data)
            if flushed:
                sender.submit(flushed)

        # aggregation buffer per partition key (KPL packs per shard; key →
        # shard is the routing invariant, README.md:669-672)
        agg_buf: dict[str, list[tuple[str, bytes]]] = {}
        agg_sizes: dict[str, int] = {}

        def flush_agg(pk: str) -> None:
            buf = agg_buf.pop(pk, None)
            agg_sizes.pop(pk, None)
            if buf:
                emit(pk, pack_records(buf))

        try:
            for row in rows:
                pk = row[pk_col]
                data = bytes(row[payload_col])
                if not agg_enabled:
                    emit(pk, data)
                    continue
                buf = agg_buf.setdefault(pk, [])
                size = agg_sizes.get(pk, 0)
                if buf and (len(buf) >= agg_count or size + len(data) > agg_size):
                    flush_agg(pk)
                    buf = agg_buf.setdefault(pk, [])
                    size = 0
                buf.append((pk, data))
                agg_sizes[pk] = size + len(data) + len(pk.encode()) + 6
            for pk in list(agg_buf):
                flush_agg(pk)
            last = packer.flush()
            if last:
                sender.submit(last)
        except BaseException:
            # fail the task with the ORIGINAL error, but never leak live
            # sender threads past it (they would race the task retry)
            sender.abort()
            raise
        sender.close()

    batch_df.select(pk_col, payload_col).repartition(pk_col).foreachPartition(send_partition)


def kinesis_like_sink(
    df: DataFrame,
    conf: ProducerConfig,
    transport: Transport,
    checkpoint_location: str,
    trigger_once: bool = False,
):
    """Streaming producer sink: ``writeStream.foreachBatch(write_batch)``.
    The batch commit IS the ack window — the materialized-future semantics
    of the reference sink (all elements acked ⇔ batch committed)."""
    writer = df.writeStream.foreachBatch(
        lambda b, i: write_batch(b, conf, transport)
    ).option("checkpointLocation", checkpoint_location)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_foreach_batch(
    out_dir: str,
    partition_by: tuple[str, ...] = (),
):
    """Exactly-once parquet sink for ``foreachBatch`` via a batch-id keyed
    directory overwrite.

    Structured Streaming guarantees at-least-once ``foreachBatch``
    invocation: after a crash between sink write and commit-log write, the
    SAME batchId is re-run. Each batch is written straight to
    ``<out_dir>/_batch_id=<id>`` with a plain overwrite (sub-partitioned by
    ``partition_by`` when given), so the replay replaces its own previous
    (possibly partial) output, all of it, instead of appending duplicates
    — at-least-once invocation + idempotent write = exactly-once output.
    Other batches' directories are never touched, and ``out_dir`` still
    reads as one table partitioned by ``_batch_id``.

    This is the engine's answer to the reference's documented caveat
    (README.md:684-686: KPL retries mean consumers must dedup); for
    non-transactional external systems (Kinesis PutRecords) at-least-once
    is the honest contract (see write_batch); for file/table sinks this
    gives exact semantics.

    Use: ``df.writeStream.foreachBatch(idempotent_foreach_batch(path))``.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(out_dir, f"_batch_id={batch_id}"))

    return write
