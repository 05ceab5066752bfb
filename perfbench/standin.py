"""A file-backed, boto3-shaped stand-in for a Kinesis endpoint.

Implements the four client calls the library's transports make
(``put_records``, ``list_shards``, ``get_shard_iterator``, ``get_records``)
with the response shapes boto3 returns, so traffic reaches the library's own
``Boto3Transport(client=...)`` and ``Boto3GetRecordsTransport(client=...)``
unchanged.

Layout: ``<root>/<stream>/<shard_id>.dat`` holds each record's partition key
and data back to back; ``<shard_id>.idx`` holds one fixed-size entry per
record (data offset, data length, key length, arrival time). A shard
iterator is the record index, so every call reads only the entries and bytes
it returns: its cost does not grow with the backlog. Appends take a per-shard
``flock``, which is where sequence numbers are assigned, so writers in
several processes (Spark's Python workers, the load generator) interleave
safely. The data bytes are written before their index entry, so a reader in
another process never sees an entry whose bytes are missing.

With ``trace_dir`` set, each process counts and times its calls and rewrites
``<trace_dir>/<pid>-<token>.json`` after every call; :func:`merged_counters`
sums those files.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import random
import struct
import threading
import time
import uuid
from datetime import datetime, timezone

#: data offset, data length, partition-key length, arrival time (epoch µs)
_ENTRY = struct.Struct("<QIHq")
_AGG_MAGIC = b"RKSA1"
THROTTLED = "ProvisionedThroughputExceededException"


def shard_id(index: int) -> str:
    return f"shardId-{index:012d}"


def _seq(shard_index: int, idx: int) -> str:
    """Fixed-width decimal sequence number: shard-unique, increasing."""
    return f"49{shard_index:04d}{idx:020d}"


def _seq_index(seq: str) -> int:
    return int(seq[6:])


def shard_for_key(partition_key: str, shards: int) -> int:
    """Kinesis routing: MD5 of the key as a 128-bit integer, split evenly
    over the shards' hash-key ranges."""
    h = int.from_bytes(hashlib.md5(partition_key.encode("utf-8")).digest(), "big")
    return (h * shards) >> 128


class ClientError(Exception):
    """botocore-shaped error: the library reads ``response["Error"]["Code"]``."""

    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.response = {"Error": {"Code": code, "Message": message}}


class StandinKinesis:
    """The stand-in client. Picklable: open descriptors are dropped and
    reopened lazily, so Spark can ship it to its Python workers."""

    def __init__(
        self,
        root: str,
        *,
        fail_rate: float = 0.0,
        seed: int = 0,
        trace_dir: str | None = None,
    ):
        self.root = root
        self.fail_rate = fail_rate
        self.seed = seed
        self.trace_dir = trace_dir
        self._reset_process_state()

    def _reset_process_state(self) -> None:
        self._rng = random.Random(self.seed)
        self._fds: dict[tuple[str, str, str, int], int] = {}
        self._counts: dict[str, float] = {}
        self._trace_file: str | None = None
        # flock excludes other processes only; threads share the descriptor
        self._append_lock = threading.Lock()
        self._note_lock = threading.Lock()

    def __getstate__(self):
        return {k: getattr(self, k) for k in ("root", "fail_rate", "seed", "trace_dir")}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._reset_process_state()

    def close(self) -> None:
        for fd in self._fds.values():
            os.close(fd)
        self._fds.clear()

    # -- stream management (benchmark set-up, not a library call) ---------

    def create_stream(self, StreamName: str, ShardCount: int) -> None:
        d = os.path.join(self.root, StreamName)
        os.makedirs(d, exist_ok=True)
        for i in range(ShardCount):
            for ext in ("dat", "idx", "lock"):
                open(os.path.join(d, f"{shard_id(i)}.{ext}"), "ab").close()

    def _shards(self, stream: str) -> list[str]:
        d = os.path.join(self.root, stream)
        if not os.path.isdir(d):
            raise ClientError("ResourceNotFoundException", f"stream {stream} not found")
        return sorted(n[: -len(".idx")] for n in os.listdir(d) if n.endswith(".idx"))

    def _fd(self, stream: str, shard: str, ext: str, flags: int) -> int:
        key = (stream, shard, ext, flags)
        fd = self._fds.get(key)
        if fd is None:
            fd = os.open(os.path.join(self.root, stream, f"{shard}.{ext}"), flags)
            self._fds[key] = fd
        return fd

    def _count(self, stream: str, shard: str) -> int:
        return os.fstat(self._fd(stream, shard, "idx", os.O_RDONLY)).st_size // _ENTRY.size

    # -- tracing -----------------------------------------------------------

    def _note(self, **deltas: float) -> None:
        if self.trace_dir is None:
            return
        with self._note_lock:
            for k, v in deltas.items():
                self._counts[k] = self._counts.get(k, 0) + v
            if self._trace_file is None:
                os.makedirs(self.trace_dir, exist_ok=True)
                self._trace_file = os.path.join(
                    self.trace_dir, f"{os.getpid()}-{uuid.uuid4().hex[:8]}.json"
                )
            tmp = self._trace_file + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self._counts, fh)
            os.replace(tmp, self._trace_file)

    # -- the boto3 surface -------------------------------------------------

    def list_shards(self, StreamName: str | None = None, NextToken: str | None = None):
        t0 = time.perf_counter()
        out = {"Shards": [{"ShardId": s} for s in self._shards(StreamName)]}
        self._note(list_shards_calls=1, list_shards_s=time.perf_counter() - t0)
        return out

    def put_records(self, StreamName: str, Records: list[dict]):
        t0 = time.perf_counter()
        shards = self._shards(StreamName)
        results: list[dict | None] = [None] * len(Records)
        by_shard: dict[int, list[int]] = {}
        user_records = failed = 0
        for i, rec in enumerate(Records):
            data = rec["Data"]
            user_records += (
                struct.unpack_from(">I", data, len(_AGG_MAGIC))[0]
                if data.startswith(_AGG_MAGIC)
                else 1
            )
            if self.fail_rate and self._rng.random() < self.fail_rate:
                failed += 1
                results[i] = {"ErrorCode": THROTTLED, "ErrorMessage": "Rate exceeded"}
                continue
            by_shard.setdefault(shard_for_key(rec["PartitionKey"], len(shards)), []).append(i)
        now_us = int(time.time() * 1_000_000)
        for s, idxs in sorted(by_shard.items()):
            sid = shards[s]
            dat = self._fd(StreamName, sid, "dat", os.O_WRONLY | os.O_APPEND)
            idx = self._fd(StreamName, sid, "idx", os.O_WRONLY | os.O_APPEND)
            lock = self._fd(StreamName, sid, "lock", os.O_RDONLY)
            blobs, entries = [], []
            with self._append_lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                try:
                    offset = os.fstat(dat).st_size
                    first = os.fstat(idx).st_size // _ENTRY.size
                    for n, i in enumerate(idxs):
                        pk = Records[i]["PartitionKey"].encode("utf-8")
                        data = bytes(Records[i]["Data"])
                        blobs += (pk, data)
                        entries.append(_ENTRY.pack(offset, len(data), len(pk), now_us))
                        offset += len(pk) + len(data)
                        results[i] = {"SequenceNumber": _seq(s, first + n), "ShardId": sid}
                    os.write(dat, b"".join(blobs))
                    os.write(idx, b"".join(entries))
                finally:
                    fcntl.flock(lock, fcntl.LOCK_UN)
        self._note(
            put_records_calls=1,
            put_records_s=time.perf_counter() - t0,
            entries=len(Records),
            entries_failed=failed,
            user_records=user_records,
        )
        return {"FailedRecordCount": failed, "Records": results}

    def get_shard_iterator(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
    ):
        """TRIM_HORIZON, LATEST and the sequence-number forms; the
        workloads never start at a timestamp."""
        t0 = time.perf_counter()
        if ShardId not in self._shards(StreamName):
            raise ClientError("ResourceNotFoundException", f"shard {ShardId} not found")
        if ShardIteratorType == "TRIM_HORIZON":
            pos = 0
        elif ShardIteratorType == "LATEST":
            pos = self._count(StreamName, ShardId)
        elif ShardIteratorType == "AT_SEQUENCE_NUMBER":
            pos = _seq_index(StartingSequenceNumber)
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = _seq_index(StartingSequenceNumber) + 1
        else:
            raise ClientError("InvalidArgumentException", ShardIteratorType)
        self._note(get_shard_iterator_calls=1, get_shard_iterator_s=time.perf_counter() - t0)
        return {"ShardIterator": f"{StreamName}|{ShardId}|{pos}"}

    def _entries(self, stream: str, shard: str, start: int, stop: int) -> list[tuple]:
        fd = self._fd(stream, shard, "idx", os.O_RDONLY)
        raw = os.pread(fd, (stop - start) * _ENTRY.size, start * _ENTRY.size)
        return list(_ENTRY.iter_unpack(raw))

    def get_records(self, ShardIterator: str, Limit: int = 10_000):
        t0 = time.perf_counter()
        stream, shard, pos = ShardIterator.rsplit("|", 2)
        pos = int(pos)
        total = self._count(stream, shard)
        stop = min(total, pos + Limit)
        records = []
        if stop > pos:
            entries = self._entries(stream, shard, pos, stop)
            base = entries[0][0]
            end = entries[-1][0] + entries[-1][1] + entries[-1][2]
            blob = os.pread(self._fd(stream, shard, "dat", os.O_RDONLY), end - base, base)
            s = int(shard.rsplit("-", 1)[1])
            for n, (off, dlen, klen, ts_us) in enumerate(entries):
                o = off - base
                records.append(
                    {
                        "SequenceNumber": _seq(s, pos + n),
                        "ApproximateArrivalTimestamp": datetime.fromtimestamp(
                            ts_us / 1_000_000, tz=timezone.utc
                        ),
                        "Data": blob[o + klen : o + klen + dlen],
                        "PartitionKey": blob[o : o + klen].decode("utf-8"),
                    }
                )
        behind = 0
        if stop < total:
            last_ts = self._entries(stream, shard, total - 1, total)[0][3]
            behind = max(1, int(time.time() * 1000 - last_ts / 1000))
        self._note(
            get_records_calls=1,
            get_records_s=time.perf_counter() - t0,
            records_returned=len(records),
            empty_get_records_calls=0 if records else 1,
        )
        return {
            "Records": records,
            "NextShardIterator": f"{stream}|{shard}|{stop}",
            "MillisBehindLatest": behind,
        }


def live_transport(options: dict):
    """``kinesis_live`` transport factory (``transport=perfbench.standin:
    live_transport``): the library's ``Boto3GetRecordsTransport`` over a
    stand-in client rooted at option ``standinRoot``."""
    from reactive_kinesis_spark.streaming.consumer_aws import Boto3GetRecordsTransport

    return Boto3GetRecordsTransport(
        client=StandinKinesis(options["standinroot"], trace_dir=options.get("standintrace"))
    )


def merged_counters(trace_dir: str) -> dict[str, float]:
    """Sum the per-process counter files under ``trace_dir``."""
    out: dict[str, float] = {}
    if not os.path.isdir(trace_dir):
        return out
    for name in os.listdir(trace_dir):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(trace_dir, name)) as fh:
            for k, v in json.load(fh).items():
                out[k] = out.get(k, 0) + v
    return out
