"""The stand-in Kinesis client against the library's own transports."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pytest

from perfbench import standin
from perfbench.standin import StandinKinesis, shard_id
from reactive_kinesis_spark.streaming.aws import Boto3Transport
from reactive_kinesis_spark.streaming.consumer_aws import Boto3GetRecordsTransport, read_shard
from reactive_kinesis_spark.streaming.deaggregate import pack_records


def _entries(n: int, key: str = "k") -> list[tuple[str, bytes]]:
    return [(f"{key}{i % 4}", f"rec-{i:06d}".encode()) for i in range(n)]


def _read_all(client, stream: str, **kw) -> list[dict]:
    transport = Boto3GetRecordsTransport(client=client)
    out = []
    for sid in transport.list_shards(stream):
        out += list(read_shard(transport, stream, sid, last_sequence_number=None, **kw))
    return out


def test_put_through_boto3_transport_and_read_back(tmp_path):
    client = StandinKinesis(str(tmp_path))
    client.create_stream(StreamName="s", ShardCount=2)
    entries = _entries(1_200)
    send = Boto3Transport(client=client)
    for i in range(0, len(entries), 500):
        chunk = entries[i : i + 500]
        Boto3Transport._check_request_shape(chunk)
        assert send("s", chunk) == [True] * len(chunk)
    got = _read_all(client, "s")
    assert sorted(r["Data"] for r in got) == sorted(d for _, d in entries)
    for r in got:
        assert standin.shard_for_key(r["PartitionKey"], 2) in (0, 1)
        assert r["ApproximateArrivalTimestamp"].tzinfo is not None


def test_read_shard_pages_resumes_and_keeps_order(tmp_path):
    client = StandinKinesis(str(tmp_path))
    client.create_stream(StreamName="s", ShardCount=1)
    Boto3Transport(client=client)("s", _entries(300))
    transport = Boto3GetRecordsTransport(client=client)
    sid = shard_id(0)
    first = list(read_shard(transport, "s", sid, last_sequence_number=None, max_records=120))
    rest = list(
        read_shard(transport, "s", sid, last_sequence_number=first[-1]["SequenceNumber"])
    )
    seqs = [r["SequenceNumber"] for r in first + rest]
    assert len(seqs) == 300 and seqs == sorted(seqs) and len(set(seqs)) == 300
    at = list(read_shard(transport, "s", sid, last_sequence_number=None,
                         position="at_sequence_number", sequence_number=seqs[10], max_records=1))
    assert at[0]["SequenceNumber"] == seqs[10]
    assert list(read_shard(transport, "s", sid, last_sequence_number=None, position="latest")) == []


def test_aggregated_entries_are_counted_as_user_records(tmp_path):
    client = StandinKinesis(str(tmp_path), trace_dir=str(tmp_path / "t"))
    client.create_stream(StreamName="s", ShardCount=2)
    blob = pack_records([("a", b"x")] * 7)
    Boto3Transport(client=client)("s", [("a", blob), ("b", b"plain")])
    counts = standin.merged_counters(str(tmp_path / "t"))
    assert counts["entries"] == 2 and counts["user_records"] == 8


def test_seeded_failures_are_retryable_and_repeat(tmp_path):
    def pattern(seed: int) -> list[bool]:
        client = StandinKinesis(str(tmp_path), fail_rate=0.01, seed=seed)
        client.create_stream(StreamName=f"s{seed}", ShardCount=2)
        return Boto3Transport(client=client)(f"s{seed}", _entries(500)) + Boto3Transport(
            client=client
        )(f"s{seed}", _entries(500))

    a = pattern(3)
    assert a == pattern(3)
    assert 0 < a.count(False) < 30
    client = StandinKinesis(str(tmp_path), fail_rate=1.0)
    client.create_stream(StreamName="f", ShardCount=1)
    resp = client.put_records(StreamName="f", Records=[{"Data": b"x", "PartitionKey": "k"}])
    assert resp["Records"][0]["ErrorCode"] == standin.THROTTLED


def _bulk_shard(root, stream: str, n: int) -> None:
    """Write an n-record shard straight to disk (the put path is not what
    this measures)."""
    client = StandinKinesis(str(root))
    client.create_stream(StreamName=stream, ShardCount=1)
    d = root / stream
    rec = b"k" + b"x" * 99
    (d / f"{shard_id(0)}.dat").write_bytes(rec * n)
    idx = np.zeros(n, np.dtype([("off", "<u8"), ("dlen", "<u4"), ("klen", "<u2"), ("ts", "<i8")]))
    idx["off"] = np.arange(n, dtype=np.uint64) * len(rec)
    idx["dlen"], idx["klen"], idx["ts"] = len(rec) - 1, 1, 1_700_000_000_000_000
    (d / f"{shard_id(0)}.idx").write_bytes(idx.tobytes())


def _get_records_s(client, stream: str, pos: int) -> float:
    it = f"{stream}|{shard_id(0)}|{pos}"
    times = []
    for _ in range(30):
        t0 = time.perf_counter()
        got = client.get_records(ShardIterator=it, Limit=100)
        times.append(time.perf_counter() - t0)
        assert len(got["Records"]) == 100
    return statistics.median(times)


@pytest.mark.parametrize("where", ["head", "tail"])
def test_get_records_cost_is_flat_in_backlog(tmp_path, where):
    _bulk_shard(tmp_path, "small", 1_000)
    _bulk_shard(tmp_path, "big", 1_000_000)
    client = StandinKinesis(str(tmp_path))
    small = _get_records_s(client, "small", 0 if where == "head" else 900)
    big = _get_records_s(client, "big", 0 if where == "head" else 999_900)
    assert big < 3 * small
