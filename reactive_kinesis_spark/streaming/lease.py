"""Lease coordination for concurrent ``kinesis_live`` consumers (L1 full).

The reference's KCL layer distributes shard leases across workers and
steals them from dead ones automatically (``reference.conf:489-512``
``failoverTimeMillis``/lease-taker knobs, ``reference.conf:596-631``
rebalance intervals; proven live in
``it/.../ConsumerProcessingManagerIntegrationSpec.scala:33-69``). Until
round 6 the engine's analog was *manual*: a static ``shards=`` split per
query, takeover = a human starting a replacement query. This module closes
that gap with a small protocol that N independent streaming queries run
against one :class:`FileLeaseStore` — a shared posix/NFS/HDFS directory
of JSON documents (read/write/list/delete). The protocol needs exactly
one thing from its store: single-document writes that are atomic, never
torn, and last-writer-wins. Its read-then-write steps
(``record_checkpoint``, ``sync``, ``release_pending``) are separate
``read`` and ``write`` calls whatever the store. An ``os.replace`` gives
that guarantee, so a database or conditional-write (CAS) backend would
add nothing; SCALING.md records the decision.

Protocol (everything is crash-safe last-writer-wins via atomic rename):

* ``workers/<worker_id>.json`` — heartbeat, rewritten every micro-batch.
  A worker whose heartbeat is older than ``failover_time_millis`` is DEAD
  (the ``failoverTimeMillis`` analog).
* ``leases/<shard>.json`` — ``{owner, checkpoint, released}``. The
  checkpoint is the shard's last COMMITTED sequence number, written by the
  owner on every Spark ``commit()`` — the lease table IS the cross-worker
  offset store, exactly the KCL contract.
* Desired assignment is a pure function: sorted shards round-robin over
  sorted live workers. No election, no lock — every worker computes the
  same split from the same heartbeat view, so only the one desired owner
  ever tries to acquire a given shard.
* Handover is cooperative when the old owner is alive, in TWO steps
  inside one ``read()`` call: ``sync`` WITHHOLDS a no-longer-desired
  shard from polling, then the reader releases it with checkpoint =
  its own committed position for the shard (the ``start`` offsets Spark
  passes to ``read`` — durable by then, because micro-batches execute
  serially: the previous batch is sunk and its offsets WAL'd before the
  next ``read`` is planned). Two wrong designs, both hit and rejected:
  releasing with only the LEASE checkpoint races delivery (the
  successor can resume behind rows the old owner already delivered —
  observed duplicates in the e2e rebalance test); deferring release to
  ``commit()`` deadlocks on idle shards (commit only fires for
  data-bearing batches, so a quiet stream never hands anything over —
  also observed). Checkpoint-from-start has neither problem: no loss,
  no overlap, no data required.
  Takeover from a DEAD owner resumes from the lease checkpoint: records
  after the victim's last commit are re-delivered — at-least-once across
  workers during failover, the same guarantee the KCL documents for lease
  steal (each individual query remains exactly-once via its own offset
  log).

Clock is injectable for deterministic failover tests.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable


def _seq_key(seq: str) -> tuple[int, str]:
    """(length, value) orders variable-width decimal sequence strings
    numerically without overflow — same rule as ordering._seq_sort_cols."""
    return (len(seq), seq)


def seq_max(a: str, b: str) -> str:
    if not a:
        return b
    if not b:
        return a
    return a if _seq_key(a) >= _seq_key(b) else b


class FileLeaseStore:
    """The lease table: a shared directory with two namespaces
    (``workers``, ``leases``), one JSON file per document. ``write`` is an
    atomic last-writer-wins ``os.replace`` (posix/NFS/HDFS), so a
    concurrent ``read`` from another process or host never sees a torn
    document — the one guarantee the protocol needs from its store."""

    def __init__(self, path: str):
        self._root = path
        for kind in ("workers", "leases"):
            os.makedirs(os.path.join(path, kind), exist_ok=True)

    def _path(self, kind: str, name: str) -> str:
        return os.path.join(self._root, kind, f"{name}.json")

    def read(self, kind: str, name: str) -> dict | None:
        # None on missing or torn reads (a concurrent writer between
        # create and replace) — callers treat unreadable as absent and
        # retry next batch rather than crash the query
        try:
            with open(self._path(kind, name)) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def write(self, kind: str, name: str, payload: dict) -> None:
        path = self._path(kind, name)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, path)  # atomic on posix/HDFS

    def list(self, kind: str) -> list[str]:
        try:
            names = os.listdir(os.path.join(self._root, kind))
        except OSError:
            return []
        return sorted(
            n[: -len(".json")]
            for n in names
            if n.endswith(".json") and ".tmp." not in n
        )

    def delete(self, kind: str, name: str) -> None:
        try:
            os.remove(self._path(kind, name))
        except OSError:
            pass


def _check_lease_dir(path: str) -> str:
    """Reject a ``leaseDir`` spelled as one of the sqlite or
    conditional-write backends earlier versions shipped. Taken as a
    directory, ``sqlite:/shared/l.db`` is RELATIVE — a private lease
    table under each worker's cwd — so workers on different hosts would
    never see each other and each would poll every shard (double
    delivery)."""
    if path.startswith(("sqlite:", "cas:")) or path.endswith((".db", ".sqlite")):
        raise ValueError(
            f"leaseDir {path!r} names a database or conditional-write lease "
            "backend; leaseDir takes a shared directory (posix/NFS/HDFS) "
            "that every worker mounts"
        )
    return path


class LeaseCoordinator:
    """One instance per consumer (worker). Drive :meth:`sync` once per
    micro-batch with the current shard listing; it heartbeats, releases
    shards this worker should no longer own, acquires shards it should,
    and returns ``{shard_id: lease_checkpoint}`` for the shards this
    worker may poll this batch (checkpoint ``""`` = none recorded)."""

    def __init__(
        self,
        path: str,
        worker_id: str,
        failover_time_millis: int = 10_000,
        clock_ms: Callable[[], int] | None = None,
    ):
        if not worker_id or "/" in worker_id:
            raise ValueError(f"invalid worker_id {worker_id!r}")
        self._store = FileLeaseStore(_check_lease_dir(str(path)))
        self.worker_id = worker_id
        self.failover_time_millis = int(failover_time_millis)
        self._clock_ms = clock_ms or (lambda: int(time.time() * 1000))
        #: shards held but no longer desired — withheld from polling now,
        #: released at the next commit() via release_pending()
        self._pending_release: set[str] = set()

    # -- heartbeats --------------------------------------------------------

    def heartbeat(self) -> None:
        self._store.write("workers", self.worker_id, {"ts_ms": self._clock_ms()})

    def live_workers(self) -> list[str]:
        now = self._clock_ms()
        live = []
        for name in self._store.list("workers"):
            payload = self._store.read("workers", name)
            if payload is None:
                continue
            if now - int(payload.get("ts_ms", 0)) <= self.failover_time_millis:
                live.append(name)
        return sorted(live)

    # -- assignment --------------------------------------------------------

    @staticmethod
    def desired_assignment(shards: list[str], workers: list[str]) -> dict[str, str]:
        """shard → worker, sorted round-robin: pure and total, so every
        worker with the same liveness view computes the same split."""
        workers = sorted(workers)
        if not workers:
            return {}
        return {s: workers[i % len(workers)] for i, s in enumerate(sorted(shards))}

    # -- leases ------------------------------------------------------------

    def _read_lease(self, shard: str) -> dict | None:
        return self._store.read("leases", shard)

    def _write_lease(self, shard: str, owner: str, checkpoint: str, released: bool) -> None:
        self._store.write(
            "leases",
            shard,
            {"owner": owner, "checkpoint": checkpoint, "released": released},
        )

    def record_checkpoints(self, committed: dict[str, str]) -> None:
        """Owner-side, once per ``read``: persist every owned shard's
        durable position from the batch's ``start`` offsets. This — not
        ``commit()`` — is the primary checkpoint writer: Spark defers a
        source's commit callback until the NEXT data-bearing batch, so on
        a quiet stream commit may never fire and a takeover would rewind
        to the beginning (observed as duplicate delivery in the e2e
        rebalance test). ``start`` is durable at read-time (micro-batches
        are serial), so recording it here is always safe."""
        for shard, seq in committed.items():
            if seq:
                self.record_checkpoint(shard, seq)

    def record_checkpoint(self, shard: str, sequence_number: str) -> None:
        """Owner-side: persist the last committed sequence number so a
        takeover resumes AFTER it (never moves backwards)."""
        lease = self._read_lease(shard)
        if lease is None or lease.get("owner") != self.worker_id:
            return  # lost the lease since last batch; the new owner leads
        ckpt = seq_max(str(lease.get("checkpoint", "")), sequence_number)
        self._write_lease(shard, self.worker_id, ckpt, bool(lease.get("released")))

    def release_all(self) -> None:
        """Graceful shutdown: deregister this worker's heartbeat and
        release every held lease, so successors recompute the assignment
        without this worker and take over immediately instead of waiting
        out the failover timeout."""
        self._store.delete("workers", self.worker_id)
        for shard in self._store.list("leases"):
            lease = self._read_lease(shard)
            if lease and lease.get("owner") == self.worker_id and not lease.get("released"):
                self._write_lease(
                    shard, self.worker_id, str(lease.get("checkpoint", "")), True
                )

    def sync(self, shards: list[str]) -> dict[str, str]:
        self.heartbeat()
        live = self.live_workers()
        desired = self.desired_assignment(shards, live)
        mine = {s for s, w in desired.items() if w == self.worker_id}
        owned: dict[str, str] = {}
        pending: set[str] = set()
        for shard in shards:
            lease = self._read_lease(shard)
            if shard not in mine:
                # held but no longer desired: STOP POLLING now, release at
                # the next commit() once the final offsets are durable
                if (
                    lease
                    and lease.get("owner") == self.worker_id
                    and not lease.get("released")
                ):
                    pending.add(shard)
                continue
            if lease is None:
                self._write_lease(shard, self.worker_id, "", False)
                owned[shard] = ""
                continue
            ckpt = str(lease.get("checkpoint", ""))
            owner = lease.get("owner")
            if owner == self.worker_id:
                if lease.get("released"):  # assignment flapped back to me
                    self._write_lease(shard, self.worker_id, ckpt, False)
                owned[shard] = ckpt
            elif lease.get("released") or owner not in live:
                # released by a live owner, or owner is dead: take over
                self._write_lease(shard, self.worker_id, ckpt, False)
                owned[shard] = ckpt
            # else: a live owner still holds it — wait for its release
        self._pending_release = pending
        return owned

    def release_pending(self, committed: dict[str, str] | None = None) -> None:
        """Second half of the cooperative handover: release the shards
        :meth:`sync` withheld, stamping each with the max of the lease
        checkpoint and this worker's own COMMITTED position for it
        (``committed``, from the ``start`` offsets of the current
        ``read`` call) so the successor resumes exactly after everything
        this worker delivered."""
        committed = committed or {}
        for shard in self._pending_release:
            lease = self._read_lease(shard)
            if (
                lease
                and lease.get("owner") == self.worker_id
                and not lease.get("released")
            ):
                ckpt = seq_max(
                    str(lease.get("checkpoint", "")), committed.get(shard, "")
                )
                self._write_lease(shard, self.worker_id, ckpt, True)
        self._pending_release = set()
