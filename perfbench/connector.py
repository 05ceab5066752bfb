"""The ``kinesis`` workload: producer → stand-in Kinesis → ``kinesis_live`` →
tolerance → idempotent parquet sinks, in two phases.

* roundtrip — closed loop. Each cycle writes a backlog with
  ``write_batch`` (KPL aggregation, 500-record / 5 MB packing, sequential
  sender, a seeded 1 % of PutRecords entries throttled), and a running
  ``kinesis_live`` query drains it through ``tolerant_foreach_batch``
  (0.1 % of records fail the predicate and go to the DLQ sink).
* tail — open loop. A separate generator process appends
  non-aggregated records at a fixed rate while the query, on a 200 ms
  trigger, delivers them; latency runs from each record's due time to the
  return of the ``foreachBatch`` call that delivered it.

Payloads are fixed-width ASCII: a 3-letter partition key, a 10-digit
per-key sequence number, a 16-digit creation time (epoch µs), then seeded
padding. The output check reads the sink and DLQ parquet back and requires
every (key, seq) exactly once.
"""

from __future__ import annotations

import json
import os
import random
import string
import subprocess
import sys
import time

import numpy as np

from perfbench.standin import StandinKinesis, shard_for_key
from perfbench.stats import HostWindow, measure_windows, quiet, ratio
from perfbench.trace import median_or_zero, next_job_id, trigger_phases

SHARDS = 2
KEYS_PER_SHARD = 2
PAYLOAD_BYTES = 100
_KEY_W, _SEQ_W, _TS_W = 3, 10, 16

# roundtrip phase: user records per key per cycle, and aggregated
# GetRecords records per shard per micro-batch (~470 user records each at
# the default 51,200-byte aggregate cap, so a full batch is ~7,500 rows and
# a cycle of 8,000 records is one full batch and a small one)
RT_RECORDS_PER_KEY = 2_000
#: untimed full-size cycles on a fresh roundtrip stream before the measured
#: ones: the first also starts the query, and on a cold JVM cycle time
#: falls by a third over the next three, as the JIT compiles the per-batch
#: paths and each of Spark's Python workers imports the library once
RT_SETUP_CYCLES = 3
RT_PAGE = 8
RT_FAIL_RATE = 0.01
#: a batch may hold up to ~0.6 % predicate failures when it is small; the
#: halt threshold sits above that so the DLQ path, not the halt, is measured
TOLERANCE_PCT = 2.0

# tail phase: 2,000 msg/s (the reference's 1,000 msg/s per shard) in
# 200-message ticks every 100 ms
TAIL_RATE = 2_000
TAIL_TICK_MS = 100
TAIL_TRIGGER = "200 milliseconds"
TAIL_WARM_RECORDS_PER_KEY = 100
#: the generator's first seconds are not measured: the new query's first
#: batches read up to twice as long
TAIL_WARM_S = 3
#: a run did not sustain the rate when its generator ran this late at p99,
#: or when the consumer delivered less than this share of the offered rate
#: over the measured seconds. A consumer that keeps up reads 0.8-1.2: batch
#: durations jitter by up to a second when the host is contended, and the
#: estimate spans only a few batches.
TAIL_MAX_LATE_MS = 250.0
TAIL_MIN_DELIVERED = 0.8

LIVE_FORMAT = "kinesis_live"
TRANSPORT = "perfbench.standin:live_transport"


def pick_keys(seed: int) -> list[str]:
    """Seeded partition keys, ``KEYS_PER_SHARD`` routed to each shard."""
    pool = [f"k{n:02d}" for n in range(100)]
    random.Random(seed).shuffle(pool)
    keys: list[str] = []
    for s in range(SHARDS):
        keys += [k for k in pool if shard_for_key(k, SHARDS) == s][:KEYS_PER_SHARD]
    return sorted(keys)


def padding(seed: int) -> str:
    rng = random.Random(seed)
    return "".join(rng.choice(string.ascii_letters) for _ in range(PAYLOAD_BYTES - _KEY_W - _SEQ_W - _TS_W))


def payload(key: str, seq: int, created_us: int, pad: str) -> bytes:
    return f"{key}{seq:0{_SEQ_W}d}{created_us:0{_TS_W}d}{pad}".encode("ascii")


def parse_payloads(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fixed-width payloads → (keys, seqs, created_us) arrays."""
    if not blobs:
        return np.array([], "S3"), np.array([], np.int64), np.array([], np.int64)
    raw = b"".join(blobs)
    if len(raw) != len(blobs) * PAYLOAD_BYTES:
        raise ValueError("payload of unexpected width in the sink output")
    arr = np.frombuffer(raw, np.uint8).reshape(len(blobs), PAYLOAD_BYTES)

    def digits(lo: int, hi: int) -> np.ndarray:
        d = arr[:, lo:hi].astype(np.int64) - 48
        return d @ (10 ** np.arange(hi - lo - 1, -1, -1, dtype=np.int64))

    keys = arr[:, :_KEY_W].copy().view(f"S{_KEY_W}").ravel()
    return keys, digits(_KEY_W, _KEY_W + _SEQ_W), digits(_KEY_W + _SEQ_W, _KEY_W + _SEQ_W + _TS_W)


def read_sink(out_dir: str) -> tuple[list[bytes], list[int]]:
    """Payloads and their ``_batch_id`` from an ``idempotent_foreach_batch``
    parquet directory."""
    import pyarrow.parquet as pq

    blobs: list[bytes] = []
    batch_ids: list[int] = []
    if not os.path.isdir(out_dir):
        return blobs, batch_ids
    for part in sorted(os.listdir(out_dir)):
        if not part.startswith("_batch_id="):
            continue
        bid = int(part.split("=", 1)[1])
        pdir = os.path.join(out_dir, part)
        for name in sorted(os.listdir(pdir)):
            if name.endswith(".parquet"):
                col = pq.read_table(os.path.join(pdir, name), columns=["payload"]).column(0)
                got = col.to_pylist()
                blobs += got
                batch_ids += [bid] * len(got)
    return blobs, batch_ids


def check_exactly_once(keys, seqs, expected: dict[bytes, int]) -> int:
    """Lost plus duplicated (key, seq) pairs against ``expected``
    (key → records 0..n-1)."""
    bad = 0
    for key, n in expected.items():
        s = np.sort(seqs[keys == key])
        uniq = np.unique(s)
        in_range = uniq[(uniq >= 0) & (uniq < n)]
        bad += (n - len(in_range)) + (len(s) - len(uniq)) + (len(uniq) - len(in_range))
    bad += int(np.sum(~np.isin(keys, list(expected))))
    return bad


class TimedSink:
    """The ``foreachBatch`` callable under test — ``tolerant_foreach_batch``
    writing good rows and DLQ rows through two ``idempotent_foreach_batch``
    parquet sinks — with the return time of every call recorded. Traced
    runs also time the tolerance wrapper and its sinks, and count the Spark
    jobs each launches."""

    def __init__(self, run, out_dir: str, fail_every: int | None):
        from pyspark.sql import functions as F

        from reactive_kinesis_spark.streaming.sink import idempotent_foreach_batch
        from reactive_kinesis_spark.streaming.tolerance import tolerant_foreach_batch

        self.run = run
        self.good_dir = os.path.join(out_dir, "good")
        self.dlq_dir = os.path.join(out_dir, "dlq")
        self.returned: dict[int, float] = {}
        self.t = {"tolerance_s": 0.0, "sink_s": 0.0, "jobs_total": 0, "jobs_sink": 0}
        seq = F.substring(F.col("payload").cast("string"), _KEY_W + 1, _SEQ_W).cast("long")
        ok = seq % fail_every != fail_every - 1 if fail_every else seq >= 0
        self._fn = tolerant_foreach_batch(
            ok,
            self._timed("sink.good", idempotent_foreach_batch(self.good_dir)),
            self._timed("sink.dlq", idempotent_foreach_batch(self.dlq_dir)),
            tolerance_pct=TOLERANCE_PCT,
        )

    def _timed(self, name: str, fn):
        def call(df, batch_id):
            if not self.run.trace:
                return fn(df, batch_id)
            j0, t0 = next_job_id(self.run.spark), time.perf_counter()
            with self.run.spans.span(name, batch=batch_id):
                fn(df, batch_id)
            self.t["sink_s"] += time.perf_counter() - t0
            self.t["jobs_sink"] += next_job_id(self.run.spark) - j0

        return call

    def __call__(self, df, batch_id):
        if self.run.trace:
            j0, t0 = next_job_id(self.run.spark), time.perf_counter()
            with self.run.spans.span("tolerance", batch=batch_id):
                self._fn(df, batch_id)
            self.t["tolerance_s"] += time.perf_counter() - t0
            self.t["jobs_total"] += next_job_id(self.run.spark) - j0
        else:
            self._fn(df, batch_id)
        self.returned[batch_id] = time.time()

    def reset(self) -> None:
        """Forget timings and return times recorded so far (warm-up)."""
        self.returned.clear()
        self.t = dict.fromkeys(self.t, 0)

    def latencies_ms(self, batch_ids, created_us) -> np.ndarray:
        ret = np.array([self.returned[b] for b in batch_ids]) * 1000.0
        return ret - created_us / 1000.0


class LiveStream:
    """A stand-in stream with a running ``kinesis_live`` query delivering
    it into a :class:`TimedSink`. Every key's records carry sequence
    numbers ``0 .. next_seq - 1``."""

    def __init__(self, conn: "Connector", tag: str, trigger: str, page: int | None,
                 fail_every: int | None, traced: bool):
        run = conn.run
        self.conn = conn
        self.name = conn.fresh(tag)
        self.fail_every = fail_every
        self.next_seq = 0
        conn.client().create_stream(StreamName=self.name, ShardCount=SHARDS)
        self.sink = TimedSink(run, os.path.join(run.work, "out", self.name), fail_every)
        opts = {
            "streamName": self.name,
            "startingPosition": "trim_horizon",
            "deaggregate": "true",
            "leaseDir": os.path.join(run.work, "lease", self.name),
            "workerId": "perfbench",
            "transport": TRANSPORT,
            "standinRoot": conn.root,
        }
        if page:
            opts["maxRecordsPerBatch"] = str(page)
        if traced:
            opts["standinTrace"] = run.counter_dir
        self.query = (
            run.spark.readStream.format(LIVE_FORMAT).options(**opts).load()
            .writeStream.foreachBatch(self.sink)
            .option("checkpointLocation", os.path.join(run.work, "ckpt", self.name))
            .trigger(processingTime=trigger)
            .start()
        )

    def wait_delivered(self, timeout_s: float = 60.0) -> None:
        """Block until the listener has seen every record written so far."""
        want = self.next_seq * len(self.conn.keys)
        qid = str(self.query.id)
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            got = sum(
                m["value"]
                for m in list(self.conn.run.reporter.metrics)
                if m.get("metric") == "batch_records" and m.get("query_id") == qid
            )
            if got >= want:
                return
            if self.query.exception() is not None or not self.query.isActive:
                break
            time.sleep(0.01)
        raise RuntimeError(f"{self.name}: {want} records not delivered ({self.query.exception()})")

    def stop(self) -> None:
        if self.query.isActive:
            self.query.stop()
            self.query.awaitTermination(60)

    def check(self) -> tuple[int, np.ndarray, np.ndarray, np.ndarray]:
        """(lost + duplicated + misrouted records, seqs, batch ids,
        created µs) over the sink and DLQ output."""
        good, good_b = read_sink(self.sink.good_dir)
        dlq, dlq_b = read_sink(self.sink.dlq_dir)
        keys, seqs, created = parse_payloads(good + dlq)
        failed = check_exactly_once(keys, seqs, {k.encode(): self.next_seq for k in self.conn.keys})
        dlq_seqs = seqs[len(good):]
        if self.fail_every:
            f = self.fail_every
            failed += abs(len(dlq) - len(self.conn.keys) * (self.next_seq // f))
            failed += int(np.sum(dlq_seqs % f != f - 1))
        else:
            failed += len(dlq)
        return failed, seqs, np.asarray(good_b + dlq_b, np.int64), created


class Connector:
    """State shared by both phases within one run."""

    def __init__(self, run):
        self.run = run
        self.keys = pick_keys(run.seed)
        self.pad = padding(run.seed)
        self.root = os.path.join(run.work, "kinesis")
        self.live: LiveStream | None = None
        self._n = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        return f"{tag}-{self._n}"

    def client(self, **kw) -> StandinKinesis:
        return StandinKinesis(self.root, **kw)

    def restart(self, tag: str, trigger: str, page: int | None, fail_every: int | None,
                traced: bool) -> LiveStream:
        if self.live is not None:
            self.live.stop()
        self.live = LiveStream(self, tag, trigger, page, fail_every, traced)
        return self.live

    # -- roundtrip phase -----------------------------------------------------

    def produce(self, live: LiveStream, per_key: int, traced: bool) -> float:
        """``write_batch`` of ``per_key`` records per key; returns its wall
        time."""
        from pyspark.sql import functions as F

        from reactive_kinesis_spark.config import ProducerConfig
        from reactive_kinesis_spark.streaming.aws import Boto3Transport
        from reactive_kinesis_spark.streaming.sink import write_batch

        k = len(self.keys)
        key = F.element_at(F.array(*[F.lit(x) for x in self.keys]), (F.col("id") % k + 1).cast("int"))
        seq = (F.floor(F.col("id") / k) + live.next_seq).cast("long")
        created = F.unix_micros(F.current_timestamp())
        df = self.run.spark.range(per_key * k).select(
            key.alias("partition_key"),
            F.concat(
                key,
                F.lpad(seq.cast("string"), _SEQ_W, "0"),
                F.lpad(created.cast("string"), _TS_W, "0"),
                F.lit(self.pad),
            ).cast("binary").alias("payload"),
        )
        client = self.client(
            fail_rate=RT_FAIL_RATE,
            seed=self.run.seed * 7919 + self._n * 101 + live.next_seq,
            trace_dir=self.run.counter_dir if traced else None,
        )
        t0 = time.perf_counter()
        with self.run.spans.span("sink.write_batch", stream=live.name):
            write_batch(df, ProducerConfig(stream_name=live.name), Boto3Transport(client=client))
        live.next_seq += per_key
        return time.perf_counter() - t0

    def roundtrip_cycle(self, per_key: int, traced: bool = False) -> dict:
        """Write one backlog and wait until the running query delivered it
        (closed loop: the next cycle starts only then)."""
        live = self.live
        first = live.next_seq
        t0 = time.time()
        with self.run.spans.span("cycle", stream=live.name), HostWindow() as host:
            produce_s = self.produce(live, per_key, traced)
            with self.run.spans.span("drain"):
                live.wait_delivered()
        end = max(live.sink.returned.values())
        n = per_key * len(self.keys)
        return {"seqs": (first, live.next_seq), "records": n, "produce_s": produce_s,
                "drain_s": end - t0 - produce_s, "wall_s": end - t0, "host": host}

    # -- tail phase ----------------------------------------------------------

    def put_direct(self, live: LiveStream, per_key: int) -> None:
        """Warm-up records written straight to the stand-in (not timed)."""
        client = self.client()
        now_us = int(time.time() * 1_000_000)
        recs = [
            {"Data": payload(k, s, now_us, self.pad), "PartitionKey": k}
            for s in range(live.next_seq, live.next_seq + per_key)
            for k in self.keys
        ]
        for i in range(0, len(recs), 500):
            client.put_records(StreamName=live.name, Records=recs[i : i + 500])
        client.close()
        live.next_seq += per_key

    def generate(self, live: LiveStream, seconds: int, traced: bool) -> dict:
        """Run the open-loop generator process against ``live`` for
        ``seconds``; returns its statistics."""
        out = os.path.join(self.run.work, f"{live.name}-generator.json")
        cfg = {
            "root": self.root, "stream": live.name, "keys": self.keys, "pad": self.pad,
            "rate": TAIL_RATE, "tick_ms": TAIL_TICK_MS, "seconds": seconds,
            "first_seq": live.next_seq, "out": out,
            "trace_dir": self.run.counter_dir if traced else None,
        }
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.generator", json.dumps(cfg)])
        try:
            proc.wait(timeout=seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(out) as fh:
            gen = json.load(fh)
        gen["first_seq"] = live.next_seq
        live.next_seq += gen["per_key"]
        return gen


def _phase_metrics(run, live: LiveStream) -> dict[str, float]:
    """Per-trigger phases (median per data-bearing batch, and total) of the
    measured batches, from the ``MetricsReporter`` buffer."""
    batches = [
        b for bid, b in trigger_phases(list(run.reporter.metrics), str(live.query.id)).items()
        if bid in live.sink.returned and b.get("rows", 0) > 0
    ]
    out = {
        "live_source.latest_offset_ms": median_or_zero([b.get("latestOffset", 0) for b in batches]),
        "live_source.rows_per_batch": median_or_zero([b["rows"] for b in batches]),
        "live_source.batches": len(batches),
    }
    for phase, name in (
        ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("addBatch", "add_batch"),
    ):
        vals = [b.get(phase, 0) for b in batches]
        out[f"microbatch.{name}_ms"] = median_or_zero(vals)
        out[f"microbatch.{name}_ms_total"] = float(sum(vals))
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _layer_metrics(run, live: LiveStream, before: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics both phases share; stand-in call
    counters are taken as the change since ``before``."""
    out = _phase_metrics(run, live)
    counters = {k: v - before.get(k, 0) for k, v in run.counters().items()}
    t = live.sink.t
    gr = counters.get("get_records_calls", 0)
    entries = counters.get("entries", 0)
    out.update({
        "sink.put_records_calls": counters.get("put_records_calls", 0),
        "sink.entries_failed": counters.get("entries_failed", 0),
        "sink.user_records_per_entry": ratio(counters.get("user_records", 0), entries),
        "consumer_aws.get_records_calls": gr,
        "consumer_aws.get_shard_iterator_calls": counters.get("get_shard_iterator_calls", 0),
        "consumer_aws.records_per_get_records": ratio(counters.get("records_returned", 0), gr),
        "consumer_aws.empty_get_records_calls": counters.get("empty_get_records_calls", 0),
        "consumer_aws.get_records_busy_s": counters.get("get_records_s", 0.0),
        "tolerance.self_s": t["tolerance_s"] - t["sink_s"],
        "tolerance.spark_jobs_per_batch": ratio(t["jobs_total"] - t["jobs_sink"], len(live.sink.returned)),
        "idempotent_sink.write_s": t["sink_s"],
        "checkpoint.bytes": _dir_bytes(os.path.join(run.work, "ckpt", live.name)),
    })
    return out


def delivered_ratio(due_s, delivered_s, start: float, end: float) -> float:
    """Delivered rate ÷ offered rate over ``[start, end]``: the span of due
    times the consumer worked through between its first and last delivery
    in that interval, per second of wall time between the two (records
    arrive at a fixed rate, so due time stands for records). About 1 when
    the consumer keeps up, whatever its latency; 0 when it delivered fewer
    than twice."""
    inside = np.unique(delivered_s[(delivered_s > start) & (delivered_s <= end)])
    if len(inside) < 2:
        return 0.0
    first, last = (due_s[delivered_s <= t].max() for t in (inside[0], inside[-1]))
    return float((last - first) / (inside[-1] - inside[0]))


def rate_sustained(late_ms, due_s, delivered_s, start: float, end: float) -> bool:
    """Whether the tail phase kept its fixed rate: the generator
    sent on time and the consumer delivered what it was offered."""
    return (float(np.percentile(late_ms, 99)) <= TAIL_MAX_LATE_MS
            and delivered_ratio(due_s, delivered_s, start, end) >= TAIL_MIN_DELIVERED)


# -- the kinesis workload ---------------------------------------------------
#
# One run measures both loops, one after the other: the closed-loop
# roundtrip gives ``throughput_per_s``, then the open-loop tail gives the
# latencies on the JVM the roundtrip warmed. Each phase has its own stream
# and query; only one query runs at a time, so the phases do not share the
# cores.


def roundtrip_setup(run, traced: bool = False) -> None:
    """A fresh roundtrip stream and running query, warmed by
    ``RT_SETUP_CYCLES`` untimed full-size cycles."""
    conn = run.state.setdefault("conn", Connector(run))
    conn.restart("rt", "0 seconds", RT_PAGE, 1000, traced)
    for _ in range(RT_SETUP_CYCLES):
        conn.roundtrip_cycle(RT_RECORDS_PER_KEY)


def roundtrip_measure(run, seconds: int, traced: bool) -> dict:
    """Cycles for ``seconds`` (at least three) on the set-up stream;
    throughput is the median quiet cycle's."""
    conn: Connector = run.state["conn"]
    live = conn.live
    live.sink.reset()
    counters0 = run.counters()
    with HostWindow() as host:
        cycles = measure_windows(lambda: conn.roundtrip_cycle(RT_RECORDS_PER_KEY, traced), seconds)
    records = sum(c["records"] for c in cycles)
    layers = _layer_metrics(run, live, counters0) if traced else None
    live.stop()
    failed = live.check()[0]
    out = {
        "attempted": live.next_seq * len(conn.keys),
        "failed": failed,
        "throughput_per_s": median_or_zero([c["records"] / c["wall_s"] for c in quiet(cycles)]),
        "cpu_ms_per_item": host.tree_cpu_s * 1000.0 / records,
        "steal_cores": host.steal_cores,
        "validity": {
            "cycle_s": [c["wall_s"] for c in cycles],
            "batches": len(live.sink.returned),
            "window_steal_cores": [c["host"].steal_cores for c in cycles],
            "quiet_windows": len(quiet(cycles)),
        },
    }
    if traced:
        _, dlq_seqs, _ = parse_payloads(read_sink(live.sink.dlq_dir)[0])
        layers.update({
            "sink.write_batch_s": median_or_zero([c["produce_s"] for c in cycles]),
            "tolerance.rows_dlq": int(np.sum(dlq_seqs >= cycles[0]["seqs"][0])),
            "roundtrip.produce_msgs_per_s": median_or_zero([c["records"] / c["produce_s"] for c in cycles]),
            "roundtrip.drain_msgs_per_s": median_or_zero([c["records"] / c["drain_s"] for c in cycles]),
        })
        out["layers"] = layers
    return out


def tail_setup(run, traced: bool) -> None:
    """A fresh stream and running query for the tail phase, warmed with a
    few records."""
    conn = run.state.setdefault("conn", Connector(run))
    live = conn.restart("tail", TAIL_TRIGGER, None, None, traced)
    conn.put_direct(live, TAIL_WARM_RECORDS_PER_KEY)
    live.wait_delivered()


def tail_measure(run, seconds: int, traced: bool) -> dict:
    """One generator run of ``TAIL_WARM_S + seconds``; the records due in
    its last ``seconds`` are measured."""
    conn: Connector = run.state["conn"]
    live = conn.live
    live.sink.reset()
    counters0 = run.counters()
    with run.spans.span("tail", stream=live.name), HostWindow() as host:
        gen = conn.generate(live, TAIL_WARM_S + seconds, traced)
        live.wait_delivered()
    layers = _layer_metrics(run, live, counters0) if traced else None
    live.stop()
    failed, seqs, batch_ids, created = live.check()
    start = gen["first_due"] + TAIL_WARM_S
    run_mask = seqs >= gen["first_seq"]
    due = created[run_mask] / 1e6
    returned = np.array([live.sink.returned[b] for b in batch_ids[run_mask]])
    measured = due >= start
    lat = live.sink.latencies_ms(batch_ids[run_mask][measured], created[run_mask][measured])
    if not rate_sustained(gen["late_ms"], due, returned, start, gen["end"]):
        failed += 1
    gen_stats = {
        "generator.late_ms_p99": float(np.percentile(gen["late_ms"], 99)),
        "generator.backlog_end_msgs": int(np.sum(returned > gen["end"])),
        "generator.delivered_ratio": delivered_ratio(due, returned, start, gen["end"]),
    }
    out = {
        "attempted": int(measured.sum()),
        "failed": failed,
        "latency_p50_ms": float(np.percentile(lat, 50)),
        "latency_p90_ms": float(np.percentile(lat, 90)),
        "latency_p99_ms": float(np.percentile(lat, 99)),
        "cpu_ms_per_item": host.tree_cpu_s * 1000.0 / len(due),
        "steal_cores": host.steal_cores,
        "validity": dict(gen_stats, batches=len(live.sink.returned)),
    }
    if traced:
        layers.update(gen_stats)
        out["layers"] = layers
    return out


def kinesis_measure(run, seconds: int, traced: bool) -> dict:
    """The roundtrip phase on the set-up stream (a fresh one when traced),
    then the tail phase on a fresh stream. The tail stream's set-up is
    returned as ``setup_s`` (it counts as set-up time). Per-layer metrics of
    the producer come from the roundtrip phase; those of the consumer,
    micro-batch engine and tolerance layers from the tail phase, where
    per-batch cost sets the latency."""
    if traced:
        roundtrip_setup(run, traced)
    rt = roundtrip_measure(run, seconds, traced)
    t0 = time.perf_counter()
    tail_setup(run, traced)
    tail_setup_s = time.perf_counter() - t0
    tail = tail_measure(run, seconds, traced)
    out = {
        "attempted": rt["attempted"] + tail["attempted"],
        "failed": rt["failed"] + tail["failed"],
        "setup_s": tail_setup_s,
        "throughput_per_s": rt["throughput_per_s"],
        "latency_p50_ms": tail["latency_p50_ms"],
        "latency_p90_ms": tail["latency_p90_ms"],
        "latency_p99_ms": tail["latency_p99_ms"],
        "cpu_ms_per_item": rt["cpu_ms_per_item"],
        "validity": {"roundtrip": dict(rt["validity"], steal_cores=rt["steal_cores"]),
                     "tail": dict(tail["validity"], steal_cores=tail["steal_cores"])},
    }
    if traced:
        layers = {k: v for k, v in tail["layers"].items() if not k.startswith("sink.")}
        layers.update((k, v) for k, v in rt["layers"].items()
                      if k.startswith(("sink.", "roundtrip.")) or k == "tolerance.rows_dlq")
        out["layers"] = layers
    return out
