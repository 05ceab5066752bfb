"""Streaming-semantics tests mirroring the reference's integration specs
(SURVEY.md §5): restart-from-checkpoint / no-commit-no-progress
(KinesisSourceGraphStageIntegrationSpec.scala:66-129), tolerate-or-halt
(ConsumerWorkerSpec.scala:302-461), producer round-trip + packing caps
(KinesisSinkGraphStageIntegrationSpec.scala:23-33), deaggregation
(KinesisTestConsumer.scala:83-90), and per-shard contiguity (the
reliability test's pit stops, SimpleKinesisConsumer.scala:99-121)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from reactive_kinesis_spark.config import ConsumerConfig, ProducerConfig
from reactive_kinesis_spark.schemas import EVENT_SCHEMA
from reactive_kinesis_spark.streaming import (
    ToleranceExceededError,
    aggregate_records,
    deaggregate,
    file_stream_source,
    tolerant_foreach_batch,
    with_shard_order,
)
from reactive_kinesis_spark.streaming.checkpoint import (
    graceful_stop,
    has_committed_checkpoint,
    lifecycle_listener,
    run_pipeline,
)
from reactive_kinesis_spark.streaming.deaggregate import pack_records, unpack_records
from reactive_kinesis_spark.streaming.sink import (
    LocalDirTransport,
    TransportError,
    write_batch,
)

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def make_events(spark, n, shards=2, start=0, stream="s1"):
    rows = [
        (
            stream,
            f"shardId-{i % shards:012d}",
            str(i % shards),
            f"{start + i:020d}",
            0,
            str(start + i).encode(),
            T0 + dt.timedelta(seconds=i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA)


# ---------------------------------------------------------------------------
# Checkpoint / restart semantics (C1–C3)
# ---------------------------------------------------------------------------


def test_restart_from_checkpoint_processes_only_remainder(spark, tmp_path):
    src = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    make_events(spark, 10, start=0).write.parquet(src, mode="append")

    seen: list[bytes] = []

    def collect(batch_df, batch_id):
        seen.extend(r.payload for r in batch_df.collect())

    q = run_pipeline(spark, file_stream_source(spark, src), collect, ckpt)
    q.awaitTermination()
    assert sorted(int(p) for p in seen) == list(range(10))
    assert has_committed_checkpoint(ckpt)

    # new data arrives while stopped; restart must process ONLY the remainder
    make_events(spark, 5, start=100).write.parquet(src, mode="append")
    seen.clear()
    q = run_pipeline(spark, file_stream_source(spark, src), collect, ckpt)
    q.awaitTermination()
    assert sorted(int(p) for p in seen) == list(range(100, 105))


def test_no_commit_means_full_replay(spark, tmp_path):
    src = str(tmp_path / "stream")
    make_events(spark, 8).write.parquet(src, mode="append")
    for run in range(2):  # fresh checkpoint dir each run ⇒ full replay
        seen = []
        q = run_pipeline(
            spark,
            file_stream_source(spark, src),
            lambda b, i: seen.extend(r.payload for r in b.collect()),
            str(tmp_path / f"ckpt{run}"),
        )
        q.awaitTermination()
        assert len(seen) == 8


def test_graceful_stop_sub_second_timeout(spark, tmp_path):
    src = str(tmp_path / "stream")
    make_events(spark, 4).write.parquet(src)
    q = run_pipeline(
        spark,
        file_stream_source(spark, src),
        lambda b, i: None,
        str(tmp_path / "ckpt"),
        available_now=False,
    )
    assert q.isActive
    graceful_stop(q, 0.5)
    assert not q.isActive


def test_lifecycle_listener_reports_start_and_termination(spark, tmp_path):
    """Start ↔ worker init, clean stop ↔ ConsumerShutdown (no exception),
    a failing batch ↔ ConsumerWorkerFailure (its exception)."""
    import time

    started: list[str] = []
    terminated: dict[str, str | None] = {}
    listener = lifecycle_listener(
        on_started=started.append,
        on_terminated=lambda qid, exc: terminated.__setitem__(qid, exc),
    )
    src = str(tmp_path / "stream")
    make_events(spark, 4).write.parquet(src)

    def boom(batch_df, batch_id):
        raise RuntimeError("boom-in-batch")

    spark.streams.addListener(listener)
    try:
        ok = run_pipeline(
            spark, file_stream_source(spark, src), lambda b, i: None, str(tmp_path / "c1")
        )
        ok.awaitTermination()
        failing = run_pipeline(
            spark, file_stream_source(spark, src), boom, str(tmp_path / "c2")
        )
        with pytest.raises(Exception, match="boom-in-batch"):
            failing.awaitTermination()
        deadline = time.time() + 30  # listener events arrive asynchronously
        while len(terminated) < 2 and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert sorted(started) == sorted([ok.id, failing.id])
    assert set(terminated) == {ok.id, failing.id}
    assert terminated[ok.id] is None
    assert "boom-in-batch" in terminated[failing.id]


# ---------------------------------------------------------------------------
# Tolerate-or-halt (B3–B5)
# ---------------------------------------------------------------------------


def test_tolerance_within_budget_diverts_to_dlq(spark):
    df = make_events(spark, 100)
    good_rows, dlq_rows = [], []
    fn = tolerant_foreach_batch(
        ok=F.col("payload").cast("string").cast("int") != 13,
        process=lambda b, i: good_rows.extend(b.collect()),
        dlq=lambda b, i: dlq_rows.extend(b.collect()),
        tolerance_pct=1.0,
    )
    fn(df, 0)
    assert len(good_rows) == 99
    assert [bytes(r.payload) for r in dlq_rows] == [b"13"]


def test_tolerance_exceeded_halts(spark):
    df = make_events(spark, 100)
    calls = []
    fn = tolerant_foreach_batch(
        ok=F.col("payload").cast("string").cast("int") >= 10,  # 10% bad
        process=lambda b, i: calls.append("process"),
        dlq=lambda b, i: calls.append("dlq"),
        tolerance_pct=0.25,
    )
    with pytest.raises(ToleranceExceededError) as ei:
        fn(df, 7)
    assert ei.value.failed == 10
    assert ei.value.batch_id == 7
    assert calls == []  # the halt comes before either sink runs


def _jobs_before_first_sink(spark, ok):
    """Spark jobs one ``tolerant_foreach_batch`` call launches before its
    first sink (DLQ or process) runs."""

    def next_job_id():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    df = make_events(spark, 100)
    at_sink = []

    def sink(b, i):
        if not at_sink:
            at_sink.append(next_job_id())

    fn = tolerant_foreach_batch(ok=ok, process=sink, dlq=sink, tolerance_pct=100.0)
    j0 = next_job_id()
    fn(df, 0)
    return at_sink[0] - j0


def test_tolerance_round_is_one_spark_job(spark):
    seq = F.col("payload").cast("string").cast("int")
    assert _jobs_before_first_sink(spark, seq >= 0) == 1  # no failures
    # a deterministic predicate is never retried: a retry cannot promote a row
    assert _jobs_before_first_sink(spark, seq != 13) == 1
    assert _jobs_before_first_sink(spark, F.rand(7) < 0.9) == 2  # one retry round


def test_tolerance_deterministic_predicate_retry_changes_nothing(spark):
    df = make_events(spark, 100)
    ok = F.col("payload").cast("string").cast("int") % 10 != 3

    def split(retries):
        good, dlq = [], []
        tolerant_foreach_batch(
            ok=ok,
            process=lambda b, i: good.extend(b.collect()),
            dlq=lambda b, i: dlq.extend(b.collect()),
            tolerance_pct=100.0,
            failed_message_retries=retries,
        )(df, 0)
        return sorted(good), sorted(dlq)

    good, dlq = split(1)
    assert (good, dlq) == split(0)
    assert len(good) == 90 and len(dlq) == 10


def test_tolerance_sinks_share_the_query_job_group(spark, tmp_path):
    # the DLQ sink runs on a helper thread: its jobs must still belong to
    # the streaming query's job group, as the process sink's do
    src = tmp_path / "src"
    make_events(spark, 100).write.parquet(str(src))
    groups = {}

    def sink(name):
        def call(b, i):
            groups[name] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            b.count()

        return call

    fn = tolerant_foreach_batch(
        ok=F.col("payload").cast("string").cast("int") != 13,
        process=sink("process"),
        dlq=sink("dlq"),
        tolerance_pct=100.0,
    )
    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(str(src))
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    assert q.exception() is None
    assert groups == {"process": str(q.runId), "dlq": str(q.runId)}


def test_tolerance_dlq_error_fails_batch_after_both_sinks(spark):
    import threading
    import time

    class DlqDown(RuntimeError):
        pass

    df = make_events(spark, 100)
    events = []

    def process(b, i):
        time.sleep(0.5)
        events.append("process returned")

    def dlq(b, i):
        events.append("dlq raised")
        raise DlqDown("dlq sink unavailable")

    fn = tolerant_foreach_batch(
        ok=F.col("payload").cast("string").cast("int") != 13,
        process=process,
        dlq=dlq,
        tolerance_pct=100.0,
    )
    threads = threading.active_count()
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(DlqDown):
        fn(df, 0)
    # the sinks ran side by side, and the error waited for process
    assert events == ["dlq raised", "process returned"]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    assert threading.active_count() == threads


def test_tolerance_random_predicate_splits_batch_exactly(spark):
    # a non-deterministic predicate: every row lands in exactly one sink
    df = make_events(spark, 200)
    good, dlq = [], []
    fn = tolerant_foreach_batch(
        ok=F.rand(7) < 0.5,
        process=lambda b, i: good.extend(r.sequence_number for r in b.collect()),
        dlq=lambda b, i: dlq.extend(r.sequence_number for r in b.collect()),
        tolerance_pct=100.0,
    )
    fn(df, 0)
    assert good and dlq
    assert len(set(good)) == len(good) and len(set(dlq)) == len(dlq)
    assert not set(good) & set(dlq)
    assert sorted(good + dlq) == [f"{i:020d}" for i in range(200)]


def test_tolerance_empty_batch_passes_through(spark):
    empty = [
        make_events(spark, 0),
        spark.createDataFrame(spark.sparkContext.emptyRDD(), EVENT_SCHEMA),
    ]
    for df in empty:
        seen = []
        fn = tolerant_foreach_batch(
            ok=F.col("payload").isNotNull(),
            process=lambda b, i: seen.append(("process", b.count())),
            dlq=lambda b, i: seen.append(("dlq", b.count())),
        )
        fn(df, 0)
        assert seen == [("process", 0)]


def _flaky_predicate(marker_dir: str):
    """Boolean UDF that fails the FIRST evaluation of each multiple-of-5
    payload and succeeds afterwards — a transient per-record failure
    (the retry matrix the reference exercises in
    ConsumerWorkerSpec.scala:302-461)."""
    import os

    from pyspark.sql.functions import udf

    def f(v: str) -> bool:
        if int(v) % 5 != 0:
            return True
        p = os.path.join(marker_dir, v)
        if os.path.exists(p):
            return True
        open(p, "w").close()
        return False

    return udf(f, "boolean").asNondeterministic()


def test_tolerance_retry_recovers_transient_failures(spark, tmp_path):
    # 4/20 rows fail on first evaluation (>> 0.25% tolerance) but succeed on
    # the in-batch retry: the batch must commit with ZERO dlq rows
    # (reference consumer/ConsumerWorker.scala:385-394 retries unconfirmed
    # events failed-message-retries times before tolerance accounting)
    marker = tmp_path / "attempts"
    marker.mkdir()
    flaky = _flaky_predicate(str(marker))
    df = make_events(spark, 20)
    good, dlq = [], []
    fn = tolerant_foreach_batch(
        ok=flaky(F.col("payload").cast("string")),
        process=lambda b, i: good.extend(b.collect()),
        dlq=lambda b, i: dlq.extend(b.collect()),
        tolerance_pct=0.25,
        failed_message_retries=1,
    )
    fn(df, 0)
    assert len(good) == 20 and len(dlq) == 0


def test_tolerance_no_retries_halts_on_transient_failures(spark, tmp_path):
    # same flaky batch with the retry budget at 0: 4/20 = 20% > 0.25% ⇒ halt
    marker = tmp_path / "attempts"
    marker.mkdir()
    flaky = _flaky_predicate(str(marker))
    df = make_events(spark, 20)
    fn = tolerant_foreach_batch(
        ok=flaky(F.col("payload").cast("string")),
        process=lambda b, i: None,
        tolerance_pct=0.25,
        failed_message_retries=0,
    )
    with pytest.raises(ToleranceExceededError) as ei:
        fn(df, 3)
    assert ei.value.failed == 4


def test_tolerance_null_predicate_counts_failed(spark):
    df = make_events(spark, 4).withColumn(
        "maybe", F.when(F.col("payload").cast("string") == "0", F.lit(None)).otherwise(F.lit(True))
    )
    good, dlq = [], []
    fn = tolerant_foreach_batch(
        ok=F.col("maybe"),
        process=lambda b, i: good.extend(b.collect()),
        dlq=lambda b, i: dlq.extend(b.collect()),
        tolerance_pct=50.0,
    )
    fn(df, 0)
    assert len(good) == 3 and len(dlq) == 1


# ---------------------------------------------------------------------------
# Aggregation / deaggregation (O2/O3)
# ---------------------------------------------------------------------------


def test_pack_unpack_roundtrip():
    recs = [("k1", b"a"), ("k1", b"bb"), ("k2", b"\x00\xff")]
    assert unpack_records(pack_records(recs)) == recs


def test_unpack_passthrough_for_plain_record():
    assert unpack_records(b"plain-bytes") == [("", b"plain-bytes")]


def test_aggregate_then_deaggregate_dataframe_roundtrip(spark):
    df = make_events(spark, 50, shards=2)
    agg = aggregate_records(df, max_count=7, max_size=51_200)
    n_agg = agg.count()
    assert n_agg < 50  # actually packed
    back = deaggregate(agg)
    got = sorted((r.partition_key, bytes(r.payload)) for r in back.collect())
    want = sorted((r.partition_key, bytes(r.payload)) for r in df.collect())
    assert got == want
    # sub-sequence numbers are 0..k-1 within each aggregated record
    subs = [r.sub_sequence_number for r in back.collect()]
    assert min(subs) == 0 and max(subs) >= 1


def test_deaggregate_assigns_contiguous_subsequences(spark):
    df = make_events(spark, 12, shards=1)
    agg = aggregate_records(df, max_count=100)
    back = deaggregate(agg).collect()
    by_seq = {}
    for r in back:
        by_seq.setdefault(r.sequence_number, []).append(r.sub_sequence_number)
    for seq, subs in by_seq.items():
        assert sorted(subs) == list(range(len(subs)))


# ---------------------------------------------------------------------------
# Producer sink (S3–S6, T1/T2)
# ---------------------------------------------------------------------------


def test_sink_roundtrip_all_records_delivered(spark, tmp_path):
    df = make_events(spark, 200, shards=4)
    transport = LocalDirTransport(str(tmp_path / "out"))
    conf = ProducerConfig(stream_name="s1", aggregation_enabled=True, aggregation_max_count=10)
    write_batch(df, conf, transport)
    got = []
    for pk, blob in transport.read_back():
        got.extend(unpack_records(blob))
    assert sorted(int(d) for _, d in got) == list(range(200))


def test_sink_respects_collection_caps(spark, tmp_path):
    df = make_events(spark, 300, shards=1)
    out = tmp_path / "out"
    transport = LocalDirTransport(str(out))
    conf = ProducerConfig(
        stream_name="s1", aggregation_enabled=False, collection_max_count=50
    )
    write_batch(df, conf, transport)
    import json as _json

    for f in out.iterdir():
        n_lines = sum(1 for line in f.read_text().splitlines() if line.strip())
        assert n_lines <= 50
    got = [int(d) for _, d in transport.read_back()]
    assert sorted(got) == list(range(300))


def test_sink_fails_after_ttl_on_persistent_transport_failure(spark, tmp_path):
    df = make_events(spark, 10, shards=1)
    transport = LocalDirTransport(str(tmp_path / "out"), fail_pks=("0",))
    conf = ProducerConfig(stream_name="s1", aggregation_enabled=False, record_ttl_millis=200)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        write_batch(df, conf, transport)
    assert "RecordTtl" in str(ei.value) or "TransportError" in str(ei.value)


def test_bounded_sender_never_exceeds_max_outstanding():
    """In-flight requests stay ≤ max_outstanding while sends run
    concurrently (reference KinesisSinkGraphStageSpec.scala:82-91:
    'does not produce more than maxOutstanding unacked messages')."""
    import threading
    import time as _time

    from reactive_kinesis_spark.streaming.sink import BoundedSender

    lock = threading.Lock()
    inflight = 0
    seen_max = 0
    sent = []

    def slow_send(entries):
        nonlocal inflight, seen_max
        with lock:
            inflight += 1
            seen_max = max(seen_max, inflight)
        _time.sleep(0.05)
        with lock:
            inflight -= 1
            sent.append(entries)

    sender = BoundedSender(slow_send, max_outstanding=4)
    for i in range(20):
        sender.submit([(str(i), b"x")])
    sender.close()
    assert len(sent) == 20
    assert seen_max <= 4  # the throttle bound
    assert seen_max >= 2  # and sends genuinely overlapped


def test_bounded_sender_propagates_send_failure():
    from reactive_kinesis_spark.streaming.sink import BoundedSender, TransportError

    def failing_send(entries):
        raise TransportError("boom")

    sender = BoundedSender(failing_send, max_outstanding=2)
    with pytest.raises(TransportError):
        sender.submit([("0", b"x")])
        sender.close()


def test_bounded_sender_abort_reclaims_pool_without_raising():
    """The error path (task failing for any reason mid-partition) must
    reclaim the sender: queued requests cancelled, pool shut down, no
    secondary exception masking the original — and no thread left calling
    the transport after the task has failed (it would race the retry)."""
    import threading

    from reactive_kinesis_spark.streaming.sink import BoundedSender, TransportError

    release = threading.Event()
    calls = []

    def slow_failing_send(entries):
        calls.append(entries)
        release.wait(5)
        raise TransportError("boom")

    sender = BoundedSender(slow_failing_send, max_outstanding=2)
    sender.submit([("0", b"x")])
    sender.submit([("1", b"y")])
    release.set()
    sender.abort()  # must not raise despite failed sends
    assert not sender._inflight
    assert sender._pool._shutdown
    n_after_abort = len(calls)
    import time as _time

    _time.sleep(0.2)
    assert len(calls) == n_after_abort  # no zombie thread still sending


def test_sink_concurrent_roundtrip_all_records_delivered(spark, tmp_path):
    # bounded-concurrency path (max_outstanding > 1): every record still
    # delivered exactly once per send, collection caps still honored
    df = make_events(spark, 200, shards=2)
    transport = LocalDirTransport(str(tmp_path / "out"))
    conf = ProducerConfig(
        stream_name="s1", aggregation_enabled=False, collection_max_count=10
    )
    write_batch(df, conf, transport, max_outstanding=3)
    got = [int(d) for _, d in transport.read_back()]
    assert sorted(got) == list(range(200))


def test_streaming_sink_end_to_end(spark, tmp_path):
    src = str(tmp_path / "stream")
    make_events(spark, 40, shards=2).write.parquet(src, mode="append")
    transport = LocalDirTransport(str(tmp_path / "sunk"))
    conf = ProducerConfig(stream_name="s1", aggregation_max_count=8)
    from reactive_kinesis_spark.streaming.sink import kinesis_like_sink

    q = kinesis_like_sink(
        file_stream_source(spark, src), conf, transport, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination()
    got = []
    for pk, blob in transport.read_back():
        got.extend(unpack_records(blob))
    assert sorted(int(d) for _, d in got) == list(range(40))


# ---------------------------------------------------------------------------
# Ordering / contiguity (O1 + reliability-test analog)
# ---------------------------------------------------------------------------


def test_per_shard_contiguity_soak(spark):
    """Pit-stop check: sequential payloads per shard arrive gap-free and
    duplicate-free after a shuffle + reorder (SimpleKinesisConsumer
    .scala:99-121 analog, scaled down)."""
    n, shards = 10_000, 4
    df = make_events(spark, n, shards=shards).repartition(16)  # scramble
    ordered = with_shard_order(df)
    per_shard = (
        ordered.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("sequence_number").alias("dcnt"),
            F.min(F.col("payload").cast("string").cast("long")).alias("lo"),
            F.max(F.col("payload").cast("string").cast("long")).alias("hi"),
        )
        .collect()
    )
    assert len(per_shard) == shards
    for r in per_shard:
        assert r.cnt == r.dcnt == n // shards  # no dups
        # payloads are i where i % shards == shard index ⇒ arithmetic check
        assert (r.hi - r.lo) // shards + 1 == r.cnt  # no gaps
    # shard_seq is 1..cnt contiguous per shard
    ranks = ordered.groupBy("shard_id").agg(
        F.min("shard_seq").alias("mn"), F.max("shard_seq").alias("mx"), F.count("*").alias("c")
    )
    for r in ranks.collect():
        assert r.mn == 1 and r.mx == r.c


# ---------------------------------------------------------------------------
# Config resolution (U1/U2)
# ---------------------------------------------------------------------------


def test_consumer_config_fallback_resolution():
    cfg = {
        "default-consumer": {
            "initial_position": "AT_TIMESTAMP",
            "at_timestamp": "1700000000",
            "max_records": 5000,
            "transport": "localdir",
        },
        "my-consumer": {"stream_name": "s1", "max_records": 100},
    }
    c = ConsumerConfig.from_dict(cfg, "my-consumer")
    assert c.stream_name == "s1"
    assert c.max_records == 100  # named block wins
    assert c.initial_position == "AT_TIMESTAMP"  # fallback applies
    assert c.extra_options == {"transport": "localdir"}  # non-field keys pass through
    # kinesis_live's option names (streaming/live_source.py)
    assert c.reader_options() == {
        "streamName": "s1",
        "startingPosition": "at_timestamp",
        "startingTimestamp": "1700000000",
        "maxRecordsPerBatch": "100",
        "transport": "localdir",
    }


def test_producer_config_from_dict_rejects_unknown_keys():
    """Every field resolves through from_dict (named block over the
    default block); a key that is not a field raises and names the key —
    a setting the engine would not act on is never carried silently."""
    values = {
        "aggregation_enabled": False,
        "aggregation_max_count": 1000,
        "aggregation_max_size": 40_000,
        "collection_max_count": 123,
        "collection_max_size": 1_000_000,
        "max_outstanding_requests": 7,
        "record_ttl_millis": 12_345,
        "kinesis_endpoint": "localhost",
        "kinesis_port": 4567,
        "region": "us-east-1",
        "connect_timeout_millis": 1111,
        "request_timeout_millis": 2222,
        "max_connections": 9,
        "verify_certificate": False,
        "credentials_provider": "profile-a",
        "metrics_granularity": "stream",
        "metrics_level": "summary",
        "metrics_namespace": "MyNS",
        "metrics_upload_delay_millis": 30_000,
    }
    cfg = {
        "default-producer": {**values, "region": "eu-west-1"},
        "p": {"stream_name": "s2", "region": "us-east-1"},
    }
    p = ProducerConfig.from_dict(cfg, "p")
    assert p.stream_name == "s2"
    for k, v in values.items():
        assert getattr(p, k) == v, k
    cfg = {
        "default-producer": {"rate_limit_percent": 150},
        "p": {"stream_name": "s2"},
    }
    with pytest.raises(TypeError, match="rate_limit_percent"):
        ProducerConfig.from_dict(cfg, "p")
    with pytest.raises(ValueError, match="missing stream_name"):
        ProducerConfig.from_dict({"p": {"region": "us-east-1"}}, "p")


def test_every_config_field_is_read_by_the_engine():
    """Each ConsumerConfig/ProducerConfig field is read as an attribute
    (``.<name>``) somewhere in the package; a field nothing reads is a
    setting that silently does nothing."""
    import dataclasses
    import pathlib
    import re

    import reactive_kinesis_spark

    root = pathlib.Path(reactive_kinesis_spark.__file__).parent
    source = "\n".join(p.read_text() for p in sorted(root.rglob("*.py")))
    unread = [
        f"{cls.__name__}.{f.name}"
        for cls in (ConsumerConfig, ProducerConfig)
        for f in dataclasses.fields(cls)
        if not re.search(rf"\.{f.name}\b", source)
    ]
    assert unread == []


def test_idempotent_sink_replay_produces_no_duplicates(spark, tmp_path):
    """At-least-once foreachBatch + batch-id overwrite = exactly-once
    output: simulate a crash-replay by invoking the same batchId twice
    (with partial first output), then a second batch."""
    from reactive_kinesis_spark.streaming.sink import idempotent_foreach_batch

    out = str(tmp_path / "out")
    sinkfn = idempotent_foreach_batch(out)

    b0 = make_events(spark, 10)
    sinkfn(b0.limit(6), 0)   # partial write before simulated crash
    sinkfn(b0, 0)            # replay of the SAME batch id
    sinkfn(make_events(spark, 5, start=100), 1)

    got = spark.read.parquet(out)
    assert got.count() == 15  # 10 + 5, no duplicates from the replay
    seqs = sorted(r.sequence_number for r in got.collect())
    assert seqs == sorted(
        [f"{i:020d}" for i in range(10)] + [f"{100+i:020d}" for i in range(5)]
    )


def test_idempotent_sink_replay_replaces_sub_partitions(spark, tmp_path):
    """A replay whose batch lacks a sub-partition the first attempt wrote
    must not leave that sub-partition's rows behind."""
    from reactive_kinesis_spark.streaming.sink import idempotent_foreach_batch

    out = str(tmp_path / "out")
    sinkfn = idempotent_foreach_batch(out, partition_by=("shard_id",))

    b0 = make_events(spark, 10, shards=2)
    sinkfn(b0, 0)  # first attempt: both shards
    sinkfn(b0.where(F.col("shard_id") == f"shardId-{0:012d}"), 0)  # replay: shard 0 only
    sinkfn(make_events(spark, 4, shards=2, start=100), 1)

    got = spark.read.parquet(out)
    assert "_batch_id" in got.columns and "shard_id" in got.columns
    rows = sorted((r._batch_id, r.shard_id, r.sequence_number) for r in got.collect())
    assert rows == sorted(
        [(0, f"shardId-{0:012d}", f"{i:020d}") for i in range(0, 10, 2)]
        + [(1, f"shardId-{i % 2:012d}", f"{100 + i:020d}") for i in range(4)]
    )


def test_idempotent_sink_end_to_end_streaming(spark, tmp_path):
    from reactive_kinesis_spark.streaming.sink import idempotent_foreach_batch

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    make_events(spark, 20).write.parquet(src, mode="append")
    q = (
        file_stream_source(spark, src)
        .writeStream.foreachBatch(idempotent_foreach_batch(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 20


def test_rate_stream_source_produces_event_schema(spark, tmp_path):
    from reactive_kinesis_spark.streaming import rate_stream_source

    df = rate_stream_source(spark, rows_per_second=500, num_shards=2)
    assert df.isStreaming
    # literal-derived columns are non-nullable — stricter is fine; the
    # contract is names + types
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in EVENT_SCHEMA.fields
    ]
    q = (
        df.writeStream.format("memory")
        .queryName("rate_src")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 30
        n = 0
        while _t.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_src").collect()[0].n
            if n >= 100:
                break
            _t.sleep(0.5)
        assert n >= 100
        rows = spark.sql("SELECT * FROM rate_src LIMIT 50").collect()
        assert {r.shard_id for r in rows} <= {"shardId-000000000000", "shardId-000000000001"}
        assert all(r.payload == r.sequence_number.lstrip("0").encode() or
                   int(r.payload) == int(r.sequence_number) for r in rows)
    finally:
        q.stop()


def test_producer_config_defaults_match_kpl_defaults():
    """Defaults mirror the public KPL defaults (reference.conf:57-395)."""
    conf = ProducerConfig(stream_name="s")
    assert conf.aggregation_enabled is True
    assert conf.aggregation_max_count == 4_294_967_295
    assert conf.aggregation_max_size == 51_200
    assert conf.collection_max_count == 500
    assert conf.collection_max_size == 5_242_880
    assert conf.connect_timeout_millis == 6_000
    assert conf.request_timeout_millis == 6_000
    assert conf.kinesis_port == 443
    assert conf.max_connections == 24
    assert conf.record_ttl_millis == 30_000
    assert conf.metrics_granularity == "shard"
    assert conf.metrics_level == "detailed"
    assert conf.metrics_namespace == "KinesisProducerLibrary"
    assert conf.metrics_upload_delay_millis == 60_000
    assert conf.verify_certificate is True
    # unset optionals: public regional endpoint, default credential chain,
    # strict sequential send
    assert conf.kinesis_endpoint is None
    assert conf.region is None
    assert conf.credentials_provider is None
    assert conf.max_outstanding_requests is None


def test_producer_config_rejects_invalid_enums_and_caps():
    with pytest.raises(ValueError, match="metrics_level"):
        ProducerConfig(stream_name="s", metrics_level="verbose")
    with pytest.raises(ValueError, match="metrics_granularity"):
        ProducerConfig(stream_name="s", metrics_granularity="galaxy")
    with pytest.raises(ValueError, match="collection_max_count"):
        ProducerConfig(stream_name="s", collection_max_count=501)
