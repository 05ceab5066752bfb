"""MetricsReporter — the engine analog of the reference's CloudWatch
metrics levels/granularity (reference.conf:204-260) and the reliability
test's records/sec pit-stop log (SimpleKinesisConsumer.scala:207-217).

Level/granularity semantics are pinned against synthetic progress events
(exact, no streaming timing); one integration test drives a real
kinesis_replay query and asserts per-batch metrics arrive, including the
per-shard series derived from the source's shard offset maps.
"""

from __future__ import annotations

import time
from types import SimpleNamespace

import pytest

from reactive_kinesis_spark.config import ProducerConfig
from reactive_kinesis_spark.streaming.metrics import MetricsReporter


def _started(qid="q1"):
    return SimpleNamespace(id=qid, runId="r1", name="q")


def _progress(qid="q1", batch=3, rows=100, shards=True):
    return SimpleNamespace(
        progress=SimpleNamespace(
            id=qid,
            batchId=batch,
            numInputRows=rows,
            inputRowsPerSecond=10.0,
            processedRowsPerSecond=12.5,
            durationMs={"triggerExecution": 50, "addBatch": 40},
            stateOperators=[SimpleNamespace(numRowsTotal=7, numRowsUpdated=2)],
            eventTime={"watermark": "2026-01-01T00:00:00.000Z"},
            sources=[
                SimpleNamespace(
                    description="kinesis_replay[path=/x]",
                    numInputRows=rows,
                    startOffset='{"shard-0": 0, "shard-1": 10}' if shards else None,
                    endOffset='{"shard-0": 60, "shard-1": 50}' if shards else "123",
                )
            ],
        )
    )


def _names(r):
    return [m["metric"] for m in r.metrics]


def test_level_none_emits_nothing():
    r = MetricsReporter(level="none")
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress())
    assert r.metrics == []


def test_level_summary_emits_counts_but_no_durations():
    r = MetricsReporter(level="summary", granularity="global")
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress())
    assert _names(r) == ["batch_records"]
    m = r.metrics[0]
    assert m["value"] == 100
    assert m["input_rows_per_sec"] == 10.0
    assert m["processed_rows_per_sec"] == 12.5
    assert m["namespace"] == "KinesisProducerLibrary"


def test_level_detailed_adds_durations_state_watermark():
    r = MetricsReporter(level="detailed", granularity="global")
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress())
    names = _names(r)
    assert names == ["batch_records", "batch_duration_ms", "state_rows", "watermark"]
    dur = r.metrics[1]
    assert dur["value"] == 50 and dur["durations_ms"] == {
        "triggerExecution": 50,
        "addBatch": 40,
    }
    assert r.metrics[2]["value"] == 7 and r.metrics[2]["updated"] == 2


def test_granularity_ladder_global_stream_shard():
    """The reference's granularity contract (reference.conf:204-229): shard
    ⊃ stream ⊃ global — per-shard series only at 'shard', per-stream only
    at 'stream' or finer."""
    by_gran = {}
    for gran in ("global", "stream", "shard"):
        r = MetricsReporter(level="summary", granularity=gran)
        r.onQueryStarted(_started())
        r.onQueryProgress(_progress())
        by_gran[gran] = _names(r)
    assert by_gran["global"] == ["batch_records"]
    assert by_gran["stream"] == ["batch_records", "stream_records"]
    assert by_gran["shard"] == [
        "batch_records",
        "stream_records",
        "shard_position",
        "shard_position",
    ]


def test_shard_metrics_carry_positions_and_numeric_deltas():
    r = MetricsReporter(level="summary", granularity="shard")
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress())
    shard = {m["shard_id"]: m for m in r.metrics if m["metric"] == "shard_position"}
    assert shard["shard-0"]["position"] == 60 and shard["shard-0"]["value"] == 60
    assert shard["shard-1"]["position"] == 50 and shard["shard-1"]["value"] == 40
    assert shard["shard-0"]["stream"] == "kinesis_replay[path=/x]"


def test_non_dict_offsets_skip_shard_series():
    r = MetricsReporter(level="summary", granularity="shard")
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress(shards=False))
    assert _names(r) == ["batch_records", "stream_records"]


def test_pitstop_every_upload_delay():
    clock = SimpleNamespace(t=1000.0)
    r = MetricsReporter(
        level="summary",
        granularity="global",
        upload_delay_millis=10_000,
        clock=lambda: clock.t,
    )
    r.onQueryStarted(_started())
    for batch in range(8):
        clock.t += 4.0  # 4s per batch, 10s delay → pits at +12s and +24s
        r.onQueryProgress(_progress(batch=batch, rows=100))
    pits = [m for m in r.metrics if m["metric"] == "pitstop_records_per_sec"]
    assert len(pits) == 2
    assert pits[0]["total_records"] == 300
    assert pits[0]["value"] == pytest.approx(300 / 12.0, rel=1e-6)
    assert pits[1]["total_records"] == 600
    assert pits[1]["value"] == pytest.approx(600 / 24.0, rel=1e-6)


def test_terminated_emits_final_rollup():
    clock = SimpleNamespace(t=0.0)
    r = MetricsReporter(level="summary", granularity="global", clock=lambda: clock.t)
    r.onQueryStarted(_started())
    clock.t = 10.0
    r.onQueryProgress(_progress(rows=500))
    r.onQueryTerminated(SimpleNamespace(id="q1", runId="r1", exception=None))
    final = r.metrics[-1]
    assert final["metric"] == "query_terminated"
    assert final["total_records"] == 500
    assert final["records_per_sec"] == 50.0


def test_from_config_honors_typed_knobs_and_validation():
    conf = ProducerConfig(
        stream_name="s",
        metrics_level="summary",
        metrics_granularity="stream",
        metrics_namespace="MyApp",
        metrics_upload_delay_millis=5_000,
    )
    r = MetricsReporter.from_config(conf)
    assert (r.level, r.granularity, r.namespace, r.upload_delay_millis) == (
        "summary",
        "stream",
        "MyApp",
        5_000,
    )
    with pytest.raises(ValueError, match="not one of"):
        MetricsReporter(level="verbose")
    with pytest.raises(ValueError, match="not one of"):
        MetricsReporter(granularity="region")


def test_custom_emit_sink_receives_metrics():
    sink: list[dict] = []
    r = MetricsReporter(level="summary", granularity="global", emit=sink.append)
    r.onQueryStarted(_started())
    r.onQueryProgress(_progress())
    assert len(sink) == 1 and r.metrics == []  # custom sink, not the buffer


def test_drain_loses_nothing_appended_concurrently():
    """The listener-bus thread appends while a caller drains: every metric
    is either returned by some drain or still buffered, never dropped."""
    import sys
    import threading

    r = MetricsReporter()
    n = 200_000
    done = threading.Event()

    def listener_bus():
        for i in range(n):
            r._emit({"i": i})
        done.set()

    drained: list[dict] = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, so the race shows
    try:
        t = threading.Thread(target=listener_bus)
        t.start()
        while not done.is_set():
            drained.extend(r.drain())
        t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive()
    got = [m["i"] for m in drained + r.metrics]
    assert got == list(range(n))


def test_real_streaming_query_emits_per_batch_and_shard_metrics(spark, tmp_path):
    """Integration: a real kinesis_replay query with the reporter attached
    emits batch_records / stream_records / shard_position series, and the
    per-shard numeric deltas sum to the records delivered."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from reactive_kinesis_spark.streaming.replay_source import register_replay_source

    register_replay_source(spark)
    n, shards = 2_000, 2
    src = tmp_path / "src"
    src.mkdir()
    df = spark.range(n).select(
        F.lit("m").alias("stream_name"),
        F.concat(F.lit("shard-"), (F.col("id") % shards).cast("string")).alias("shard_id"),
        (F.col("id") % shards).cast("string").alias("partition_key"),
        F.lpad((F.col("id") / shards).cast("long").cast("string"), 20, "0").alias(
            "sequence_number"
        ),
        F.lit(0).cast("long").alias("sub_sequence_number"),
        F.col("id").cast("string").cast("binary").alias("payload"),
        F.current_timestamp().alias("approximate_arrival_timestamp"),
    )
    for s in range(shards):
        stage = str(tmp_path / f"stage_{s}")
        (df.where(F.col("shard_id") == f"shard-{s}").coalesce(1)
           .orderBy("sequence_number").write.parquet(stage))
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), str(src / f"shard-{s}.parquet"))
        shutil.rmtree(stage)

    reporter = MetricsReporter(level="detailed", granularity="shard").attach(spark)
    try:
        # paged (maxRecordsPerBatch) → several micro-batches, so both the
        # first-batch (null startOffset) and cross-batch delta paths run
        q = (
            spark.readStream.format("kinesis_replay")
            .option("path", str(src))
            .option("maxRecordsPerBatch", 250)
            .option("cursorPath", str(tmp_path / "cursor.json"))
            .load()
            .writeStream.format("memory")
            .queryName("metrics_e2e")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            done = spark.sql("SELECT count(*) c FROM metrics_e2e").collect()[0].c
            if done >= n:
                break
            time.sleep(0.1)
        q.stop()
        q.awaitTermination()
        deadline = time.time() + 30
        while time.time() < deadline:
            got = sum(m["value"] for m in reporter.metrics
                      if m["metric"] == "batch_records")
            if got >= n:
                break
            time.sleep(0.2)
    finally:
        reporter.detach(spark)

    names = {m["metric"] for m in reporter.metrics}
    assert {"batch_records", "batch_duration_ms", "stream_records",
            "shard_position"} <= names
    batch_total = sum(
        m["value"] for m in reporter.metrics if m["metric"] == "batch_records"
    )
    shard_delta = sum(
        m.get("value", 0) for m in reporter.metrics if m["metric"] == "shard_position"
    )
    assert batch_total == n
    # replay offsets are row indexes → exact per-shard deltas, including the
    # first batch (null startOffset, covered by the reporter's own tracking
    # only from batch 2 — the first batch's rows are baselined there), so
    # deltas account for every row after the first batch per shard
    first_batch = min(
        (m["batch_id"], m["value"])
        for m in reporter.metrics
        if m["metric"] == "batch_records"
    )[1]
    assert shard_delta == n - first_batch
    assert {m["shard_id"] for m in reporter.metrics
            if m["metric"] == "shard_position"} == {"shard-0", "shard-1"}
    # positions reach the shard totals
    last_pos = {}
    for m in reporter.metrics:
        if m["metric"] == "shard_position":
            last_pos[m["shard_id"]] = m["position"]
    assert last_pos == {"shard-0": n // shards, "shard-1": n // shards}
