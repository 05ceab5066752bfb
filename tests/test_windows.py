"""Event-time streaming tests: watermark late-data drop, session windows,
in-watermark dedup, and the applyInPandasWithState operator with state
carried across micro-batches."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from reactive_kinesis_spark.schemas import EVENT_SCHEMA
from reactive_kinesis_spark.streaming import file_stream_source
from reactive_kinesis_spark.streaming.windows import (
    dedup_within_watermark,
    session_aggregate,
    stateful_running_count,
    windowed_aggregate,
)
from tests.test_streaming import T0, make_events


def _drain(spark, df, tmp_path, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_aggregate_batch_and_stream_agree(spark, tmp_path):
    src = str(tmp_path / "stream")
    make_events(spark, 120).write.parquet(src, mode="append")
    batch_df = spark.read.schema(EVENT_SCHEMA).parquet(src)
    batch = windowed_aggregate(
        batch_df, ts_col="approximate_arrival_timestamp", window="1 minute"
    ).collect()

    # update mode: every state change is emitted; the final value per window
    # is the max — append mode would emit nothing, since the watermark never
    # passes a window end before the stream drains (the standard gotcha).
    stream = _drain(
        spark,
        windowed_aggregate(
            file_stream_source(spark, src),
            ts_col="approximate_arrival_timestamp",
            window="1 minute",
        ),
        tmp_path,
        "win_agg",
        output_mode="update",
    ).collect()
    final = {}
    for r in stream:
        final[r.window_start] = max(final.get(r.window_start, 0), r.n_events)
    assert sorted(final.items()) == sorted((r.window_start, r.n_events) for r in batch)


def test_late_data_dropped_by_watermark(spark, tmp_path):
    src = str(tmp_path / "stream")
    # batch 1: on-time events up to T0+100s; batch 2 (separate file): an
    # event 2 hours earlier — beyond the 1-minute watermark once batch 1
    # advanced it.
    make_events(spark, 100).write.parquet(src, mode="append")
    late_rows = [
        ("s1", "shardId-000000000000", "0", f"{99999:020d}", 0, b"late",
         T0 - dt.timedelta(hours=2)),
    ]
    spark.createDataFrame(late_rows, EVENT_SCHEMA).write.parquet(src, mode="append")

    out = _drain(
        spark,
        windowed_aggregate(
            file_stream_source(spark, src, max_files_per_trigger=1),
            ts_col="approximate_arrival_timestamp",
            window="1 minute",
            watermark="1 minute",
        ),
        tmp_path,
        "late_drop",
        output_mode="update",
    ).collect()
    final = {}
    for r in out:
        final[r.window_start] = max(final.get(r.window_start, 0), r.n_events)
    assert sum(final.values()) == 100  # the late row never appears
    assert all(ws >= T0.replace(tzinfo=None) for ws in final)  # no 2h-early window


def test_session_aggregate_stream(spark, tmp_path):
    src = str(tmp_path / "stream")
    rows = []
    for u, base in [("u1", 0), ("u1", 7200), ("u2", 0)]:  # u1 has 2 sessions
        for i in range(3):
            rows.append(
                ("s1", "sh0", u, f"{base + i:020d}", 0, b"x",
                 T0 + dt.timedelta(seconds=base + i * 60))
            )
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    src_df = df.withColumnRenamed("partition_key", "user_id")
    sessions = session_aggregate(
        src_df, ts_col="approximate_arrival_timestamp", gap="30 minutes"
    ).collect()
    per_user = {}
    for r in sessions:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user["u1"]) == [3, 3]
    assert per_user["u2"] == [3]


def test_dedup_within_watermark_drops_replays(spark, tmp_path):
    src = str(tmp_path / "stream")
    df = make_events(spark, 20)
    df.write.parquet(src, mode="append")
    df.write.parquet(src, mode="append")  # exact replay (KPL retry analog)
    out = _drain(
        spark,
        dedup_within_watermark(file_stream_source(spark, src)),
        tmp_path,
        "dedup",
    )
    assert out.count() == 20


def test_stateful_running_count_carries_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "stream")
    make_events(spark, 30, shards=2).write.parquet(src, mode="append")
    make_events(spark, 10, shards=2, start=1000).write.parquet(src, mode="append")
    out = _drain(
        spark,
        stateful_running_count(file_stream_source(spark, src)),
        tmp_path,
        "state_count",
        output_mode="update",
    ).collect()
    # last emitted row per key reflects the cumulative count
    last = {}
    for r in out:
        last[r.partition_key] = max(
            last.get(r.partition_key, 0), r.total_count
        )
    assert last == {"0": 20, "1": 20}
    max_seqs = {r.partition_key: r.max_sequence_number for r in out if r.total_count == 20}
    assert all(s == f"{1008 if k == '0' else 1009:020d}" for k, s in max_seqs.items())


def test_tws_capability_probe_is_explicit(spark, tmp_path):
    """Whether or not this env can run transformWithState, the answer must
    be an explicit capability: the probe names what's missing, and the
    operator fails fast with that reason rather than crashing the first
    micro-batch's state server."""
    from reactive_kinesis_spark.capabilities import transform_with_state
    from reactive_kinesis_spark.streaming.windows import stateful_running_count_tws

    ok, reason = transform_with_state()
    assert isinstance(ok, bool) and reason
    if not ok:
        assert "protobuf" in reason
        src = str(tmp_path / "stream")
        make_events(spark, 4, shards=1).write.parquet(src, mode="append")
        with pytest.raises(RuntimeError, match="protobuf"):
            stateful_running_count_tws(file_stream_source(spark, src))


def test_transform_with_state_matches_applyinpandas(spark, tmp_path):
    # Skip is gated on the documented capability probe (capabilities.py):
    # the operator is the production path (typed state + RocksDB);
    # applyInPandasWithState above covers the semantics where the env
    # lacks the protobuf state-server protocol.
    from reactive_kinesis_spark.capabilities import transform_with_state

    ok, reason = transform_with_state()
    if not ok:
        pytest.skip(f"env capability absent: {reason}")
    from reactive_kinesis_spark.streaming.windows import stateful_running_count_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "stream")
        make_events(spark, 30, shards=2).write.parquet(src, mode="append")
        make_events(spark, 10, shards=2, start=1000).write.parquet(src, mode="append")
        out = _drain(
            spark,
            stateful_running_count_tws(file_stream_source(spark, src)),
            tmp_path,
            "tws_count",
            output_mode="update",
        ).collect()
        last = {}
        for r in out:
            last[r.partition_key] = max(last.get(r.partition_key, 0), r.total_count)
        assert last == {"0": 20, "1": 20}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_ewma_running_level_stream_equals_batch(spark, tmp_path):
    """The bounded-state streaming EWMA must reproduce the batch q136
    fold BIT-identically when each key's rows arrive in order across
    micro-batches (the per-shard ordering guarantee)."""
    import datetime
    import os

    from reactive_kinesis_spark.queries import load_all
    from reactive_kinesis_spark.streaming.windows import ewma_running_level

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    in_dir = str(tmp_path / "in")
    rows = []
    i = 0
    # 3 users, values designed to exercise the fold (negatives, repeats)
    for chunk in range(3):
        chunk_rows = []
        for u in (1, 2, 3):
            for j in range(4):
                chunk_rows.append(
                    (
                        i,
                        t0 + datetime.timedelta(seconds=i),
                        u,
                        "click",
                        float((i * 7919) % 101) - 50.0,
                        "{}",
                    )
                )
                i += 1
        rows.append(chunk_rows)
        spark.createDataFrame(chunk_rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(in_dir, "events.parquet"))

    # batch twin over the union, through the registry
    batch = {
        r.user_id: (r.n_events, r.ewma)
        for r in load_all()["q136_ewma_smoothing"]
        .fn(spark, in_dir)
        .collect()
    }

    stream_src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "events.parquet"))
    )
    out = _drain(
        spark,
        ewma_running_level(stream_src),
        tmp_path,
        "ewma_lvl",
        output_mode="update",
    ).collect()
    final = {}
    for r in out:  # n_events is monotone per key: keep the furthest state
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.ewma)
    assert final == batch  # == on floats: bit-identity, not approx
    assert all(n == 12 for n, _ in final.values())


def _ewma_fold(values, alpha=0.3):
    """The documented fold, in pure Python — same IEEE double ops the
    applyInPandasWithState update fn executes, so == is bit-identity."""
    a = float(alpha)
    b = 1.0 - a
    level = 0.0
    for x in values:
        level = a * float(x) + b * level
    return len(values), level


def _ewma_rows(spark, tmp_path, chunks, name):
    """Write each chunk as its own parquet file (one micro-batch each with
    maxFilesPerTrigger=1); rows are (event_id, user_id, value) — arrival
    order inside a micro-batch is the file row order (coalesce(1))."""
    import os

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1)
    in_dir = str(tmp_path / f"in_{name}")
    for rows in chunks:
        full = [
            (eid, t0 + dt.timedelta(seconds=eid), uid, "click", float(v), "{}")
            for eid, uid, v in rows
        ]
        spark.createDataFrame(full, schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(in_dir, "events.parquet"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "events.parquet"))
    )


def _ewma_final(rows):
    final = {}
    for r in rows:  # n_events is monotone per key: keep the furthest state
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.ewma)
    return final


def test_ewma_multi_chunk_arrow_batches_fold_in_order(spark, tmp_path):
    """r9 regression: applyInPandasWithState splits one key's micro-batch
    across Arrow chunks at spark.sql.execution.arrow.maxRecordsPerBatch.
    With the boundary forced down to 2 rows and out-of-order rows that
    straddle it, the fold must still equal the whole-micro-batch sorted
    fold — sorting each chunk independently (the pre-fix behavior) would
    fold eid 5 before eid 1 here."""
    from reactive_kinesis_spark.streaming.windows import ewma_running_level

    # one micro-batch; key 1's rows arrive shuffled: 5,1,4,2,6,3,7
    order = [5, 1, 4, 2, 6, 3, 7]
    vals = {e: float((e * 37) % 19) - 9.0 for e in order}
    stream = _ewma_rows(
        spark, tmp_path, [[(e, 1, vals[e]) for e in order]], "multichunk"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = _drain(
            spark,
            ewma_running_level(stream),
            tmp_path,
            "ewma_chunks",
            output_mode="update",
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    want = {1: _ewma_fold([vals[e] for e in sorted(order)])}
    assert _ewma_final(out) == want  # == on floats: bit-identity


def test_ewma_out_of_order_across_batches_folds_in_arrival_order(
    spark, tmp_path
):
    """r8 ask: rows for one key split across two micro-batches OUT of
    global order. The documented contract (docstring 'degrades gracefully
    to EWMA in arrival order') is batch-1's rows sorted, then batch-2's
    rows sorted — NOT the global sort a batch backfill would use."""
    from reactive_kinesis_spark.streaming.windows import ewma_running_level

    b1 = [(10, 1, 4.0), (11, 1, -3.0)]  # later event-times arrive FIRST
    b2 = [(3, 1, 7.5), (2, 1, 1.25)]  # earlier event-times arrive second
    stream = _ewma_rows(spark, tmp_path, [b1, b2], "ooo")
    out = _drain(
        spark,
        ewma_running_level(stream),
        tmp_path,
        "ewma_ooo",
        output_mode="update",
    ).collect()
    # arrival-order fold: [4.0, -3.0] then [1.25, 7.5] (batch-2 sorted)
    arrival = [4.0, -3.0, 1.25, 7.5]
    assert _ewma_final(out) == {1: _ewma_fold(arrival)}
    # and that is NOT the global event-time fold — the test discriminates
    assert _ewma_fold(arrival) != _ewma_fold([1.25, 7.5, 4.0, -3.0])


def test_ewma_ties_on_order_cols_fold_stably_in_arrival_order(spark, tmp_path):
    """ADVICE r9: with order_cols that is NOT a total order (here just
    ts, and every row shares one timestamp), tied rows must fold in
    arrival order — the stable sort contract; an unstable quicksort makes
    the fold nondeterministic."""
    from reactive_kinesis_spark.streaming.windows import ewma_running_level

    # order by the constant event_type column: every row ties, so the
    # fold order is entirely the stable-sort tiebreak (arrival order)
    vals = [2.0, -5.0, 11.0, 0.5, -1.0, 8.0]
    rows = [(i, 1, v) for i, v in enumerate(vals)]
    stream = _ewma_rows(spark, tmp_path, [rows], "ties")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = _drain(
            spark,
            ewma_running_level(stream, order_cols=("event_type",)),
            tmp_path,
            "ewma_ties",
            output_mode="update",
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert _ewma_final(out) == {1: _ewma_fold(vals)}  # file/arrival order
