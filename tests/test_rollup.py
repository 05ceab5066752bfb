"""Continuous rollup (streaming materialized view): end-to-end stream
maintenance, exactly-once under foreachBatch replay, watermarked
compaction."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from reactive_kinesis_spark.streaming.rollup import (
    RollupSpec,
    compact_rollup,
    continuous_rollup,
    read_rollup,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

SPEC = RollupSpec(keys=("k",), sums=("v",), mins=("v",), maxs=("v",))


def _write_chunk(spark, in_dir: str, rows, chunk: str) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(in_dir, chunk)
    )


def _snapshot(spark, out_dir: str):
    return {
        (r["k"]): (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in read_rollup(spark, out_dir, SPEC).collect()
    }


def _run_stream(spark, in_dir: str, out_dir: str, ckpt: str) -> None:
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    # force_takeover: several tests RESTART the same logical pipeline on
    # the same ledger (same checkpoint) — the documented single-writer
    # restart path; conflict behavior has its own dedicated tests below
    q = (
        stream.writeStream.foreachBatch(
            continuous_rollup(out_dir, SPEC, force_takeover=True)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_continuous_rollup_matches_batch_aggregate(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("b", 10), ("a", 3)], "c0")
    _write_chunk(spark, in_dir, [("b", 5), ("c", 7)], "c1")
    _write_chunk(spark, in_dir, [("a", -2), ("c", 7), ("c", 1)], "c2")
    _run_stream(spark, in_dir, out_dir, ckpt)

    got = _snapshot(spark, out_dir)
    want_df = (
        spark.read.parquet(*[os.path.join(in_dir, c) for c in ("c0", "c1", "c2")])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )
    want = {r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"]) for r in want_df.collect()}
    assert got == want
    assert got["a"] == (3, 2, -2, 3)


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("a", 2)], "c0")
    _run_stream(spark, in_dir, out_dir, ckpt)
    before = _snapshot(spark, out_dir)

    # crash-replay: Structured Streaming re-invokes foreachBatch with the
    # SAME batchId and the same data — the delta must overwrite itself.
    # The restart claims the ledger over the crashed run's stale lock
    # (the documented single-writer restart path).
    writer = continuous_rollup(out_dir, SPEC, force_takeover=True)
    batch_df = spark.read.parquet(os.path.join(in_dir, "c0"))
    writer(batch_df, 0)
    writer(batch_df, 0)
    assert _snapshot(spark, out_dir) == before


def test_rollup_batch_never_touches_session_overwrite_mode(
    spark, tmp_path, monkeypatch
):
    """A delta write must not flip the session-wide
    ``partitionOverwriteMode``: any other query in the session would race
    the flip. Each batch overwrites only its own ``_batch_id=<id>`` dir."""
    from pyspark.sql.conf import RuntimeConfig

    set_keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    out_dir = str(tmp_path / "roll")
    writer = continuous_rollup(out_dir, SPEC)
    batch_df = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    writer(batch_df, 0)
    writer(batch_df, 0)  # a replay overwrites its own delta
    writer(spark.createDataFrame([("a", 4)], SCHEMA), 1)
    assert "spark.sql.sources.partitionOverwriteMode" not in set_keys
    assert sorted(os.listdir(os.path.join(out_dir, "deltas"))) == [
        "_batch_id=0",
        "_batch_id=1",
    ]
    assert _snapshot(spark, out_dir) == {"a": (2, 5, 1, 4), "b": (1, 2, 2, 2)}


def test_compaction_preserves_results_and_advances_watermark(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("b", 2)], "c0")
    _write_chunk(spark, in_dir, [("a", 4)], "c1")
    _run_stream(spark, in_dir, out_dir, ckpt)
    before = _snapshot(spark, out_dir)

    stats = compact_rollup(spark, out_dir, SPEC)
    assert stats["folded_batches"] >= 1
    assert _snapshot(spark, out_dir) == before
    # idempotent: nothing fresh left to fold
    assert compact_rollup(spark, out_dir, SPEC)["folded_batches"] == 0

    # post-compaction batches keep merging on top of the new base
    _write_chunk(spark, in_dir, [("b", -1), ("d", 9)], "c2")
    _run_stream(spark, in_dir, out_dir, ckpt)
    after = _snapshot(spark, out_dir)
    assert after["d"] == (1, 9, 9, 9)
    assert after["b"] == (2, 1, -1, 2)
    assert after["a"] == before["a"]


def test_folded_delta_below_watermark_is_ignored_even_if_left_behind(
    spark, tmp_path
):
    """Crash between base swap and delta GC must not double-count: readers
    filter deltas by the base watermark."""
    import shutil

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 5)], "c0")
    _run_stream(spark, in_dir, out_dir, ckpt)
    delta0 = os.path.join(out_dir, "deltas", "_batch_id=0")
    saved = str(tmp_path / "saved_delta")
    shutil.copytree(delta0, saved)
    compact_rollup(spark, out_dir, SPEC)
    before = _snapshot(spark, out_dir)
    # GC grace window: the compaction that folded _batch_id=0 KEEPS it
    # (an in-flight reader that resolved the pre-flip manifest may still
    # be scanning it) — readers ignore it via the watermark
    assert os.path.exists(delta0)
    assert _snapshot(spark, out_dir) == before
    # a crash-restored copy of the folded delta is likewise ignored
    shutil.copytree(saved, delta0, dirs_exist_ok=True)
    spark.catalog.refreshByPath(os.path.join(out_dir, "deltas"))
    assert _snapshot(spark, out_dir) == before
    # the NEXT compaction (idle here — nothing fresh) finishes the job:
    # the folded delta is below the published watermark, so it is GC'd
    assert compact_rollup(spark, out_dir, SPEC)["folded_batches"] == 0
    assert not os.path.exists(delta0)
    spark.catalog.refreshByPath(os.path.join(out_dir, "deltas"))
    assert _snapshot(spark, out_dir) == before


def test_rollup_hll_distinct_measure_matches_single_pass_sketch(spark, tmp_path):
    """Stream-merged HLL partials must equal the sketch a single batch
    pass builds over the union (merge-invariance), and at this size the
    sketch is exact — equal to COUNT(DISTINCT)."""
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    spec = RollupSpec(keys=("k",), sums=("v",), approx_distincts=("v",))
    _write_chunk(spark, in_dir, [("a", 1), ("a", 2), ("b", 10)], "c0")
    _write_chunk(spark, in_dir, [("a", 2), ("a", 3), ("b", 10)], "c1")
    _write_chunk(spark, in_dir, [("a", 1), ("b", 11), ("b", 12)], "c2")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_rollup(out_dir, spec))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["k"]: r["approx_nd_v"]
        for r in read_rollup(spark, out_dir, spec).collect()
    }
    union = spark.read.parquet(
        *[os.path.join(in_dir, c) for c in ("c0", "c1", "c2")]
    )
    single_pass = {
        r["k"]: r["e"]
        for r in union.groupBy("k")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("e"))
        .collect()
    }
    exact = {
        r["k"]: r["d"]
        for r in union.groupBy("k")
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    }
    assert got == single_pass == exact == {"a": 3, "b": 3}

    # the HLL partial survives compaction (merged base stays mergeable)
    compact_rollup(spark, out_dir, spec)
    assert {
        r["k"]: r["approx_nd_v"]
        for r in read_rollup(spark, out_dir, spec).collect()
    } == got


def test_interrupted_publish_leaves_old_state_live(spark, tmp_path):
    """A crash AFTER the new base dir is written but BEFORE the manifest
    flip must leave readers on the old base+deltas (no half state), and
    the next compaction must finish the job."""
    import json as _json

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("b", 2)], "c0")
    _run_stream(spark, in_dir, out_dir, ckpt)
    before = _snapshot(spark, out_dir)

    # simulate the orphaned half-publish: a stray versioned base with a
    # watermark meta, but no manifest pointing at it
    stray = os.path.join(out_dir, "base_v99")
    os.makedirs(stray)
    with open(os.path.join(stray, "_meta.json"), "w") as fh:
        _json.dump({"max_batch_id": 99}, fh)

    assert _snapshot(spark, out_dir) == before  # readers unaffected
    stats = compact_rollup(spark, out_dir, SPEC)
    assert stats["folded_batches"] >= 1
    assert _snapshot(spark, out_dir) == before
    assert not os.path.exists(stray)  # superseded versions GC'd


def test_legacy_unversioned_base_layout_still_reads(spark, tmp_path):
    """Pre-manifest rollups used a bare ``base/`` dir — they must stay
    readable and upgrade to the manifest layout on the next compaction."""
    import json as _json

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("b", 2)], "c0")
    _run_stream(spark, in_dir, out_dir, ckpt)

    # hand-build the legacy layout: fold delta 0 into out/base + meta
    legacy = os.path.join(out_dir, "base")
    deltas = spark.read.parquet(os.path.join(out_dir, "deltas"))
    deltas.drop("_batch_id").write.mode("overwrite").parquet(legacy)
    with open(os.path.join(legacy, "_meta.json"), "w") as fh:
        _json.dump({"max_batch_id": 0}, fh)
    import shutil as _shutil

    _shutil.rmtree(os.path.join(out_dir, "deltas"))

    before = _snapshot(spark, out_dir)
    assert before["a"] == (1, 1, 1, 1)

    _write_chunk(spark, in_dir, [("a", 4)], "c1")
    _run_stream(spark, in_dir, out_dir, ckpt)
    assert _snapshot(spark, out_dir)["a"] == (2, 5, 1, 4)
    stats = compact_rollup(spark, out_dir, SPEC)
    assert stats["folded_batches"] == 1
    assert os.path.exists(os.path.join(out_dir, "_current.json"))
    # the superseded legacy base survives the upgrade compaction — the
    # one-compaction GC grace window covers a reader mid-scan on it
    assert os.path.exists(legacy)
    assert _snapshot(spark, out_dir)["a"] == (2, 5, 1, 4)
    # the next compaction reclaims it
    assert compact_rollup(spark, out_dir, SPEC)["folded_batches"] == 0
    assert not os.path.exists(legacy)  # legacy dir GC'd one compaction later
    assert _snapshot(spark, out_dir)["a"] == (2, 5, 1, 4)


def test_live_reader_survives_concurrent_compaction(spark, tmp_path):
    """The grace window's reason for existing: a reader that resolved the
    OLD manifest immediately before a compaction flips it must still be
    able to finish its scan (the superseded base and its freshly-folded
    deltas survive one compaction) — and sees the old-state answer, which
    equals the new-state answer (compaction never changes results)."""
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
    )
    _write_chunk(spark, in_dir, [("a", 1), ("b", 2)], "c0")
    _run_stream(spark, in_dir, out_dir, ckpt)
    compact_rollup(spark, out_dir, SPEC)  # -> versioned base exists
    _write_chunk(spark, in_dir, [("a", 4), ("c", 9)], "c1")
    _run_stream(spark, in_dir, out_dir, ckpt)

    # the "in-flight reader": plan + file listing resolved against the
    # CURRENT (soon to be superseded) manifest, not yet executed
    reader = read_rollup(spark, out_dir, SPEC)
    want = {
        "a": (2, 5, 1, 4),
        "b": (1, 2, 2, 2),
        "c": (1, 9, 9, 9),
    }

    stats = compact_rollup(spark, out_dir, SPEC)  # flips the manifest
    assert stats["folded_batches"] >= 1

    # the reader's pinned files must all still exist: no FileNotFoundError
    got = {
        r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in reader.collect()
    }
    assert got == want
    assert _snapshot(spark, out_dir) == want  # new-manifest readers agree


# ------------------------------------------------- continuous heavy hitters


TEXT_SCHEMA = T.StructType([T.StructField("text", T.StringType())])


def test_continuous_heavy_hitters_matches_batch_topk(spark, tmp_path):
    """Stream a text corpus through the heavy-hitters rollup and check
    the top-k view equals the batch explode/count/top-k over the same
    rows (the stream≡batch contract), including the compaction path."""
    from reactive_kinesis_spark.streaming.rollup import (
        compact_rollup,
        continuous_heavy_hitters,
        read_heavy_hitters,
        token_rollup_spec,
    )

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "hh"),
        str(tmp_path / "ckpt"),
    )
    chunks = [
        [("aa bb aa cc",), ("bb aa dd",)],
        [("cc cc bb",), (None,), ("aa ee",)],
        [("dd dd dd ee",)],
    ]
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, TEXT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_heavy_hitters(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.read.parquet(*[os.path.join(in_dir, f"c{i}") for i in range(3)])
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(3)
    )
    want = [(r.token, r.n) for r in batch.collect()]
    got = [(r.token, r.n) for r in read_heavy_hitters(spark, out_dir, k=3).collect()]
    assert got == want
    # aa x4, bb x3, cc x3, dd x4, ee x2 -> top3 = aa, dd, bb (count desc, tok asc)
    assert got == [("aa", 4), ("dd", 4), ("bb", 3)]

    # compaction folds the per-batch deltas and the view is unchanged
    stats = compact_rollup(spark, out_dir, token_rollup_spec())
    assert stats["folded_batches"] >= 1
    after = [(r.token, r.n) for r in read_heavy_hitters(spark, out_dir, k=3).collect()]
    assert after == want


def test_continuous_quality_battery_matches_batch_battery(spark, tmp_path):
    """Stream real documents through the quality-gate ledger and check it
    equals the batch q149 battery over the same rows, bit for bit."""
    from reactive_kinesis_spark.operators.text import quality_rule_battery
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_quality_battery,
        read_quality_battery,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "qb"),
        str(tmp_path / "ckpt"),
    )
    schema = "source string, text string"
    third = len(rows) // 3
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third] if i < 2 else rows[2 * third :]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_quality_battery(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = [
        "source", "n_docs", "fail_length", "fail_word_len", "fail_stopword",
        "fail_repetition", "n_pass", "pass_rate",
    ]
    got = {
        r.source: tuple(r[c] for c in cols[1:])
        for r in read_quality_battery(spark, out_dir).collect()
    }
    want = {
        r.source: tuple(r[c] for c in cols[1:])
        for r in quality_rule_battery(docs).collect()
    }
    assert got == want and got


# ------------------------------------------------ single-writer contract


def test_second_writer_raises_conflict(spark, tmp_path):
    from reactive_kinesis_spark.streaming.rollup import RollupWriterConflict

    out_dir = str(tmp_path / "roll")
    continuous_rollup(out_dir, SPEC)  # first writer claims the ledger
    with pytest.raises(RollupWriterConflict, match="already has a writer"):
        continuous_rollup(out_dir, SPEC)


def test_usurped_writer_fails_its_next_batch(spark, tmp_path):
    from reactive_kinesis_spark.streaming.rollup import RollupWriterConflict

    out_dir = str(tmp_path / "roll")
    old = continuous_rollup(out_dir, SPEC)
    batch = spark.createDataFrame([("a", 1)], "k string, v long")
    old(batch, 0)  # healthy while it holds the claim
    continuous_rollup(out_dir, SPEC, force_takeover=True)  # takeover
    with pytest.raises(RollupWriterConflict, match="taken over"):
        old(batch, 1)  # the zombie dies loudly, never interleaves


def test_release_then_reclaim(spark, tmp_path):
    from reactive_kinesis_spark.streaming.rollup import release_rollup_writer

    out_dir = str(tmp_path / "roll")
    continuous_rollup(out_dir, SPEC)
    assert release_rollup_writer(out_dir) is True
    continuous_rollup(out_dir, SPEC)  # clean reclaim after release
    assert release_rollup_writer(out_dir) is True
    assert release_rollup_writer(out_dir) is False


def test_continuous_oov_drift_matches_batch(spark, tmp_path):
    """Stream real documents through the OOV ledger under a frozen
    vocabulary and check it equals the batch computation over the same
    rows, bit for bit (int counts; the rate is derived at read time)."""
    from reactive_kinesis_spark.operators.text import frozen_vocab_oov_flags
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_oov_drift,
        read_oov_drift,
    )

    vocab = ("the", "a", "table", "query", "scan", "value")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "oov"),
        str(tmp_path / "ckpt"),
    )
    schema = "source string, text string"
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_oov_drift(out_dir, vocab))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.source: (r.n_docs, r.n_tokens, r.n_oov, r.oov_rate)
        for r in read_oov_drift(spark, out_dir).collect()
    }
    from pyspark.sql import functions as SF

    want = {
        r.source: (r.n_docs, r.n_tokens, r.n_oov, r.n_oov / r.n_tokens)
        for r in frozen_vocab_oov_flags(docs, "text", "source", vocab)
        .groupBy("source")
        .agg(
            SF.count(SF.lit(1)).alias("n_docs"),
            SF.sum("n_tokens").alias("n_tokens"),
            SF.sum("n_oov").alias("n_oov"),
        )
        .collect()
    }
    assert got == want and got


def test_frozen_vocab_requires_vocab(spark):
    from reactive_kinesis_spark.operators.text import frozen_vocab_oov_flags

    docs = spark.createDataFrame([("s", "a b")], "source string, text string")
    import pytest

    with pytest.raises(ValueError, match="vocab"):
        frozen_vocab_oov_flags(docs, "text", "source", ())


def test_continuous_source_vocabulary_entropy_matches_batch(spark, tmp_path):
    """Stream real documents through the per-source vocabulary ledger and
    check the entropy READ equals the batch q175 program over the same
    rows, bit for bit: counts fold as pure ints (exactly-once), and the
    certified fixed-point-log2 entropy runs only at read time."""
    from reactive_kinesis_spark.operators.lexstats import token_entropy
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_source_vocabulary,
        read_source_entropy,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "vocab"),
        str(tmp_path / "ckpt"),
    )
    schema = "source string, text string"
    third = len(rows) // 3
    for i, chunk in enumerate([rows[:third], rows[third : 2 * third], rows[2 * third :]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_source_vocabulary(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.source: (r.n_tokens, r.vocab, r.entropy_bits)
        for r in read_source_entropy(spark, out_dir).collect()
    }
    want = {
        r.source: (r.n_tokens, r.vocab, r.entropy_bits)
        for r in token_entropy(docs, "text", "source").collect()
    }
    assert got == want and got


def test_continuous_source_bigrams_cond_entropy_matches_batch(spark, tmp_path):
    """Stream real documents through the per-source bigram ledger and
    check the conditional-entropy READ equals the batch q184 program over
    the same rows, bit for bit — the template-spam alarm's streaming twin
    (r11 verdict Next #7): (source, w1, w2) counts fold as pure ints
    (exactly-once), and both chain-rule entropy terms plus the final
    subtraction run only at read time."""
    from reactive_kinesis_spark.operators.lexstats import conditional_entropy
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_source_bigrams,
        read_conditional_entropy,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "bigrams"),
        str(tmp_path / "ckpt"),
    )
    schema = "source string, text string"
    third = len(rows) // 3
    for i, chunk in enumerate([rows[:third], rows[third : 2 * third], rows[2 * third :]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_source_bigrams(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.source: (
            r.n_bigrams,
            r.pair_entropy_bits,
            r.head_entropy_bits,
            r.cond_entropy_bits,
        )
        for r in read_conditional_entropy(spark, out_dir).collect()
    }
    want = {
        r.source: (
            r.n_bigrams,
            r.pair_entropy_bits,
            r.head_entropy_bits,
            r.cond_entropy_bits,
        )
        for r in conditional_entropy(docs, "text", "source").collect()
    }
    assert got == want and got


def test_source_vocabulary_ledger_also_serves_zipf_slope(spark, tmp_path):
    """One streamed (source, token) ledger serves the whole lexical
    battery: the Zipf-slope READ must equal the batch q176 program over
    the same rows, bit for bit — no new writer, no extra per-batch work."""
    from reactive_kinesis_spark.operators.lexstats import zipf_slope
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_source_vocabulary,
        read_source_zipf_slope,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "vocab"),
        str(tmp_path / "ckpt"),
    )
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, "source string, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_source_vocabulary(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.source: (r.n_ranks, r.zipf_slope)
        for r in read_source_zipf_slope(spark, out_dir, top_ranks=64).collect()
    }
    want = {
        r.source: (r.n_ranks, r.zipf_slope)
        for r in zipf_slope(docs, "text", "source", top_ranks=64).collect()
    }
    assert got == want and got


def test_source_vocabulary_ledger_also_serves_kl(spark, tmp_path):
    """The same streamed (source, token) ledger serves the q181 KL audit:
    the read must equal the batch program over the same rows, bit for
    bit (the corpus marginal re-derives by summing the ledger over
    sources, so no extra state is needed)."""
    from reactive_kinesis_spark.operators.lexstats import source_kl_divergence
    from reactive_kinesis_spark.streaming.rollup import (
        continuous_source_vocabulary,
        read_source_kl,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("source", "text")
    )
    rows = docs.collect()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "vocab"),
        str(tmp_path / "ckpt"),
    )
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, "source string, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(in_dir, f"c{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(continuous_source_vocabulary(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.source: (r.n_tokens, r.vocab, r.kl_bits)
        for r in read_source_kl(spark, out_dir).collect()
    }
    want = {
        r.source: (r.n_tokens, r.vocab, r.kl_bits)
        for r in source_kl_divergence(docs, "text", "source").collect()
    }
    assert got == want and got


def test_bigram_ledger_min_count_floor_bounds_state(spark, tmp_path):
    """The compaction-time min-count floor (r12 verdict Next #2): the
    bigram ledger's singleton tail is dropped at compaction, the new base
    holds only keys with n >= min_count, the floored-row count is
    reported, and the read-time H(w2|w1) over the retained mass equals
    the batch program over the SAME retained counts (the stated
    retained-mass semantics — not the unfloored statistic)."""
    from reactive_kinesis_spark.operators.lexstats import (
        conditional_entropy_from_counts,
    )
    from reactive_kinesis_spark.streaming.rollup import (
        compact_rollup,
        continuous_source_bigrams,
        read_conditional_entropy,
        read_rollup,
        source_bigram_spec,
    )

    out_dir = str(tmp_path / "bigrams")
    # batch 0: 'a b' x3 (frequent) + one singleton bigram 'x y';
    # batch 1: 'a b' again + a fresh singleton 'p q'
    write = continuous_source_bigrams(out_dir)
    write(
        spark.createDataFrame(
            [("s1", "a b a b a b"), ("s1", "x y")], "source string, text string"
        ),
        0,
    )
    write(
        spark.createDataFrame(
            [("s1", "a b"), ("s1", "p q")], "source string, text string"
        ),
        1,
    )
    spec = source_bigram_spec()
    with pytest.raises(ValueError, match="min_count"):
        compact_rollup(spark, out_dir, spec, min_count=0)
    stats = compact_rollup(spark, out_dir, spec, min_count=2)
    assert stats["folded_batches"] == 2
    # singletons 'x y', 'b a' (x2 from the repeated text? no: 'a b a b a b'
    # has bigrams a-b x3 and b-a x2) — retained: (a,b) n=4, (b,a) n=2
    base = read_rollup(spark, out_dir, spec)
    kept = {(r.w1, r.w2): r.n for r in base.collect()}
    assert kept == {("a", "b"): 4, ("b", "a"): 2}
    assert stats["floored_rows"] == 2  # 'x y' and 'p q' dropped
    # the read is the retained-mass statistic: bit-equal to the batch
    # program over exactly the retained counts
    cnt = base.select(
        F.col("source").alias("grp"), "w1", "w2", F.col("n").alias("c")
    )
    want = {
        (r.grp if hasattr(r, "grp") else r.source): r.cond_entropy_bits
        for r in conditional_entropy_from_counts(cnt, group_col="source").collect()
    }
    got = {
        r.source: r.cond_entropy_bits
        for r in read_conditional_entropy(spark, out_dir).collect()
    }
    assert got == want and got
    # a re-appearing dropped key restarts from zero (the stated caveat)
    write(
        spark.createDataFrame([("s1", "x y")], "source string, text string"), 2
    )
    merged = {
        (r.w1, r.w2): r.n for r in read_rollup(spark, out_dir, spec).collect()
    }
    assert merged[("x", "y")] == 1
