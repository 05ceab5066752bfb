"""Structural tests for the round-5 session operators: weighted sampling
(A-ES), funnel state machine, robust MAD outliers, surprisal scoring.
Each is also oracle-checked end-to-end by test_oracle_parity; these pin
the operator-level contracts on handcrafted data where the expected
answer is computable by hand."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from reactive_kinesis_spark.operators.text import surprisal_scoring, weighted_sample
from reactive_kinesis_spark.queries.events import funnel
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, schema="doc_id long, source string, text string, n_chars int"
    )


class TestWeightedSample:
    def test_exact_k_per_group_and_valid_ranks(self, spark):
        rows = [
            (i, f"s{i % 3}", f"doc {i}", 10 + i) for i in range(30)
        ]
        out = weighted_sample(_docs(spark, rows), k=4).collect()
        by_group: dict[str, list] = {}
        for r in out:
            by_group.setdefault(r.source, []).append(r)
        assert set(by_group) == {"s0", "s1", "s2"}
        for g, sel in by_group.items():
            assert sorted(r.rn for r in sel) == [1, 2, 3, 4]

    def test_k_larger_than_group_returns_all(self, spark):
        rows = [(1, "a", "x", 5), (2, "a", "y", 7)]
        out = weighted_sample(_docs(spark, rows), k=10).collect()
        assert sorted(r.doc_id for r in out) == [1, 2]

    def test_deterministic_across_runs(self, spark):
        rows = [(i, "s", "t", 1 + (i * 7) % 50) for i in range(40)]
        df = _docs(spark, rows)
        a = sorted((r.doc_id, r.rn) for r in weighted_sample(df, k=6).collect())
        b = sorted((r.doc_id, r.rn) for r in weighted_sample(df, k=6).collect())
        assert a == b

    def test_dominant_weight_always_selected_first(self, spark):
        # |ln u|/1e9 for the heavy doc is < 2.3e-8; every unit-weight doc
        # needs u > 1 - 2.3e-8 (a ~1e-8 hash event) to beat it — and the
        # draw is a fixed pure function of doc_id, so this is stable.
        rows = [(i, "s", "t", 1) for i in range(50)] + [(999, "s", "t", 10**9)]
        out = weighted_sample(_docs(spark, rows), k=3, weight_col="n_chars").collect()
        winner = next(r for r in out if r.rn == 1)
        assert winner.doc_id == 999

    def test_matches_reference_formula(self, spark):
        # independently recompute the A-ES keys in Python (hashlib md5)
        import hashlib

        rows = [(i, "s", "t", 3 + i) for i in range(25)]
        out = {r.doc_id: r.rn for r in weighted_sample(_docs(spark, rows), k=5).collect()}

        def key(doc_id: int, w: int) -> float:
            u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) + 0.5) / 2**32
            return math.log(u) / w

        want = sorted(rows, key=lambda r: (-key(r[0], r[3]), r[0]))[:5]
        assert out == {r[0]: i + 1 for i, r in enumerate(want)}


class TestFunnel:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            [(u, f"2024-01-0{d} 00:00:0{s}", e) for (u, d, s, e) in rows],
            schema="user_id long, ts string, event_type string",
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")

    def test_depths_on_handcrafted_sequences(self, spark):
        rows = [
            # user 1: full funnel in order -> 3
            (1, 1, 1, "view"), (1, 1, 2, "click"), (1, 2, 1, "purchase"),
            # user 2: purchase BEFORE view/click -> only view+click count -> 2
            (2, 1, 1, "purchase"), (2, 1, 2, "view"), (2, 1, 3, "click"),
            # user 3: view only -> 1
            (3, 1, 1, "view"), (3, 1, 2, "error"),
            # user 4: click/purchase but never a view -> 0
            (4, 1, 1, "click"), (4, 1, 2, "purchase"),
            # user 5: interleaved noise, funnel spread across days -> 3
            (5, 1, 1, "error"), (5, 1, 2, "view"), (5, 2, 1, "signup"),
            (5, 2, 2, "click"), (5, 3, 1, "view"), (5, 3, 2, "purchase"),
        ]
        out = {
            r.user_id: r.funnel_depth
            for r in funnel(
                self._events(spark, rows), steps=("view", "click", "purchase")
            ).collect()
        }
        assert out == {1: 3, 2: 2, 3: 1, 4: 0, 5: 3}

    def test_strictly_after_same_timestamp_does_not_advance(self, spark):
        rows = [(7, 1, 1, "view"), (7, 1, 1, "click"), (7, 1, 2, "click")]
        out = funnel(
            self._events(spark, rows), steps=("view", "click", "purchase")
        ).collect()
        # the t=1 click ties the matched view and must NOT count; t=2 does
        assert out[0].funnel_depth == 2

    def test_greedy_earliest_is_depth_optimal(self, spark):
        # view@1 view@3 click@2: greedy matches view@1 then click@2 -> 2;
        # a non-greedy matcher that took view@3 would strand the click
        rows = [(8, 1, 1, "view"), (8, 1, 3, "view"), (8, 1, 2, "click")]
        out = funnel(self._events(spark, rows), steps=("view", "click")).collect()
        assert out[0].funnel_depth == 2


class TestSurprisal:
    def test_handcrafted_bits(self, spark):
        # corpus: "a a a b" + "a c" -> counts a=4, b=1, c=1, T=6
        # floor_log2: T->2, a->2, b->0, c->0
        docs = _docs(
            spark,
            [(1, "s", "a a a b", 7), (2, "s", "a c", 3)],
        )
        out = {r.doc_id: r for r in surprisal_scoring(docs).collect()}
        # doc 1: 3*(2-2) + 1*(2-0) = 2 bits over 4 words
        assert out[1].surprisal_bits == 2
        assert out[1].n_words == 4
        assert out[1].bits_per_token == 0.5
        # doc 2: 1*(2-2) + 1*(2-0) = 2 bits over 2 words
        assert out[2].surprisal_bits == 2
        assert out[2].bits_per_token == 1.0

    def test_uniform_corpus_scores_equal(self, spark):
        docs = _docs(
            spark, [(i, "s", "w1 w2 w3 w4", 11) for i in range(4)]
        )
        out = surprisal_scoring(docs).collect()
        assert len({r.surprisal_bits for r in out}) == 1


class TestRobustOutliers:
    def test_against_plain_python(self, spark, sf_dir):
        from reactive_kinesis_spark.queries import load_all

        qd = load_all()["q86_robust_outliers"]
        got = {r.source: r for r in qd.fn(spark, sf_dir).collect()}

        import statistics

        import duckdb

        rows = duckdb.sql(
            f"select source, n_chars from '{sf_dir}/documents.parquet'"
        ).fetchall()
        by_src: dict[str, list[int]] = {}
        for s, n in rows:
            by_src.setdefault(s, []).append(n)
        for s, xs in by_src.items():
            med = statistics.median(xs)
            devs = [abs(float(x) - med) for x in xs]
            mad = statistics.median(devs)
            n_out = sum(1 for d in devs if d > 3 * mad)
            assert got[s].n_docs == len(xs)
            assert got[s].med == med
            assert got[s].mad == mad
            assert got[s].n_outliers == n_out


def test_funnel_matches_python_greedy_on_random_sequences(spark):
    """Differential: 200 random event sequences (with duplicate timestamps,
    repeated steps, noise types) — the Catalyst state machine must agree
    with an independent pure-Python greedy matcher on every user."""
    import random

    rng = random.Random(20260814)
    steps = ("view", "click", "purchase")
    types = list(steps) + ["error", "signup"]
    rows, expected = [], {}
    for uid in range(200):
        n = rng.randint(0, 12)
        evs = sorted(
            (rng.randint(0, 20), rng.choice(types)) for _ in range(n)
        )
        for t, e in evs:
            rows.append((uid, t, e))
        d, last = 0, -1
        for t, e in sorted(evs):  # same (t, type) total order as array_sort
            if d < len(steps) and e == steps[d] and t > last:
                d, last = d + 1, t
        expected[uid] = d
    df = spark.createDataFrame(
        rows, schema="user_id long, tsec long, event_type string"
    ).select(
        "user_id",
        F.timestamp_seconds(F.col("tsec")).alias("ts"),
        "event_type",
    )
    got = {r.user_id: r.funnel_depth for r in funnel(df, steps=steps).collect()}
    missing = {u: 0 for u in range(200) if u not in got}  # users with 0 events
    assert {**got, **missing} == expected


def test_funnel_stream_matches_batch(spark, tmp_path):
    """The funnel state machine applied under readStream (complete output
    mode — collect_list carries unordered per-user state, so the fold's
    array_sort makes each emitted result order-insensitive) must converge
    to exactly the batch answer over the same files."""
    import random

    rng = random.Random(7)
    steps = ("view", "click", "purchase")
    types = list(steps) + ["error"]
    src = str(tmp_path / "src")
    rows = [
        (uid, 1_700_000_000 + rng.randint(0, 1000), rng.choice(types))
        for uid in range(40)
        for _ in range(rng.randint(1, 8))
    ]
    df = spark.createDataFrame(
        rows, schema="user_id long, tsec long, event_type string"
    ).select("user_id", F.timestamp_seconds("tsec").alias("ts"), "event_type")
    # two files so the stream sees >=2 micro-batches of partial users
    df.where(F.col("user_id") < 20).write.parquet(src)
    df.where(F.col("user_id") >= 20).write.parquet(src, mode="append")

    stored = spark.read.parquet(src)
    batch = {r.user_id: r.funnel_depth for r in funnel(stored, steps=steps).collect()}

    stream_in = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        funnel(stream_in, steps=steps)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.user_id: r.funnel_depth
        for r in spark.sql("SELECT * FROM funnel_stream").collect()
    }
    assert streamed == batch and len(batch) == 40


def test_canonical_pick_prefers_longest_and_accounts_for_every_row(spark):
    from reactive_kinesis_spark.operators.dedup import canonical_pick

    rows = [
        (1, "s", "same text", 9),
        (2, "s", "same text padded", 16),   # distinct text
        (3, "s", "same text", 9),
        (4, "s", "unique", 6),
        (5, "s", "same text", 9),
    ]
    out = canonical_pick(
        _docs(spark, rows), order_by=[F.col("n_chars").desc()]
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # 3 distinct texts -> 3 survivors; the triplicate keeps its lowest id
    assert sorted(by_id) == [1, 2, 4]
    assert by_id[1].group_size == 3
    assert sum(r.group_size for r in out) == len(rows)


def test_canonical_pick_order_by_actually_prefers(spark):
    from reactive_kinesis_spark.operators.dedup import canonical_pick

    # same text, different n_chars metadata (e.g. pre-strip lengths):
    # the pick must take the LARGEST n_chars, not the lowest id
    rows = [(1, "s", "t", 5), (2, "s", "t", 9), (3, "s", "t", 7)]
    out = canonical_pick(_docs(spark, rows), order_by=[F.col("n_chars").desc()]).collect()
    assert len(out) == 1 and out[0].doc_id == 2 and out[0].group_size == 3


def test_profile_table_counts_nulls_and_distincts_exactly(spark):
    from reactive_kinesis_spark.io import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, "a"), (5, None)],
        schema="id long, tag string",
    )
    prof = {r.col_name: r for r in profile_table(df, ["id", "tag"]).collect()}
    assert prof["id"].n_rows == 5 and prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == 5
    assert (prof["id"].min_value, prof["id"].max_value) == ("1", "5")
    assert prof["tag"].n_nulls == 2 and prof["tag"].n_distinct == 2
    assert (prof["tag"].min_value, prof["tag"].max_value) == ("a", "b")


def test_snapshot_diff_statuses(spark):
    from reactive_kinesis_spark.operators.dedup import snapshot_diff

    old = _docs(spark, [(1, "s", "a", 1), (2, "s", "b", 1), (3, "s", "c", 1)])
    new = _docs(spark, [(2, "s", "b", 1), (3, "s", "C2", 2), (4, "s", "d", 1)])
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_every_query_survives_empty_tables(spark, sf_dir, tmp_path):
    """Degenerate-input robustness: every registered query over ZERO-row
    copies of all ten tables must either produce a well-formed (possibly
    empty) result or raise the one documented fit-requires-data error
    (pca_fit) — never an internal IndexError/TypeError from a driver-side
    numeric path (the three empty-corpus crashes this test was built on:
    cosine_topk's query collect, IVF's k-means training block, pca_fit's
    dimension probe)."""
    dst = str(tmp_path / "sf_empty")
    import os

    os.makedirs(dst)
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0).write.parquet(
            f"{dst}/{t}.parquet"
        )
    from reactive_kinesis_spark.queries import load_all

    failures = []
    for name, qd in load_all().items():
        try:
            assert qd.fn(spark, dst).count() >= 0
        except ValueError as e:
            if "pca_fit requires" not in str(e):
                failures.append(f"{name}: ValueError: {e}")
        except Exception as e:  # noqa: BLE001 — collect, report all at once
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


def test_every_query_survives_null_injection(spark, sf_dir, tmp_path):
    """Degenerate-VALUE robustness: inject null/empty text, null
    lang/source, null/empty embeddings, and a fully-null event row, then
    run every registered query. Operators must apply their documented
    ingest contracts (similarity.valid_vectors excludes null/empty
    vectors; weighted_sample excludes non-positive weights; map_async
    callables null-propagate) instead of dying inside Arrow/numpy."""
    import shutil

    dst = str(tmp_path / "sf_nulls")
    import os

    os.makedirs(dst)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, f"{dst}/{t}.parquet")
        else:
            shutil.copy(src, f"{dst}/{t}.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [
            (900001, None, "en", "s1", None),
            (900002, "", "en", "s1", 0),
            (900003, "plain text", None, None, 10),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.unionByName(extra.select(docs.columns)).write.parquet(f"{dst}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eextra = spark.createDataFrame(
        [(900001, None, None), (900002, [], 0)],
        schema="vec_id long, embedding array<float>, label int",
    )
    emb.unionByName(eextra.select(emb.columns)).write.parquet(f"{dst}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eev = spark.createDataFrame(
        [(900001, None, 1, None, None, None)],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    ev.unionByName(eev.select(ev.columns)).write.parquet(f"{dst}/events.parquet")

    from reactive_kinesis_spark.queries import load_all

    failures = []
    for name, qd in load_all().items():
        try:
            assert qd.fn(spark, dst).count() >= 0
        except Exception as e:  # noqa: BLE001 — collect, report all at once
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)
