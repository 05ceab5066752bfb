"""Round-15 optimization pins.

1. The deficient-scan repartition derives its partition count from the
   table's uncompressed byte size (floor 2, cap ``defaultParallelism``)
   instead of raw ``defaultParallelism`` — the r14 verdict's top ask (13/29
   headline queries regressed from 32 near-empty partitions on tiny
   inputs; the 8-core-beats-32 inversion in the driver's scaling block).
2. The r14 in-operator persists are threaded through the ``cache_registry``
   idiom (dedup._persist) so long-lived sessions can release storage
   deterministically (r14 ADVICE / verdict Next #6).
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from reactive_kinesis_spark import tables
from reactive_kinesis_spark.tables import load_table


@pytest.fixture(autouse=True)
def _fresh_memo():
    tables.clear_table_memo()
    os.environ.pop("SPARK_GRAFT_SCAN_PARALLELIZE", None)
    os.environ.pop("SPARK_GRAFT_SCAN_PARTITION_BYTES", None)
    yield
    tables.clear_table_memo()
    os.environ.pop("SPARK_GRAFT_SCAN_PARALLELIZE", None)
    os.environ.pop("SPARK_GRAFT_SCAN_PARTITION_BYTES", None)


def _plan(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _injected_parts(plan: str, key: str) -> int:
    m = re.search(rf"hashpartitioning\({key}#\d+L?, (\d+)\)", plan)
    assert m, f"no injected hashpartitioning({key}) exchange in plan"
    return int(m.group(1))


def test_partition_count_derived_from_bytes_not_cores(spark, sf_dir):
    """sf0.001 lineitem is ~130 KB uncompressed: at the default 256 KiB
    target the derived count is the floor (2), NOT defaultParallelism."""
    plan = _plan(load_table(spark, sf_dir, "lineitem"))
    parts = _injected_parts(plan, "l_partkey")
    expected = min(
        spark.sparkContext.defaultParallelism,
        max(2, -(-tables._scan_layout(
            tables.table_path(sf_dir, "lineitem"))[1] // 262144)),
    )
    assert parts == expected
    assert parts < spark.sparkContext.defaultParallelism or (
        spark.sparkContext.defaultParallelism <= 2
    )


def test_partition_count_caps_at_default_parallelism(spark, sf_dir):
    """A tiny byte target makes the derivation want many partitions; the
    cap keeps it at defaultParallelism (the r14 upper bound)."""
    os.environ["SPARK_GRAFT_SCAN_PARTITION_BYTES"] = "1"
    tables.clear_table_memo()
    plan = _plan(load_table(spark, sf_dir, "lineitem"))
    assert _injected_parts(plan, "l_partkey") == (
        spark.sparkContext.defaultParallelism
    )


def test_partition_count_env_override(spark, sf_dir):
    os.environ["SPARK_GRAFT_SCAN_PARTITION_BYTES"] = "65536"
    tables.clear_table_memo()
    plan = _plan(load_table(spark, sf_dir, "lineitem"))
    _, total = tables._scan_layout(tables.table_path(sf_dir, "lineitem"))
    expected = min(
        spark.sparkContext.defaultParallelism, max(2, -(-total // 65536))
    )
    assert _injected_parts(plan, "l_partkey") == expected


def test_scan_layout_prunes_hidden_dirs_but_keeps_partitions(tmp_path):
    """Spark's hidden-path rule: ``.x`` and ``_x`` directories are skipped,
    ``name=value`` partition directories (even ``_batch_id=3``) count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"v": list(range(10))})
    for sub in ("k=1", "_batch_id=3", "_temporary/0", ".staging", "_batch_id=3/.tmp"):
        (tmp_path / sub).mkdir(parents=True, exist_ok=True)
        pq.write_table(table, str(tmp_path / sub / "part-0.parquet"))
    rgs, total = tables._scan_layout(str(tmp_path))
    one = pq.ParquetFile(str(tmp_path / "k=1" / "part-0.parquet")).metadata
    assert rgs == 2 * one.num_row_groups
    assert total == 2 * one.row_group(0).total_byte_size


def test_clear_table_memo_hook_drops_layout_and_memo(spark, sf_dir):
    a = load_table(spark, sf_dir, "documents")
    assert tables._TABLE_MEMO[spark]
    assert tables._LAYOUT_CACHE
    tables.clear_table_memo()
    assert spark not in tables._TABLE_MEMO or not tables._TABLE_MEMO[spark]
    assert not tables._LAYOUT_CACHE
    b = load_table(spark, sf_dir, "documents")
    assert a is not b  # fresh read after invalidation


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", "a"),
            (2, "the cat sat on the hat", "en", "a"),
            (3, "one two three four five six", "en", "b"),
            (4, "the dog ran over the hill", "fr", "b"),
        ],
        "doc_id long, text string, lang string, source string",
    )


def _vecs(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) / 2.0 for j in range(8)], i % 2)
            for i in range(1, 13)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _assert_registered_and_release(registry):
    assert registry, "operator did not register its persisted frame(s)"
    for frame in registry:
        assert frame.storageLevel.useMemory or frame.storageLevel.useDisk
        frame.unpersist(blocking=True)
        assert not frame.storageLevel.useMemory and not frame.storageLevel.useDisk


def test_pair_ngram_precision_cache_registry(spark):
    from reactive_kinesis_spark.operators.dedup import pair_ngram_precision

    pairs = spark.createDataFrame([(1, 2)], "id_1 long, id_2 long")
    reg: list = []
    out = pair_ngram_precision(_docs(spark), pairs, cache_registry=reg)
    rows = out.collect()
    assert len(rows) == 1
    assert len(reg) == 3  # base + unigram counts + bigram counts
    _assert_registered_and_release(reg)


def test_lexstats_cache_registry(spark):
    from reactive_kinesis_spark.operators.lexstats import (
        conditional_entropy,
        nb_domain_llr,
        pmi_collocations,
    )

    docs = _docs(spark)
    for fn, kw in [
        (nb_domain_llr, {"target_filter": "lang = 'en'"}),
        (pmi_collocations, {"min_count": 1}),
        (conditional_entropy, {}),
    ]:
        reg: list = []
        fn(docs, cache_registry=reg, **kw).collect()
        _assert_registered_and_release(reg)


def test_bigram_lm_cache_registry(spark):
    from reactive_kinesis_spark.operators.text import bigram_lm_score

    reg: list = []
    bigram_lm_score(_docs(spark), cache_registry=reg).collect()
    _assert_registered_and_release(reg)


def test_similarity_cache_registry(spark):
    from reactive_kinesis_spark.operators.similarity import (
        ann_lsh_topk,
        embedding_neardup_pairs,
        semantic_dedup,
    )

    vecs = _vecs(spark)
    qs = vecs.where(F.col("vec_id") <= 3)
    for build in [
        lambda reg: ann_lsh_topk(vecs, qs, dim=8, cache_registry=reg),
        lambda reg: ann_lsh_topk(vecs, qs, dim=8, family="int", cache_registry=reg),
        lambda reg: embedding_neardup_pairs(vecs, dim=8, cache_registry=reg),
        lambda reg: embedding_neardup_pairs(
            vecs, dim=8, family="int", cache_registry=reg
        ),
        lambda reg: semantic_dedup(vecs, k=2, cache_registry=reg),
    ]:
        reg: list = []
        build(reg).collect()
        _assert_registered_and_release(reg)


def test_semdedup_cluster_cap_property(spark):
    """The k∝N derivation keeps expected cluster size = target (so real
    clusters sit ~256× under SEMDEDUP_MAX_CLUSTER_ROWS), and an over-cap
    cluster fails loudly with the remedy instead of an opaque worker OOM
    (SCALING.md 'SemDeDup per-cluster memory')."""
    from reactive_kinesis_spark.operators.similarity import (
        SEMDEDUP_MAX_CLUSTER_ROWS,
        SEMDEDUP_TARGET_CLUSTER_SIZE,
        _derive_k,
        semantic_dedup,
    )

    # property side: for any corpus size, derived k keeps E[|c|] <= target,
    # and the target sits far under the loud cap
    for n in (10, 1_000, 100_000, 10_000_000, 1_000_000_000):
        k = max(8, n // SEMDEDUP_TARGET_CLUSTER_SIZE)
        assert n / k <= SEMDEDUP_TARGET_CLUSTER_SIZE + 1
    assert SEMDEDUP_MAX_CLUSTER_ROWS >= 64 * SEMDEDUP_TARGET_CLUSTER_SIZE

    vecs = _vecs(spark)
    assert _derive_k(
        vecs.selectExpr("vec_id as __id", "embedding as __vec"),
        SEMDEDUP_TARGET_CLUSTER_SIZE,
    ) == 8

    # guard side: drop the cap to 4 rows -> the 12-vector corpus with k=1
    # puts one cluster over the cap and must raise the actionable message
    os.environ["SPARK_GRAFT_SEMDEDUP_MAX_ROWS"] = "4"
    try:
        with pytest.raises(Exception, match="SEMDEDUP_MAX_CLUSTER_ROWS"):
            semantic_dedup(vecs, k=1).collect()
    finally:
        os.environ.pop("SPARK_GRAFT_SEMDEDUP_MAX_ROWS", None)
    # and with the default cap the same corpus runs clean
    assert semantic_dedup(vecs, k=1).collect()


def test_cache_registry_does_not_change_results(spark):
    from reactive_kinesis_spark.operators.lexstats import pmi_collocations

    docs = _docs(spark)
    reg: list = []
    with_reg = pmi_collocations(docs, min_count=1, cache_registry=reg).collect()
    spark.catalog.clearCache()
    without = pmi_collocations(docs, min_count=1).collect()
    assert with_reg == without
    _assert_registered_and_release(reg)
