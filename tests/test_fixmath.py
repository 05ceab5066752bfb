"""The engine-portable fixed-point log2 (fixmath.py): cross-engine
bit-identity over boundary-heavy value grids, and the documented accuracy
envelope vs math.log2. Certification rests on the identity property; the
accuracy pin exists so a regression in the construction (fewer effective
bits, a wrong threshold) is caught even while identity still holds."""

from __future__ import annotations

import math

import pytest

from reactive_kinesis_spark.fixmath import (
    LOG2_SCALE,
    log2_fixed_ctes,
    with_log2_fixed,
)

# every small value, every power-of-two boundary (the CASE flips and the
# bit-extraction threshold), and decades up past 2^53 where the one
# rounding IEEE conversion kicks in
_GRID = sorted(
    set(
        list(range(1, 600))
        + [2**k + d for k in range(9, 62) for d in (-1, 0, 1)]
        + [10**k for k in range(1, 18)]
        + [3**k for k in range(1, 38)]
    )
)


def test_log2_fixed_cross_engine_bit_identity(spark, ddb):
    ddb.execute("DROP TABLE IF EXISTS __fixlog_grid")
    ddb.execute("CREATE TABLE __fixlog_grid AS SELECT unnest(?) AS c", [_GRID])
    cte = log2_fixed_ctes("__fixlog_grid", "c", "c", "lg", "lt")
    want = dict(ddb.execute(f"WITH {cte} SELECT c, lg FROM lt").fetchall())
    df = spark.createDataFrame([(v,) for v in _GRID], "c long")
    got = {r["c"]: r["lg"] for r in with_log2_fixed(df, "c", "lg").collect()}
    assert got == want
    ddb.execute("DROP TABLE __fixlog_grid")


def test_log2_fixed_accuracy_envelope(spark):
    df = spark.createDataFrame([(v,) for v in _GRID], "c long")
    rows = with_log2_fixed(df, "c", "lg").collect()
    for r in rows:
        err = abs(r["lg"] / LOG2_SCALE - math.log2(r["c"]))
        # documented bound ~2^-13 accumulated + 1 output LSB (2^-12)
        assert err <= 1.5 / LOG2_SCALE, (r["c"], r["lg"], err)


def test_log2_fixed_exact_on_powers_of_two(spark):
    vals = [2**k for k in range(0, 62)]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = {r["c"]: r["lg"] for r in with_log2_fixed(df, "c", "lg").collect()}
    for k, v in enumerate(vals):
        assert got[v] == k * LOG2_SCALE


def test_log2_fixed_monotone_on_small_range(spark):
    df = spark.createDataFrame([(v,) for v in range(1, 400)], "c long")
    got = [r["lg"] for r in with_log2_fixed(df, "c", "lg").orderBy("c").collect()]
    assert all(a <= b for a, b in zip(got, got[1:]))


def test_log2_fixed_intermediates_dropped_and_src_expression(spark):
    df = spark.createDataFrame([(3, 4)], "a long, b long")
    out = with_log2_fixed(df, "a + b", "lg", prefix="p")
    assert out.columns == ["a", "b", "lg"]
    # value sanity: the shift-and-square result may legitimately sit 1 LSB
    # under float log2 (it truncates), so pin the real envelope, not equality
    lg = out.collect()[0]["lg"]
    assert abs(lg / LOG2_SCALE - math.log2(7)) <= 1.5 / LOG2_SCALE
    assert lg <= int(math.log2(7) * LOG2_SCALE) + 1


def test_log2_fixed_rejects_input_column_with_intermediate_prefix(spark):
    df = spark.createDataFrame([(3, 5)], "c long, __p_x0 long")
    with pytest.raises(ValueError, match="__p_"):
        with_log2_fixed(df, "c", "lg", prefix="p")
    # the default prefix derives from ``out``
    df = spark.createDataFrame([(3, 5)], "c long, __LG_e long")
    with pytest.raises(ValueError, match="__lg_"):
        with_log2_fixed(df, "c", "lg")
    # a column that merely resembles the prefix is kept
    df = spark.createDataFrame([(4, 5)], "c long, __pp_x0 long")
    out = with_log2_fixed(df, "c", "lg", prefix="p")
    assert out.columns == ["c", "__pp_x0", "lg"]
    assert out.collect()[0]["lg"] == 2 * LOG2_SCALE
