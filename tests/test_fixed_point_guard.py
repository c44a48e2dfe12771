"""The fixed-point exactness envelope must fail LOUDLY when opted in.

queries/_util.py's int64 fast path (fixed/dsum/davg) is exact only while
per-value |x|·10^scale < 2^52; beyond that the double→long round-trip
silently loses ulps.  The debug conf turns that documented bound into a
runtime assertion — these tests pin that the guard (1) trips on
overflow-sized input, (2) passes in-envelope data unchanged, and (3)
stays completely out of the plan when the conf is off (the default)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.queries._util import FIXED_GUARD_CONF, davg, dsum, fixed


@pytest.fixture
def guard_on(spark):
    spark.conf.set(FIXED_GUARD_CONF, "true")
    yield spark
    spark.conf.unset(FIXED_GUARD_CONF)


def test_guard_trips_on_overflow_sized_value(guard_on):
    spark = guard_on
    # 1e16 * 10^2 = 1e18 > 2^52 ≈ 4.5e15 — outside the exact envelope
    df = spark.createDataFrame([(1.0,), (1e16,)], "x double")
    with pytest.raises(Exception, match="fixed-point overflow"):
        df.agg(dsum("x", 2).alias("s")).collect()


def test_guard_passes_envelope_values_and_nulls(guard_on):
    spark = guard_on
    df = spark.createDataFrame([(1.25,), (-2.50,), (None,)], "x double")
    row = df.agg(dsum("x", 2).alias("s")).first()
    assert row["s"] == -1.25


def test_guard_off_by_default_no_assert_in_plan(spark):
    assert spark.conf.get(FIXED_GUARD_CONF, "false") == "false"
    df = spark.createDataFrame([(1e16,), (1.0,)], "x double")
    # no raise, and the expression tree carries no assert_true node
    df.agg(F.sum(fixed("x", 2)).alias("s")).collect()
    plan = df.select(fixed("x", 2).alias("f"))._jdf.queryExecution().toString()
    assert "assert_true" not in plan


def test_half_up_long_matches_round_on_boundary_grid(spark):
    """The r19 floor-based HALF_UP (no per-row BigDecimal) must agree
    with F.round on a deterministic grid of adversarial doubles: exact
    halves (both signs), nearest-doubles around halves, money-scaled
    values, and magnitudes up to the documented 2^51 equality bound."""
    from pyspark.sql import functions as F

    from discogs_etl_spark.queries._util import half_up_long

    vals = []
    for n in (0, 1, 2, 7, 99, 10**6, 10**12, 2**40, 2**50):
        for base in (n + 0.5, -(n + 0.5)):
            vals.extend(
                [
                    base,
                    # nearest representable neighbours of the half
                    float.fromhex(base.hex())
                    and __import__("math").nextafter(base, 0.0),
                    __import__("math").nextafter(base, base * 4 + 8),
                ]
            )
    vals.extend([0.005 * k for k in range(-400, 400, 7)])
    vals.extend([123.455, -123.455, 123.465, -123.465, 0.0, -0.0])
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    mism = (
        df.select(
            (F.round(F.col("x")).cast("long") != half_up_long(F.col("x"))).alias("d")
        )
        .where("d")
        .count()
    )
    assert mism == 0


def test_half_up_long_null_propagates(spark):
    from pyspark.sql import functions as F

    from discogs_etl_spark.queries._util import half_up_long

    df = spark.createDataFrame([(None,), (1.25,)], "x double")
    rows = {r[0]: r[1] for r in df.select("x", half_up_long(F.col("x"))).collect()}
    assert rows[1.25] == 1 and rows[None] is None


def test_columns_are_built_once_per_name_scale_guard(spark):
    assert fixed("x", 2) is fixed("x", 2)
    assert dsum("x", 2) is dsum("x", 2)
    assert davg("x", 6) is davg("x", 6)
    assert fixed("x", 2) is not fixed("x", 6)
    assert fixed("x", 2) is not fixed("y", 2)


def test_guard_takes_effect_on_the_next_call(spark):
    df = spark.createDataFrame([(1.25,)], "x double")
    off = fixed("x", 2)
    spark.conf.set(FIXED_GUARD_CONF, "true")
    try:
        on = fixed("x", 2)
        plan = df.select(on.alias("f"))._jdf.queryExecution().toString()
    finally:
        spark.conf.unset(FIXED_GUARD_CONF)
    assert on is not off
    assert "assert_true" in plan
    assert fixed("x", 2) is off


def test_memoized_column_follows_the_current_ansi_setting(spark):
    """A Column carries no conf: one built under ANSI on and reused under
    ANSI off casts a malformed value to NULL, and raises again once ANSI
    is back on."""
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    df = spark.createDataFrame([("abc",)], "x string")
    try:
        spark.conf.set(key, "true")
        col = fixed("x", 2)
        spark.conf.set(key, "false")
        assert fixed("x", 2) is col
        assert df.select(col.alias("f")).first()["f"] is None
        spark.conf.set(key, "true")
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            df.select(col.alias("f")).collect()
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize(
    "bad", [float("nan"), float("inf"), float("-inf")], ids=["nan", "+inf", "-inf"]
)
def test_non_finite_value_raises_under_ansi(spark, bad):
    """NaN/±Inf never become a number under ANSI: FLOOR(double) would
    saturate them to 0 / ±Long.MAX, so half_up_long routes them through
    its final cast, which raises — for the per-row value and the sum."""
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    df = spark.createDataFrame([(1.25,), (bad,)], "x double")
    try:
        spark.conf.set(key, "true")
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.select(fixed("x", 2).alias("f")).collect()
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.agg(dsum("x", 2).alias("s")).collect()
    finally:
        spark.conf.set(key, before)
