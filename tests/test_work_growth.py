"""The work-growth gate (scripts/plan_fingerprint.py: measure_work,
execution_work, assert_work_growth, build_lo_fixture).

``test_work_growth[<name>]`` grades every registered query: its work at
sf0.01 against its work at a fixture 10x smaller in every scaling table.
The sf0.01 side is the one measured collect tests/test_oracle.py
compares with the oracle (tests/conftest.py::measured_collect, stored in
the session's ``w_hi`` map); this file measures it with the same helper
only when that test has not run in the session (the file alone, ``-k``).
The lo side is measured here.  The other tests prove the gate sees what
it exists to see.  Each synthetic query is measured at n and GROWTH·n
rows, the gate's own 10x step:

* the three data-driven blowups with innocent plans — an equi-join over
  a fixed bucket space, an explode whose fan-out scales, a hot key that
  keeps a fixed share of the rows — each flag;
* a nested-loop join whose MATCHES grow linearly flags only because the
  loop is charged |build|·|stream| comparisons;
* quadratic work done inside an eager ``localCheckpoint`` while the
  DataFrame is being built is counted, although the returned plan only
  reads the checkpoint;
* a session-memo consumer reads the same work whether or not a sibling
  built the memo first (the gate measures with the memos empty);
* a join over a stage that turns out empty still counts its other
  side (adaptive execution, whose run-time choices race, is off while
  measuring).
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.registry import all_specs
from discogs_etl_spark.tables import TABLE_NAMES
from tests.conftest import SF_ORACLE, load_script, measured_collect

_PF = load_script("plan_fingerprint")
SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_work_growth(spark, sf_lo, w_hi, name):
    """Every registered query's work grows at most ALPHA_FLAG-fast over
    the 10x data step, unless WORK_ALLOWED lists it (and then it must
    still flag); a reading within ALPHA_MARGIN of the flag is not
    judged.  The action is the oracle comparison's collect."""
    if name not in w_hi:
        measured_collect(spark, w_hi, name)
    w_lo = _PF.measure_work(spark, lambda: SPECS[name].fn(spark, sf_lo).collect())[0]
    _PF.assert_work_growth(name, w_lo, w_hi[name])


def _growth(spark, build, n):
    """(W at n rows, W at GROWTH·n rows) of ``build(spark, n).collect()``."""
    return tuple(
        _PF.measure_work(spark, lambda m=m: build(spark, m).collect())[0]
        for m in (n, _PF.GROWTH * n)
    )


def _assert_flags(w_lo, w_hi):
    with pytest.raises(AssertionError, match="super-linear work"):
        _PF.assert_work_growth("q1_pricing_summary", w_lo, w_hi)


def _bucket_pairs(spark, n):
    # Equi-join over a fixed 4-bucket key space: n²/4 matches.
    a = spark.range(n).select(F.col("id").alias("x"), (F.col("id") % 4).alias("k"))
    b = spark.range(n).select(F.col("id").alias("y"), (F.col("id") % 4).alias("k"))
    return a.join(b, "k")


def test_fixed_bucket_equi_join_flags(spark):
    _assert_flags(*_growth(spark, lambda s, n: _bucket_pairs(s, n).agg(F.count("x")), 200))


def test_scaling_explode_fan_out_flags(spark):
    def build(s, n):
        # Row i explodes into i + 1 rows: n(n + 1)/2 in total.
        exploded = s.range(n).select(F.explode(F.sequence(F.lit(0), F.col("id"))).alias("v"))
        return exploded.agg(F.sum("v"))

    _assert_flags(*_growth(spark, build, 200))


def test_concentrating_hot_key_flags(spark):
    def build(s, n):
        # One key holds every tenth row; the self-join squares its share.
        key = F.when(F.col("id") % 10 == 0, F.lit(-1)).otherwise(F.col("id"))
        a = s.range(n).select(key.alias("k"), F.col("id").alias("x"))
        b = s.range(n).select(key.alias("k"), F.col("id").alias("y"))
        return a.join(b, "k").agg(F.count("x"))

    _assert_flags(*_growth(spark, build, 200))


def test_linear_query_does_not_flag(spark):
    def build(s, n):
        a = s.range(n).select(F.col("id").alias("x"), (F.col("id") % 7).alias("k"))
        return a.groupBy("k").agg(F.sum("x"))

    w_lo, w_hi = _growth(spark, build, 200)
    assert 0.8 < _PF.work_alpha(w_lo, w_hi) < 1.1
    _PF.assert_work_growth("q1_pricing_summary", w_lo, w_hi)


def test_nested_loop_is_charged_its_comparisons(spark):
    def build(s, n):
        a = s.range(n).select(F.col("id").alias("x"))
        b = s.range(n).select(F.col("id").alias("u"))
        # OR of equalities: a BroadcastNestedLoopJoin emitting ~2n matches.
        return a.join(b, (a.x == b.u) | (a.x + 1 == b.u)).agg(F.count("x"))

    n = 200
    w_lo, w_hi = _growth(spark, build, n)
    assert w_lo >= n * n and w_hi >= (10 * n) ** 2
    _assert_flags(w_lo, w_hi)


def test_eager_checkpoint_work_is_counted(spark):
    def build(s, n):
        # The quadratic runs while the DataFrame is being built; the
        # returned plan only scans one checkpointed row.
        return _bucket_pairs(s, n).localCheckpoint().limit(1)

    _assert_flags(*_growth(spark, build, 200))


def test_lo_fixture_is_one_growth_step_below_sf001(sf_lo):
    for t in TABLE_NAMES:
        lo = pq.ParquetFile(f"{sf_lo}/{t}.parquet").metadata.num_rows
        hi = pq.ParquetFile(f"{SF_ORACLE}/{t}.parquet").metadata.num_rows
        expected = lo if t in ("region", "nation") else _PF.GROWTH * lo
        assert hi == expected, f"{t}: {lo} rows at lo, {hi} at sf0.01"
    # Sampled tables keep the generator's dense 0..n-1 keys.
    for t, key in _PF.LO_SAMPLED.items():
        ids = pq.read_table(f"{sf_lo}/{t}.parquet", columns=[key])[key].to_pylist()
        assert sorted(ids) == list(range(len(ids))), t


def test_memo_consumer_work_is_order_independent(spark, sf_lo):
    """The gate measures with the session memos empty: the pair-graph
    consumer is charged the graph's build whether it runs first or after
    a sibling that built (and memoized) the same graph."""
    from discogs_etl_spark.queries._util import clear_session_memos

    consumer = SPECS["dedup_connected_components"].fn
    sibling = SPECS["dedup_cluster_stats"].fn

    clear_session_memos()
    first, _ = _PF.measure_work(spark, lambda: consumer(spark, sf_lo).count())
    sibling(spark, sf_lo).count()
    again, _ = _PF.measure_work(spark, lambda: consumer(spark, sf_lo).count())
    assert first == again
    # And the count is exact: a repeat reads the same number.
    assert _PF.measure_work(spark, lambda: consumer(spark, sf_lo).count())[0] == first


def test_empty_stage_does_not_prune_the_count(spark):
    """While measuring, adaptive execution is off, so no join over a
    stage that turns out empty is swapped for an empty relation (which
    sibling stages had already run would be a race); the setting is
    restored afterwards."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key, None)
    assert _PF.measure_work(spark, lambda: spark.conf.get(key))[1] == "false"
    assert spark.conf.get(key, None) == before

    def build(s, n):
        big = s.range(n).select((F.col("id") % 4).alias("k"))
        # Empty only at run time: nothing statically prunes the join.
        none = s.range(n).where(F.length(F.col("id").cast("string")) > 30)
        none = none.select((F.col("id") % 4).alias("k"))
        return big.join(none, "k").agg(F.count("k"))

    w = _PF.measure_work(spark, lambda: build(spark, 5000).collect())[0]
    assert w >= 2 * 5000, w


def test_work_allowance_is_exact():
    """An allowance is exact, like the nested-loop ALLOWED counts: an
    unlisted super-linear query fails, and so does a listed one that no
    longer flags; only a reading within ALPHA_MARGIN of the flag is
    judged neither way."""
    listed = "gate_control_quadratic_join"
    assert listed in _PF.WORK_ALLOWED
    _PF.assert_work_growth(listed, 1_000, 100_000)  # alpha 2.0, allowed
    _PF.assert_work_growth("q1_pricing_summary", 1_000, 10_000)  # linear
    with pytest.raises(AssertionError, match="super-linear work"):
        _PF.assert_work_growth("q1_pricing_summary", 1_000, 100_000)
    with pytest.raises(AssertionError, match="stale allowance"):
        _PF.assert_work_growth(listed, 1_000, 10_000)
    # A reading within ALPHA_MARGIN of the flag is not judged either way.
    near = round(1_000 * _PF.GROWTH ** (_PF.ALPHA_FLAG + _PF.ALPHA_MARGIN / 2))
    _PF.assert_work_growth(listed, 1_000, near)
    _PF.assert_work_growth("q1_pricing_summary", 1_000, near)
    near = round(1_000 * _PF.GROWTH ** (_PF.ALPHA_FLAG - _PF.ALPHA_MARGIN / 2))
    _PF.assert_work_growth(listed, 1_000, near)
    _PF.assert_work_growth("q1_pricing_summary", 1_000, near)


def test_work_allowances_name_registered_queries():
    assert set(_PF.WORK_ALLOWED) <= set(SPECS)
