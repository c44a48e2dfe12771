"""Session-timezone exposure map, final quadrant (verdict r9 #5).

The r7/r9 TZ audits eliminated PROCESS-zone exposure (TIMESTAMP_NTZ
outputs) and mapped the remaining SESSION-zone exposure to the four
hour-bucketing queries, covered only by ``tune_for_correctness``'s UTC
pin.  These tests complete the map by measuring, not assuming:

1. which of the four actually DEPEND on the session zone — i.e. where
   the pin is load-bearing.  Measured result (Pacific/Chatham, +12:45 /
   +13:45, deliberately not a whole-hour offset): the three streaming
   queries SHIFT because ``F.window`` buckets the epoch INSTANT (floor
   of epoch seconds — zone-shifted when the NTZ wall clock was cast to
   an instant under a non-UTC zone), while ``events_hourly_agg`` is
   session-zone-INVARIANT because its chain — NTZ→TIMESTAMP cast,
   ``date_trunc('hour')`` (zone-LOCAL truncation of the wall clock),
   TIMESTAMP→NTZ output cast — all evaluates in the same session zone
   and composes to the identity on the wall clock.  (Caveat pinned by
   the invariance assertion's comment, not the assertion itself: the
   NTZ→TS cast is lossy for wall clocks inside a DST gap, so the UTC
   pin remains defense-in-depth for DST-edge data even where the
   semantics compose to identity.)

2. that every driver entry path applies the pin: ``entry()`` and every
   ``queries()`` wrapper in ``__spark_entry__`` must leave the session
   at UTC even when handed a session parked on a hostile zone — the
   driver constructs its own plain session, so the wrapper IS the pin.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"
HOSTILE = "Pacific/Chatham"  # +12:45/+13:45 — hour buckets land at :45

SHIFTING = (
    "stream_events_hourly",
    "stream_sliding_window",
    "stream_hourly_error_rate",
)
INVARIANT = ("events_hourly_agg",)


def _collect(spark, name, tz):
    from discogs_etl_spark import registry

    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = registry.queries()[name](spark, SF)
        return sorted(tuple(str(x) for x in r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


@pytest.mark.parametrize("name", SHIFTING)
def test_window_bucket_queries_shift_without_pin(spark, name):
    # The pin is LOAD-BEARING here: F.window buckets instants by epoch,
    # and the NTZ wall clock maps to a different instant under a
    # non-UTC session zone, so a 45-minute-offset zone relabels and
    # repartitions the hour buckets.  If this ever stops shifting the
    # query stopped depending on the session zone and the exposure map
    # in SCALE_NOTES should be updated.
    assert _collect(spark, name, "UTC") != _collect(spark, name, HOSTILE), (
        f"{name} no longer depends on the session timezone — the UTC pin "
        "is not load-bearing for it; update the TZ exposure map"
    )


@pytest.mark.parametrize("name", INVARIANT)
def test_date_trunc_query_is_session_tz_invariant(spark, name):
    # date_trunc('hour') truncates the session-LOCAL wall clock, so the
    # NTZ→TS cast at zone Z, the truncation at Z, and the NTZ output
    # cast at Z compose to trunc(wall) — identical under any zone whose
    # wall clocks round-trip (i.e. outside DST gaps).  The UTC pin is
    # defense-in-depth here, not load-bearing.
    assert _collect(spark, name, "UTC") == _collect(spark, name, HOSTILE)


def test_every_driver_entry_path_applies_utc_pin(spark):
    # The driver hands us ITS OWN plain session (no UTC in its confs);
    # __spark_entry__.entry and every queries() wrapper must pin it.
    import __spark_entry__ as e

    spark.conf.set("spark.sql.session.timeZone", HOSTILE)
    try:
        e.entry(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC", (
            "entry() did not pin the session timezone to UTC"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    spark.conf.set("spark.sql.session.timeZone", HOSTILE)
    try:
        e.queries()["flagship_scan_filter_limit"](spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC", (
            "the queries() wrapper did not pin the session timezone to UTC"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_tune_for_correctness_matches_get_spark(spark, monkeypatch):
    """A plain session after ``tune_for_correctness`` holds get_spark's
    value for every runtime conf of the engine (``session._runtime_confs``),
    the join-strategy bound included, which a plain session reads as
    Spark's 10 MiB default.  get_spark's values are read from the
    SparkContext conf its builder wrote, which runtime sets never touch."""
    from discogs_etl_spark.session import _runtime_confs, tune_for_correctness

    built = spark.sparkContext.getConf()
    # the suite's session passes its partition count; tune derives it
    monkeypatch.setenv("SPARK_GRAFT_CPUS", built.get("spark.sql.shuffle.partitions"))
    keys = sorted(_runtime_confs())
    plain = spark.newSession()
    for k in keys:
        plain.conf.unset(k)
    assert plain.conf.get("spark.sql.autoBroadcastJoinThreshold") != built.get(
        "spark.sql.autoBroadcastJoinThreshold"
    )
    tune_for_correctness(plain)
    assert {k: plain.conf.get(k) for k in keys} == {k: built.get(k) for k in keys}
