"""bench.py's load-contamination stamp (verdict r13 task #3).

BENCH_r13.json shipped a 25.30 s reading captured at loadavg 2.6 and
nothing in the artifact said "don't trust this" — adjudicating it took
a judge re-run with its own quiet bench.  The stamp makes a contended
reading self-documenting: ``load_contaminated`` is true when the 1-min
loadavg at bench start exceeds ``LOAD_CONTAMINATION_1M``.  These tests
pin the predicate (threshold boundary, unknown-loadavg behavior) —
running the actual bench belongs to the driver, not the suite.
"""

from __future__ import annotations

from tests.conftest import load_script


def _bench():
    return load_script("bench")


def test_contamination_threshold_boundary():
    b = _bench()
    t = b.LOAD_CONTAMINATION_1M
    assert not b._contaminated([t, 5.0, 5.0])  # at the cap: clean
    assert b._contaminated([t + 0.01, 0.0, 0.0])  # just over: flagged
    assert not b._contaminated([0.1, 2.6, 2.6])  # only the 1-min avg gates


def test_unknown_loadavg_never_flags():
    # The stamp asserts contamination, never cleanliness: a platform
    # without getloadavg must not flag (and must not crash).
    b = _bench()
    assert not b._contaminated(None)
    assert not b._contaminated([])


def test_host_fingerprint_shape():
    # r16 verdict task #3: perf artifacts must carry the hardware
    # identity (the r16 band dispute was host drift — 80 vs 32 reported
    # CPUs — that no artifact could prove).  The fingerprint must be
    # JSON-serializable, carry a positive cpu_count on Linux, and be
    # stable within a process (same box -> same stamp).
    import json

    from discogs_etl_spark.session import host_fingerprint

    fp = host_fingerprint()
    assert set(fp) == {"cpu_count", "cpu_model"}
    assert isinstance(fp["cpu_count"], int) and fp["cpu_count"] >= 1
    assert fp["cpu_model"] is None or (
        isinstance(fp["cpu_model"], str) and fp["cpu_model"]
    )
    json.dumps(fp)
    assert fp == host_fingerprint()


def test_mid_run_contention_flags_via_after_loadavg():
    # r14 review: a clean start plus foreign work arriving mid-run
    # shipped load_contaminated: false — the BENCH_r13 failure mode for
    # late arrivals.  The END loadavg gates past the bench's own
    # measured contribution; at-or-under the margin stays clean (the
    # bench itself pushes the 1-min average toward ~1.7 on a quiet box).
    b = _bench()
    t = b.LOAD_CONTAMINATION_AFTER_1M
    assert not b._contaminated([0.1, 0.1, 0.1], [t, 5.0, 5.0])  # at cap
    assert b._contaminated([0.1, 0.1, 0.1], [t + 0.01, 0.0, 0.0])
    assert not b._contaminated([0.1, 0.1, 0.1], None)  # unknown end load
    assert not b._contaminated([0.1, 0.1, 0.1], [])


def test_session_stamp_reports_master_and_parallelism(spark):
    # Stamped next to load_contaminated: a run that ignored its CPUs shows.
    sc = spark.sparkContext
    stamp = _bench()._session_stamp(spark)
    assert stamp == {"master": sc.master, "default_parallelism": sc.defaultParallelism}
    assert list(stamp) == ["master", "default_parallelism"] and stamp["default_parallelism"] >= 1
