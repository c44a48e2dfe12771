"""Shared determinism helpers for oracle-checked queries.

Floating-point sums are order-dependent and Spark's partial aggregation
order differs from DuckDB's, so every money/measure aggregate is
accumulated EXACTLY and only converted to DOUBLE at the end — identical
inputs then give bit-identical doubles on both engines.  See registry.py
module docstring for the full rule set.

Two exact representations are used:

- **Fixed-point longs** (``fixed``/``dsum``/``davg``): values scale to
  integers (round(x * 10^scale)), sum as int64, divide the double of the
  exact sum back down.  ~6x faster than decimal aggregation (measured on
  TPC-H Q1: 1.8s → 0.3s at sf0.1) because the hash-agg buffer stays a
  primitive long.  Exactness bounds: per-value |x|·10^scale < 2^52 for
  the round-trip, Σ < 2^63 for the accumulator — fine until ~10^14 rows
  of money-sized values.  The final long→double cast rounds the same
  exact integer DuckDB's decimal→double cast rounds, so results match
  bit-for-bit.
- **Decimals** (``dec``): kept for per-row EXPRESSIONS whose oracle twin
  is decimal arithmetic with implicit scale growth (products), and as
  the drop-in alternative where a deployment's magnitudes exceed the
  fixed-point bounds.

The DuckDB oracle twins (``sql_dsum``/``sql_davg``) stay in DECIMAL —
the point is two INDEPENDENT exact paths agreeing on the same rational.

**Column reuse.**  ``fixed``/``dsum``/``davg`` take a plain column name
and build their Column once per ``(name, scale, guard)`` per process
(``functools.lru_cache``): one build is ~25 Column operations, each a
JVM round trip plus PySpark's call-site capture — 18–20 ms per
``fixed()`` and 23 ms per ``dsum()`` on a 4-vCPU host, paid by every
money aggregate of every query build.  Reuse is sound because a Spark 4
Column is an unresolved ``ColumnNode`` tree: it carries no session,
attribute id or conf, and is bound only when a DataFrame uses it.
Measured: a Column built under ANSI on returns NULL for a malformed
input when reused under ANSI off (and raises when ANSI is back on;
tests/test_fixed_point_guard.py pins this), and it still resolves after
``spark.stop()`` and a new session.  The guard conf is the one
setting baked into the tree, so it is part of the key and still read
from the active session on every call (0.09 ms).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str, scale: int = 2, prec: int = 18) -> Column:
    return _c(col).cast(f"decimal({prec},{scale})")


# Session conf that turns the silent fixed-point envelope into a loud
# runtime failure (see module docstring: per-value |x|·10^scale < 2^52 is
# required for the double→long round-trip to be exact).  Off by default —
# the guard adds a branch per row — but a deployment validating a new
# data domain sets it once and any out-of-envelope value kills the job
# with a clear message instead of silently losing ulps / wrapping.
#
# BINDING IS AT PLAN-CONSTRUCTION TIME, not collect time: ``fixed()``
# resolves this conf from the ACTIVE session while the DataFrame is being
# BUILT (query builders take the session as an argument, but Column
# expressions are constructed free-standing).  Set the conf BEFORE
# constructing queries; a plan built earlier (or built with no active
# session) does not retroactively grow the guard when the conf flips on
# later.  Guarded runs should therefore set it in the session factory /
# spark-submit conf, not mid-session.
FIXED_GUARD_CONF = "spark.discogs_etl_spark.debug.fixedPointGuard"
_FIXED_MAX = float(2**52)


def _fixed_guard_enabled() -> bool:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return False
    return s.conf.get(FIXED_GUARD_CONF, "false").lower() == "true"


def half_up_long(x: Column) -> Column:
    """HALF_UP-round a DOUBLE to long without ``F.round``'s per-row
    BigDecimal (r19, guide §1.2): Spark's Round on DoubleType allocates
    ``BigDecimal.valueOf(x).setScale(0, HALF_UP)`` per row — measured
    ~2x on money-aggregation shapes (TPC-H Q1-like sum-of-fixed at
    sf0.1: 1.5 -> 0.7 s).

    Exact-equality construction, for every |x| <= 2^51: start from
    r = floor(|x| + 0.5).  For |x| >= 1 the operand and the sum share a
    binade-scale, half-integers are representable, and no double lies
    strictly inside (n+0.5 - ulp/2, n+0.5), so r is already the HALF_UP
    integer.  The ONE overshoot family is sub-half |x| whose sum rounds
    up at the RESULT's coarser scale (|x| = 0.49999999999999994, the
    largest double below 0.5: +0.5 ties to 1.0 under round-to-even —
    caught by this module's adversarial-grid test) — corrected by the
    exact comparison |x| < r - 0.5 (r and r - 0.5 are both exactly
    representable up to 2^51, spacing 0.5 there), which subtracts the
    overshoot back.  Undershoot cannot occur: an exact sum >= n+1
    implies |x| >= n+0.5, and nearest-rounding of the sum never drops
    below n+1 from there.  Sign is applied last (HALF_UP is symmetric).
    A/B evidence: 0 divergences vs F.round over every fixture money
    column (600k rows x 4 cols, both signs), every BM25 contribution
    (3.66M rows), every lm-bigram contribution (308k), and the
    boundary grid in tests/test_fixed_point_guard.py.  NULL
    propagates.  NaN/±Inf skip the floor (``FLOOR(double)`` returns a
    saturating BIGINT: NaN -> 0, ±Inf -> ±Long.MAX under either ANSI
    setting) and reach the final ``.cast("long")`` unchanged, so they
    raise under ANSI exactly as the Round+cast path did (and cast to
    0 / ±Long.MAX with ANSI off).  2^51 sits above the fixed-point
    exactness envelope (2^52 is the ROUND-TRIP bound; sums beyond 2^51
    per VALUE were never exact), so callers inside that envelope lose
    nothing."""
    ax = F.abs(x)
    r = F.floor(ax + F.lit(0.5)).cast("double")
    r = F.when(ax < r - F.lit(0.5), r - F.lit(1.0)).otherwise(r)
    signed = F.when(x >= 0, r).otherwise(-r)
    # ax < inf is false for NaN and ±Inf (and NULL for NULL).
    return F.when(ax < F.lit(float("inf")), signed).otherwise(x).cast("long")


def fixed(name: str, scale: int = 2) -> Column:
    """Exact fixed-point representation: round(x·10^scale) as int64.

    With ``FIXED_GUARD_CONF`` set to true in the session AT PLAN-BUILD
    TIME (see the conf comment above), every value is runtime-checked
    against the 2^52 exactness envelope (NULLs pass); violations raise
    instead of silently rounding wrong.  Non-finite inputs (NaN, ±Inf)
    also fail the ``abs(v) < 2^52`` check and raise — previously they
    silently cast to 0L, which is never what a money sum wants.

    The Column is built once per ``(name, scale, guard)`` per process
    (module docstring: Column reuse)."""
    return _fixed(name, scale, _fixed_guard_enabled())


@functools.lru_cache(maxsize=256)
def _fixed(name: str, scale: int, guard: bool) -> Column:
    xd = F.col(name) * (10**scale)
    # half_up_long, not F.round: identical HALF_UP integers (see its
    # proof/measurement docstring) without a per-row BigDecimal — the
    # r19 change that sped every money aggregation ~2x.
    v: Column = half_up_long(xd)
    if guard:
        # |half_up(xd)| >= 2^52 iff |xd| >= 2^52 - 0.5 (representable:
        # ulp below 2^52 is 0.5), so guarding the PRE-ROUND double is
        # the old |round(xd)| < 2^52 check verbatim — and it still
        # fires with this curated message on NaN/Infinity before ANSI
        # floor/cast can raise its generic one.
        ok = F.col(name).isNull() | (F.abs(xd) < F.lit(_FIXED_MAX - 0.5))
        guard_col = F.assert_true(
            ok,
            F.lit(
                f"discogs_etl_spark fixed-point overflow: |x|*10^{scale} "
                "exceeds 2^52 or the value is non-finite (NaN/Infinity) — "
                "the int64 fast path is not exact for this input; use "
                "dec()/sql decimals for this column "
                f"(guard enabled via {FIXED_GUARD_CONF})"
            ),
        )
        # assert_true returns NULL on success, raises on violation — the
        # when() forces it to evaluate next to every value
        v = F.when(guard_col.isNull(), v)
    return v


def dsum(name: str, scale: int = 2, prec: int = 18) -> Column:
    """Order-independent SUM: exact fixed-point accumulation, double
    result.  (prec accepted for signature-compat with the decimal twin.)"""
    return _dsum(name, scale, _fixed_guard_enabled())


@functools.lru_cache(maxsize=256)
def _dsum(name: str, scale: int, guard: bool) -> Column:
    return F.sum(_fixed(name, scale, guard)).cast("double") / (10**scale)


def davg(name: str, scale: int = 2, prec: int = 18) -> Column:
    """Order-independent AVG: exact sum / count, divided as doubles in the
    same order as the SQL twin (sum→double, ÷10^scale, ÷count)."""
    return _davg(name, scale, _fixed_guard_enabled())


@functools.lru_cache(maxsize=256)
def _davg(name: str, scale: int, guard: bool) -> Column:
    return _dsum(name, scale, guard) / F.count(F.lit(1))


def epoch(col: Column | str) -> Column:
    """Epoch seconds as DOUBLE, safe for every timestamp family Spark can
    hand us.  The fixtures store ``ts`` as TIMESTAMP(MICROS) with
    isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ — and Spark
    refuses a direct NTZ→DOUBLE cast.  Casting through TIMESTAMP first
    interprets the wall-clock in the session zone (pinned to UTC in
    session.py), so the result is exactly DuckDB's ``epoch(ts)`` micros/1e6
    double.  A plain TIMESTAMP (or a DOUBLE already) passes through the
    same two casts unchanged."""
    return _c(col).cast("timestamp").cast("double")


# SQL-side twins (DuckDB dialect) used when composing oracle strings.
def sql_dsum(expr: str, scale: int = 2, prec: int = 18) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2, prec: int = 18) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE) / COUNT(*))"


# Every per-(application, sf_dir) memo dict in the package, so that
# clear_session_memos can empty them all at once.
_SESSION_MEMOS: list[dict] = []


def memo_cache() -> dict:
    """A new, registered per-(application, sf_dir) memo dict."""
    cache: dict = {}
    _SESSION_MEMOS.append(cache)
    return cache


def clear_session_memos() -> None:
    """Forget every memoized frame and check in every ``memo_cache``:
    the next consumer rebuilds (and pays for) what it reads.  The
    work-growth gate measures each query from this state, so a query's
    count does not depend on which sibling ran before it."""
    for cache in _SESSION_MEMOS:
        cache.clear()


def session_memo(cache, spark, sf_dir, build):
    """``build()``'s result, memoized per (Spark application id, sf_dir)
    — the one per-application state mechanism of the package: the dedup
    family's pair graph, the co-order edge set and the lexical postings
    (each built behind an eager localCheckpoint), and the embedding
    width check.  Entries from earlier (stopped) sessions are evicted:
    checkpointed blocks die with their executors, and a long-lived
    process that cycles SparkSessions must not pin dead DataFrames."""
    app = spark.sparkContext.applicationId
    for k in [k for k in cache if k[0] != app]:
        del cache[k]
    key = (app, sf_dir)
    if key not in cache:
        cache[key] = build()
    return cache[key]
