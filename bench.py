#!/usr/bin/env python
"""Headline-query benchmark.

Runs the registry's bench set at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.  The LAST stdout
line is the compact contract JSON: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...} — sized to survive a
2000-char stdout-tail capture.  A preceding detail line carries the
per-query [min, med, max] spread, loadavg bracket and host fingerprint
(same fields as before r19; they moved off the contract line because
the driver's tail capture truncated the old single fat line mid-JSON
and round-over-round perf comparison came back empty).

Each query is forced through the noop sink (full computation of every
output column, no collect/IO skew) after a shared warmup.

How each query's cost grows with the data is not measured here: the
work-growth gate (tests/test_work_growth.py) grades every registered
query, the bench set included, from exact operator row counts."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from discogs_etl_spark.registry import bench_specs
from discogs_etl_spark.session import get_spark, host_fingerprint
from discogs_etl_spark.tables import load


# 1-min loadavg threshold above which a bench reading self-flags as
# load-contaminated (the box runs the bench alone; any standing load ≥1
# core at start is foreign work competing for the same CPUs).
LOAD_CONTAMINATION_1M = 1.0

# 1-min loadavg threshold at bench END.  The bench's own parallelism
# inflates this legitimately (measured ≤1.7 on a quiet box at sf0.1,
# local[32]); readings past this margin mean foreign work arrived
# MID-RUN — the r14-review hole: a clean start plus a job landing 10 s
# into the window shipped load_contaminated: false (the BENCH_r13
# failure mode, reproduced for late arrivals).
LOAD_CONTAMINATION_AFTER_1M = 2.5


def _contaminated(
    load_before: list[float] | None,
    load_after: list[float] | None = None,
) -> bool:
    """True when loadavg says foreign work held cores during the
    measured window — standing load at START, or end-of-run load beyond
    the bench's own measured contribution (unknown loadavg = not
    flagged — the stamp asserts contamination, never cleanliness)."""
    if load_before and load_before[0] > LOAD_CONTAMINATION_1M:
        return True
    return bool(load_after and load_after[0] > LOAD_CONTAMINATION_AFTER_1M)


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _warmup(spark, sf_dir: str) -> None:
    # Warmup: JVM + parquet reader + codegen paths, for every table the
    # bench set scans (otherwise the alphabetically-first queries absorb
    # the cold-scan cost and timings measure warmup order, not plans).
    # A FULL noop scan, not count(): parquet count() answers from footer
    # row counts without touching data pages, so a count()-only warmup
    # leaves page decode + OS cache cold and the first query per column
    # family absorbs it — the round-2 q1/q3/q5/sort_topk wobble.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for table in (
        "lineitem",
        "orders",
        "customer",
        "supplier",
        "part",
        "nation",
        "region",
        "events",
        "documents",
        "embeddings",
    ):
        load(spark, sf_dir, table).write.format("noop").mode("overwrite").save()
    # Expression-codegen warmup: the first regex/hash/array-lambda-heavy
    # task pays JVM JIT + whole-stage-codegen compile (~2-8s measured);
    # run each expression family once on synthetic rows so query timings
    # measure plans, not first-compile latency.
    spark.range(20_000).selectExpr(
        "cast(id as string) AS s",
        "md5(cast(id as string)) AS h",
        "regexp_replace(lower(cast(id as string)), '[^a-z0-9 ]', ' ') AS r",
        "split(cast(id as string), '0') AS w",
    ).selectExpr(
        "size(w) AS n",
        "array_min(transform(w, x -> length(x))) AS m",
        "conv(substring(h, 1, 12), 16, 10) AS c",
        "row_number() OVER (PARTITION BY size(w) ORDER BY s) AS rn",
    ).write.format("noop").mode("overwrite").save()


def _run_set(
    spark, sf_dir: str
) -> tuple[dict[str, float], dict[str, list[float]]]:
    # Best-of-3 per query: the first execution of a query family still pays
    # residual JIT/codegen the generic warmup can't reach (e.g. the MinHash
    # signature chain), and which query pays it depends on run order, not
    # plan quality.  The min of three runs is the steady-state number — the
    # one that scales with data volume and is comparable round-over-round
    # (round 2's best-of-2 still let one noisy run through; three runs pin
    # sub-second queries to ~±10%).  The full sorted [min, med, max] per
    # query is ALSO reported (``spread_sec``): a round-over-round delta
    # whose magnitude sits inside the previous round's spread is
    # measurement noise, not a plan change — without the spread on record,
    # one cold run can masquerade as a regression.
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name, spec in sorted(bench_specs().items()):
        runs: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        spread[name] = [round(t, 3) for t in runs]
    return timings, spread


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="discogs-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Box-load fingerprint bracketing the measured window: two rounds
    # running, the driver artifact recorded a contended-box reading that
    # only an out-of-band rerun could adjudicate (BENCH_r07 31.5 s /
    # BENCH_r08 40.1 s vs a verified ~20-22 s level, SCALE_NOTES r9) —
    # with loadavg ON the JSON line, a contended reading self-documents.
    load_before = _loadavg()
    _warmup(spark, sf_dir)
    timings, spread = _run_set(spark, sf_dir)
    total = round(sum(timings.values()), 3)
    load_after = _loadavg()
    # Two stdout lines, DETAIL FIRST and the compact contract line LAST.
    # The r18 driver's 2000-char stdout-tail capture truncated the old
    # single fat line mid-JSON (BENCH_r17 parsed: null, so PERF_r18 had
    # n_common=0 and no round-over-round geomean).  The contract fields
    # (metric/value/unit/queries/sf) are unchanged and all still on the
    # final line — the variance/host evidence just moved one line up.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                # per-query sorted [min, med, max] of the 3 runs behind
                # each best-of-3 number: the variance bar that separates
                # run-to-run noise from a real plan regression
                "spread_sec": spread,
                # (1m, 5m, 15m) system load average before warmup and
                # after the last query: readings with loadavg far above
                # the bench's own parallelism are contention artifacts
                "loadavg_before": load_before,
                "loadavg_after": load_after,
                # Hardware identity (r16 verdict task #3): round 16's
                # quiet readings sat above the documented band purely
                # from host drift (80 vs 32 reported CPUs) and the
                # artifact couldn't prove it — now band comparisons can
                # check the host first.
                "host": host_fingerprint(),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_from_dir(sf_dir),
                # Self-flag contaminated readings (verdict r13 task #3):
                # BENCH_r13 shipped a 25.30 s artifact captured at
                # loadavg 2.6 and nothing in it said "don't trust this"
                # — adjudication took a judge re-run.  A 1-min loadavg
                # above 1.0 at start means OTHER work held cores while
                # the bench warmed up; past 2.5 at END (the bench's own
                # contribution measured ≤1.7 quiet) foreign work arrived
                # mid-run.  Either way the reading is an upper bound,
                # not a level, and the round-close note must quote this
                # field.
                "load_contaminated": _contaminated(load_before, load_after),
                **_session_stamp(spark),
            }
        )
    )
    spark.stop()


def _session_stamp(spark) -> dict:
    """The effective master and core count the session ran on, so a
    reading taken with fewer cores than the host offers is visible from
    the contract line alone."""
    sc = spark.sparkContext
    return {"master": sc.master, "default_parallelism": sc.defaultParallelism}


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return None


if __name__ == "__main__":
    main()
