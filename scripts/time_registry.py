#!/usr/bin/env python
"""Time EVERY registered query at a given sf — the whole-registry
scale-tail finder.

The headline bench (bench.py) times 23 queries; the other ~350 had
never been TIMED at sf0.1 until round 10, only value-checked at
sf0.01 — and the first run of this sweep caught a genuine scale-killer
the correctness gates structurally cannot see (an OR-of-equalities
join in recsys_holdout_hitrate that Catalyst nested-loops: 111 s at
sf0.1, fixed to 4.6 s as a union of two hash equi-joins).  Run it
once per round after substantive query changes; anything new in the
tail that is not a DOCUMENTED deliberate baseline (the weak_count
all-pairs pair, the exact power-iteration baseline) needs a plan
audit.

    python scripts/time_registry.py [--sf-dir /root/testdata/sf0.1]
                                    [--top 20] [--json out.json]

Single run per query (noop sink) — this ranks the tail, it does not
replace bench.py's best-of-3 discipline for round-over-round levels.
Exception: with ``--baseline``, queries that would flag against the
previous round get one verify re-run and the artifact records the MIN
of the two; the ``_verified_min`` metadata key maps each such name to
BOTH raw readings ``[first_run, second_run]`` (r11 ADVICE) so a later
audit can tell variance-cleared (second run ~= honest, first an
outlier) from warm-masked (second run fast only because everything was
hot) without re-running.  Known residual: a warm re-run can dip a
genuine 2-3x cold regression under the gate; the 10-100x plan
regressions the gate exists for flag on both runs regardless.  If a
name appears in ``_verified_min`` round after round, audit its plan by
hand — recurring flag-and-clear is itself a signal.

Instrument discipline (r11, learned the hard way): queries run in
SORTED-NAME order, not registry order.  The early positions in a sweep
are cold — first parquet scan, first shuffle, first python-worker
spinup, C2-compiling codegen — and whichever query lands there pays
for them, so the round-over-round compare (scripts/timing_compare.py)
flags position artifacts as 2-30x "regressions" whenever a query's
position moves (measured: the same query 22.7 s at sweep position 29,
0.91 s mid-sweep, 3.4 s isolated).  Sorted order pins every query to a
position that registering or reordering other queries barely moves;
the warmup below drains the biggest cold-start costs before the first
timed query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load_script(name: str):
    """Load a sibling script module by path (scripts/ is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(os.path.dirname(os.path.abspath(__file__)), f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--json", help="also dump {name: seconds} to this path")
    ap.add_argument(
        "--only",
        help="comma-separated query names — the targeted-refresh path "
        "for the scaling-exponent artifact (changed queries only, "
        "instead of a full 369-query sweep at both sfs)",
    )
    ap.add_argument(
        "--baseline",
        help="previous round's TIMINGS_r{N}.json: any query whose single "
        "run would flag against it under the timing_compare gate is "
        "re-run once and the MIN of the two runs is recorded — a "
        "query's own first-run variance spans 2-6x (measured: the same "
        "query 2.0-6.3 s across quiet same-code runs), so one automatic "
        "verify run kills variance false-flags structurally while a "
        "real plan regression (10-100x) flags identically on both runs",
    )
    args = ap.parse_args()

    from discogs_etl_spark.registry import all_specs
    from discogs_etl_spark.session import get_spark

    # get_spark, not a hand-rolled builder: the sweep must rank the tail
    # under the SAME engine settings bench.py runs (broadcast threshold,
    # driver memory, Arrow, maxPartitionBytes are build-time configs
    # tune_for_correctness cannot set), or broadcast-vs-sort-merge
    # differences fabricate/hide scale-killers.
    spark = get_spark(app_name="time-registry")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup: JVM + codegen, every table's footer/scan path, one real
    # shuffle, and the Arrow python-worker pool (32 workers spin up on
    # first use — several seconds that must not land on whichever query
    # happens to run first).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    from discogs_etl_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, args.sf_dir, t).count()
    load(spark, args.sf_dir, "events").groupBy("event_type").count().collect()
    spark.range(100_000).select(
        F.pandas_udf(lambda s: s * 2, "long")("id")
    ).write.format("noop").mode("overwrite").save()

    specs = all_specs()
    if args.only:
        wanted = {n.strip() for n in args.only.split(",") if n.strip()}
        unknown = sorted(wanted - set(specs))
        if unknown:
            sys.exit(f"--only names not registered: {unknown}")
        specs = {n: s for n, s in specs.items() if n in wanted}
    res: dict[str, float | None] = {}
    errors = 0
    for i, (name, spec) in enumerate(sorted(specs.items()), 1):
        t0 = time.perf_counter()
        try:
            spec.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            res[name] = round(time.perf_counter() - t0, 3)
            print(f"[{i}/{len(specs)}] {name}: {res[name]:.2f}s", flush=True)
        except Exception as ex:  # noqa: BLE001 — sweep must finish the tail
            errors += 1
            res[name] = None
            print(
                f"[{i}/{len(specs)}] {name}: ERROR {type(ex).__name__}: "
                f"{str(ex)[:160]}",
                flush=True,
            )

    # CALIBRATION CONTROLS are recorded min-of-3 on each sweep, not
    # single-run (r19); the control's alpha ~1.55 comes from a one-off
    # min-of-5 calibration.  The scale-exponent gate's positive control
    # must read its true compute at BOTH sfs or the fitted alpha rides
    # cold-start noise: a single cold run adds ~1 s of codegen/JIT to
    # the LO reading (measured: 1.77 s cold vs 0.76 s in the one-off
    # min-of-5 calibration of
    # gate_control_quadratic_join at sf0.01), which alone deflates a
    # true alpha ~1.55 to ~0.94 — under the flag the control exists to
    # trip, failing the stale-allowance test spuriously.  Same
    # discipline as --baseline's verify re-run, applied to the names
    # whose READINGS are load-bearing for the instrument itself; raw
    # runs are persisted under ``_control_runs`` for audit.
    se = _load_script("scale_exponents")
    control_runs: dict[str, list[float]] = {}
    for name in sorted(set(se.SUPERLINEAR_BASELINES) & set(specs)):
        if res.get(name) is None:
            continue
        runs = [res[name]]
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                specs[name].fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
            except Exception as ex:  # noqa: BLE001 — keep prior readings
                print(
                    f"CONTROL {name}: re-run ERROR {type(ex).__name__} — "
                    f"keeping {min(runs):.2f}s",
                    flush=True,
                )
                break
        control_runs[name] = runs
        res[name] = min(runs)
        print(
            f"CONTROL {name}: runs {['%.2f' % r for r in runs]} "
            f"(recording min {res[name]:.2f}s)",
            flush=True,
        )
    if control_runs:
        res["_control_runs"] = control_runs

    if args.baseline:
        import importlib.util

        spec_tc = importlib.util.spec_from_file_location(
            "timing_compare",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "timing_compare.py"
            ),
        )
        tc = importlib.util.module_from_spec(spec_tc)
        spec_tc.loader.exec_module(tc)
        baseline = json.load(open(args.baseline))
        verified: dict[str, list[float]] = {}
        for name, _prev, t_cur in tc.compare_pairs(baseline, res):
            if t_cur is None:
                continue  # errored in the main sweep: re-run can't clear it
            t0 = time.perf_counter()
            try:
                specs[name].fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                second = round(time.perf_counter() - t0, 3)
                print(
                    f"VERIFY {name}: {res[name]:.2f}s -> {second:.2f}s "
                    f"(recording min)",
                    flush=True,
                )
                verified[name] = [res[name], second]
                res[name] = min(res[name], second)
            except Exception as ex:  # noqa: BLE001
                # The main-sweep measurement is valid; a transient
                # failure on the SECOND run must not convert it into an
                # artifact-reddening null.  Keep the first value, report.
                print(
                    f"VERIFY {name}: re-run ERROR {type(ex).__name__} — "
                    f"keeping first-run {res[name]:.2f}s",
                    flush=True,
                )
        if verified:
            # Transparency: these entries are min-of-two (second run
            # warm), not single cold runs — and BOTH raw readings are
            # persisted so a later audit can distinguish
            # variance-cleared from warm-masked without re-running
            # (r11 ADVICE; json sort_keys orders the names).
            res["_verified_min"] = verified

    if args.json:
        # Load fingerprint (same adjudication mechanism as bench.py's
        # loadavg stamps — three rounds of bench disputes were settled
        # by reading the artifact's own fingerprint instead of
        # re-running under unknown load).  Underscore keys are metadata:
        # timing_compare.py skips them.
        res["_loadavg_end"] = list(os.getloadavg())
        # Hardware identity (r16 verdict task #3): the r16 band dispute
        # was host drift (80 vs 32 reported CPUs) that the artifacts
        # could not prove; timing_compare warns (never gates) when the
        # fingerprint changes between compared sweeps.
        from discogs_etl_spark.session import host_fingerprint

        res["_host"] = host_fingerprint()
        # Provenance (r14 review): the scaling-exponent instrument pairs
        # two of these artifacts from DIFFERENT sf dirs — without a
        # stamp, a mismatched pair (or a stale sweep from another data
        # build) produces silently-wrong exponents.  Row counts come
        # from the parquet footers via scale_exponents.table_rows — the
        # SAME implementation _check_provenance compares against, so the
        # stamp format and the consumer's read cannot drift apart
        # (r14 review: an inline copy could).
        res["_sf_dir"] = args.sf_dir
        res["_table_rows"] = _load_script("scale_exponents").table_rows(args.sf_dir)
        # Code provenance (r14 review): fingerprints must describe the
        # tree the sweep MEASURED, not whichever tree later fits the
        # exponents — an edit between sweep and fit would otherwise get
        # a fresh stamp on stale readings.  Only the swept names are
        # stamped, so a --only partial sweep cannot certify names it
        # never timed.
        _fps = _load_script("rewindow_check").current_fingerprints()
        res["_code_fingerprints"] = {
            n: _fps[n] for n in res if not n.startswith("_") and n in _fps
        }
        if args.only:
            # Loud partial-sweep marker (r14 review): a subset sweep in
            # the full-sweep schema would silently un-gate every absent
            # name in timing_compare ("new query: no basis yet") if used
            # as a round baseline.
            res["_only"] = sorted(wanted)
        with open(args.json, "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
    # Exclude metadata (underscore keys: the _loadavg_end list would
    # crash the numeric sort) alongside errored (None) entries.
    ok = {
        k: v for k, v in res.items() if v is not None and not k.startswith("_")
    }
    n_q = sum(1 for k in res if not k.startswith("_"))
    print(f"\nTOTAL {n_q} queries, {errors} errors, sf_dir={args.sf_dir}")
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1])[: args.top]:
        print(f"SLOW {k}: {v:.2f}s")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
