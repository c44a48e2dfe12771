#!/usr/bin/env python
"""Time every registered query at one sf and report the slow tail.

A report, not a gate: the suite's growth check counts operator rows
(scripts/plan_fingerprint.py, the work-growth gate) and never reads a
wall time.  Use this to find where the time goes at a given sf.

    python scripts/time_registry.py [--sf-dir /root/testdata/sf0.1]
                                    [--only a,b,...] [--top 20]
                                    [--json out.json]

Single run per query into a noop sink.  Queries run in SORTED-NAME
order, not registry order: the first positions of a sweep are cold
(first parquet scan, first shuffle, first Python-worker spin-up,
codegen JIT), and a fixed order keeps each query at a position that
registering other queries barely moves.  The warmup below drains the
largest cold-start costs before the first timed query.  ``--json``
writes ``{name: seconds}`` (None for an error) plus the ``_loadavg_end``
and ``_host`` stamps, so a reading taken under load or on another box
says so.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--json", help="also dump {name: seconds} to this path")
    ap.add_argument("--only", help="comma-separated query names")
    args = ap.parse_args()

    from discogs_etl_spark.registry import all_specs
    from discogs_etl_spark.session import get_spark

    # get_spark, not a hand-rolled builder: the sweep must time the tail
    # under the SAME engine settings bench.py runs (broadcast threshold,
    # driver memory, Arrow, maxPartitionBytes are build-time configs
    # tune_for_correctness cannot set).
    spark = get_spark(app_name="time-registry")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup: JVM + codegen, every table's footer/scan path, one real
    # shuffle, and the Arrow Python-worker pool (workers spin up on
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

    ok = {k: v for k, v in res.items() if v is not None}
    if args.json:
        from discogs_etl_spark.session import host_fingerprint

        stamped = {
            **res,
            "_loadavg_end": list(os.getloadavg()),
            "_host": host_fingerprint(),
        }
        with open(args.json, "w") as fh:
            json.dump(stamped, fh, indent=1, sort_keys=True)
    print(f"\nTOTAL {len(res)} queries, {errors} errors, sf_dir={args.sf_dir}")
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1])[: args.top]:
        print(f"SLOW {k}: {v:.2f}s")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
