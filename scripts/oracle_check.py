#!/usr/bin/env python
"""Spark-vs-DuckDB oracle replay at any fixture scale factor, run the
way the verification driver runs the registry.

A fresh process builds a plain ``SparkSession`` (none of ``get_spark``'s
tuned confs; only the driver memory, a resource setting that changes no
result) and runs each query through ``__spark_entry__.queries()``, so
``tune_for_correctness`` is applied exactly as in a driver run.  Each
result is compared with its ``__spark_entry__.oracle_sql()`` twin over
the same fixture files, with tests/test_oracle.py's canonical form
(column sets, row count, order-insensitive value multiset;
``DriverHasherHazard`` types fail loudly).  This catches session
sensitivity (time zone, shuffle partitions, active-session leakage)
that the tuned pytest session hides.

    python scripts/oracle_check.py                 # every query, all three SFs
    python scripts/oracle_check.py --sf-dirs /root/testdata/sf0.001 q1_pricing_summary

One ``OK``/``FAIL`` line per (fixture, query), then a summary line.
Exit 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

# Collected TimestampType cells render in the process time zone, not the
# session zone; the driver runs in UTC, so pin it before the JVM starts.
os.environ["TZ"] = "UTC"
time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402
from discogs_etl_spark.session import _cpus, _driver_memory  # noqa: E402
from discogs_etl_spark.tables import TABLE_NAMES  # noqa: E402
from tests.test_oracle import canon_rows  # noqa: E402


def _compare(sdf, con, sql) -> str:
    """'' when Spark's result equals the oracle's, else why not."""
    scols, srows = sdf.columns, sdf.collect()
    res = con.execute(sql)
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return f"cols {sorted(scols)} vs {sorted(dcols)}; rows {len(srows)} vs {len(drows)}"
    s_canon, d_canon = canon_rows(scols, srows)[1], canon_rows(dcols, drows)[1]
    mism = [(a, b) for a, b in zip(s_canon, d_canon) if a != b]
    return f"first diffs: {mism[:2]}" if mism else ""


def main() -> int:
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs",
        default="/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1",
        help="comma-separated fixture dirs to check (default: all three)",
    )
    ap.add_argument("names", nargs="*", help="registered queries (default: all)")
    args = ap.parse_args()
    names = args.names or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"not registered: {unknown}")

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .config("spark.driver.memory", _driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    checked = failures = 0
    for sf_dir in args.sf_dirs.split(","):
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            t0 = time.monotonic()
            try:
                detail = _compare(queries[name](spark, sf_dir), con, oracles.get(name))
            except Exception as exc:  # noqa: BLE001 - report it and go on
                traceback.print_exc()
                detail = f"{type(exc).__name__}: {str(exc)[:300]}"
            tag = "FAIL" if detail else "OK  "
            print(
                f"{tag} {os.path.basename(sf_dir):8s} {name} ({time.monotonic() - t0:.2f}s)"
                + (f" {detail}" if detail else ""),
                flush=True,
            )
            checked += 1
            failures += bool(detail)
        con.close()
    spark.stop()
    print(f"oracle_check: {checked - failures}/{checked} OK, {failures} FAIL")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
