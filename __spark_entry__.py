"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``discogs_etl_spark`` package; this module
only adapts its registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from discogs_etl_spark import registry as _registry
from discogs_etl_spark.session import tune_for_correctness


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_for_correctness(spark)
    fn = _registry.queries()["flagship_scan_filter_limit"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_correctness(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: _wrap(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin per query."""
    return _registry.oracle_sql()
