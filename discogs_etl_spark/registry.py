"""Query/oracle registry.

Every operator the engine claims (SURVEY.md §2) is registered here as a
named query builder ``fn(spark, sf_dir) -> DataFrame`` together with an
equivalent ANSI/DuckDB SQL string (the correctness oracle).  The driver
contract (``__spark_entry__.py``) and the local pytest harness both consume
this registry, so "implemented" always means "oracle-checked".
``all_specs`` returns the queries in registration order; the verification
driver checks the first 50 of them, and ``tests/test_oracle.py`` checks
every one.

Determinism rules every registered query follows (so the driver's
order-insensitive value-hash matches bit-for-bit):

- Money/measure sums go through ``DECIMAL`` so the result is independent of
  floating-point accumulation order (Spark sums partitions in parallel,
  DuckDB in its own order; double addition is not associative).  Pattern:
  ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` on both sides.
- Derived floats are ``round()``-ed to a fixed scale on both sides.
- Every computed column is aliased identically on both sides.
- ``LIMIT`` always rides on a total ``ORDER BY`` with a unique tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL twin
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    bench: bool = False  # include in bench.py's headline set


def register(
    name: str,
    oracle: str,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder with its DuckDB oracle twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or "", bench=bench
        )
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: modules register their queries on import.
    from discogs_etl_spark import multimodal, scale  # noqa: F401
    from discogs_etl_spark.queries import (  # noqa: F401
        analytics,
        etl_roundtrip,
        llm,
        python_api,
        stats,
    )
    from discogs_etl_spark.streaming import events  # noqa: F401


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items()}


def bench_specs() -> dict[str, QuerySpec]:
    return {name: s for name, s in all_specs().items() if s.bench}
