"""SparkSession factory with scale-oriented defaults.

The reference runs one Python thread per dump inside a 2 vCPU AWS Batch
container (reference scripts/aws_batch_job_register.sh:6-7, SURVEY.md §3.2).
Here the unit of parallelism is the Spark task; these defaults are chosen so
the same code runs on ``local[N]`` for tests and on a 1000-executor cluster
unchanged:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- ``spark.sql.shuffle.partitions`` sized from the available cores locally;
  on a real cluster AQE coalesces the (higher) initial number down.
- 128 MiB file-split target (``maxPartitionBytes``) — the classic
  scan-parallelism sweet spot for Parquet.
- Arrow-backed Python interop (Pandas UDFs are the only Python on the hot
  path anywhere in this engine).
- UTC session timezone so timestamp semantics are environment-independent.
- One join-strategy bound, the 64 MiB ``autoBroadcastJoinThreshold``:
  equi-joins carry no broadcast hint unless
  ``scripts/plan_fingerprint.py::EQUI_JOIN_HINTS`` lists one.

``local_frame`` is the one way the engine turns driver-side Python rows
into a DataFrame (catalogs, audit/report rows, constant tables).
``createDataFrame(<list>)`` plans as ``parallelize`` →
``applySchemaToPythonRDD``, so every action on such a frame runs
``defaultParallelism`` Python tasks whatever its row count; a frame
built from a ``pyarrow.Table`` is a ``LocalRelation`` (with or without
the Arrow conf), and projections/filters over it fold at optimisation
time, so ``collect()`` runs no job.

``scoped_conf`` is the one way a builder changes a runtime conf for a
stretch of work: it restores every key afterwards, also when the body
raises, and unsets a key that was unset before.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "get_spark",
    "host_fingerprint",
    "local_frame",
    "scoped_conf",
    "tune_for_correctness",
]


def host_fingerprint() -> dict:
    """Hardware identity of the box a perf reading was taken on —
    stamped into bench.py, scripts/time_registry.py and the benchmark's
    records, so that a reading from a different host (say, 80 reported
    CPUs where earlier readings saw 32) is visible as host drift rather
    than mistaken for a regression."""
    model = None
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"cpu_count": os.cpu_count(), "cpu_model": model}


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def _driver_memory() -> str:
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")


# Runtime-settable confs every engine session holds: get_spark sets them
# at build time, tune_for_correctness on a plain session a caller built
# itself, so both plan and compute alike.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # Join strategy: Catalyst broadcasts a side estimated under this bound
    # and AQE re-decides from observed sizes (Spark's default: 10 MiB).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # InferFiltersFromGenerate clones the full generator expression into
    # a pre-Generate filter; for expensive array builders (shingling)
    # that doubles the CPU of every explode — measured 2x on the
    # minhash pipeline.  The pruning it buys (skipping empty arrays
    # before Generate) is negligible for our plans.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # HotSpot never JIT-compiles methods over 8000 bytecodes
    # (-XX:-DontCompileHugeMethods is the non-default), so a
    # whole-stage-codegen method past that limit runs in the bytecode
    # INTERPRETER forever.  Spark's default only falls back past
    # 65535 (the JVM hard limit); aligning the fallback with the JIT
    # threshold makes big fused stages (the unrolled 64-dim dot
    # products) drop back to split per-expression codegen, which JITs.
    # Measured on the cosine pair family: the fused-but-unJITtable
    # plan runs 7x slower than the fallback.  Value-neutral: it changes
    # WHICH compiled form runs, never what it computes.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def _runtime_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """RUNTIME_CONFS plus the shuffle partition count: one per core
    locally, at least 8 (Spark's 200 is pure scheduling overhead at test
    SFs, notably for stateful streaming); a cluster should pass 2-3x its
    total cores and let AQE coalesce."""
    n = shuffle_partitions or max(_cpus(), 8)
    return {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(n)}


def get_spark(
    app_name: str = "discogs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_cpus()}]")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # zstd over the default snappy: ~30% smaller lake files for ~equal
        # read CPU — at 100 TB stored that's the cheaper default.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        .config(map=_runtime_confs(shuffle_partitions))
    )
    return builder.getOrCreate()


def tune_for_correctness(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session the engine did not
    build (a caller's own plain session), so it plans and computes as a
    ``get_spark`` session does."""
    for k, v in _runtime_confs().items():
        spark.conf.set(k, v)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Hold ``settings`` on ``spark`` for the body of the ``with`` block,
    then restore each key's previous value.  ``conf.get(k, None)`` is
    None for a key that was never set (its registered default does not
    count), and such a key is unset again rather than pinned to the
    default it read as."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: str) -> DataFrame:
    """Driver-side rows → a ``LocalRelation`` DataFrame with exactly the
    DDL ``schema``, built through a ``pyarrow.Table`` (see the module
    docstring for why)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
