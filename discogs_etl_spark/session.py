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


def get_spark(
    app_name: str = "discogs-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: one shuffle partition per core is right at test SFs.
        # Cluster deployments should pass an explicit value (2-3x total
        # cores) and let AQE coalesce.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate clones the full generator expression into
        # a pre-Generate filter; for expensive array builders (shingling)
        # that doubles the CPU of every explode — measured 2x on the
        # minhash pipeline.  The pruning it buys (skipping empty arrays
        # before Generate) is negligible for our plans.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # HotSpot never JIT-compiles methods over 8000 bytecodes
        # (-XX:-DontCompileHugeMethods is the non-default), so a
        # whole-stage-codegen method past that limit runs in the bytecode
        # INTERPRETER forever.  Spark's default only falls back past
        # 65535 (the JVM hard limit); aligning the fallback with the JIT
        # threshold makes big fused stages (the unrolled 64-dim dot
        # products) drop back to split per-expression codegen, which JITs.
        # Measured on the cosine pair family: the fused-but-unJITtable
        # plan runs 7x slower than the fallback (guide §1.2 step 3 — a
        # config that fixes a structural compilation problem).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # zstd over the default snappy: ~30% smaller lake files for ~equal
        # read CPU — at 100 TB stored that's the cheaper default.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    return builder.getOrCreate()


def tune_for_correctness(spark: SparkSession) -> SparkSession:
    """Runtime-settable knobs applied when we receive a session we did not
    build (the verification driver constructs its own).  Only touches
    runtime-mutable confs; timestamp determinism is the critical one."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    # The driver's plain session keeps the 200-partition default; at the
    # correctness SFs that is pure scheduling overhead (notably for
    # stateful streaming, where state partitioning follows this number).
    spark.conf.set("spark.sql.shuffle.partitions", str(max(_cpus(), 8)))
    # Align the whole-stage-codegen fallback with HotSpot's 8000-bytecode
    # JIT ceiling (see get_spark) — runtime-mutable, value-neutral: it
    # changes WHICH compiled form runs, never what it computes.
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
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
