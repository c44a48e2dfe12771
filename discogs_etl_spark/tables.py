"""Fixture-table loaders.

The correctness/bench fixtures are one Parquet file per table under an
``sf_dir`` (see TESTDATA.md).  Loading is a plain Parquet scan — Catalyst
owns column pruning and predicate pushdown — with one memo in front of it.

A schema-less ``spark.read.parquet`` runs a schema-inference job
(``ParquetUtils.inferSchema`` → ``mergeSchemasInParallel``) on every call,
even for a one-file table whose footer has not changed since the last
read: 80–124 ms each, against 13–28 ms with the schema given (4-vCPU
host, ``local[4]``, fixture sizes).  ``load`` therefore memoizes the
schema Spark itself inferred, keyed by ``(applicationId, path, st_size,
st_mtime_ns)``, and on a hit reads ``spark.read.schema(cached).parquet(path)``,
which runs no job.

- **The schema, never the DataFrame.**  Every read must get fresh
  attribute ids; a memoized DataFrame would hand two ``load`` calls of
  one table the same ids and make their self-joins ambiguous.
- **Invalidation.**  Rewriting the file changes its size or mtime, so
  the next ``load`` misses and re-infers.  Entries of other (stopped)
  applications are evicted on every call, as ``queries/_util.session_memo``
  does: each new session still infers on its first load.
- **Regular files only.**  A directory (or a path ``os.stat`` cannot
  see) falls through to a plain ``spark.read.parquet``: its size and
  mtime do not track the files inside it.
- The events table's footer sniff (``_ts_is_nanos``) is stored in the
  same entry, so a hit reads no footer at all.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (applicationId, path, st_size, st_mtime_ns) -> (inferred schema, ts_is_nanos)
_SCHEMA_MEMO: dict[tuple, tuple[StructType, bool]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # The fixtures' ts physical type has changed across driver rounds
        # (TIMESTAMP(NANOS) in round 1, TIMESTAMP(MICROS)/NTZ since) —
        # sniff the footer instead of assuming.  micros/millis timestamps
        # Spark reads natively (as TIMESTAMP_NTZ when isAdjustedToUTC is
        # false); only the nanos case needs the legacy long read plus the
        # same ns→us truncation DuckDB applies.  Either way, normalize to
        # TIMESTAMP: under the UTC-pinned session that cast preserves the
        # wall clock exactly, the streaming plane needs TIMESTAMP for
        # watermarks, and DuckDB's naive timestamps collect to the same
        # UTC datetimes.
        df, nanos = _read(spark, path, sniff_nanos=True)
        if nanos:
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read(spark, path)[0]


def _read(spark: SparkSession, path: str, sniff_nanos: bool = False) -> tuple[DataFrame, bool]:
    """``spark.read.parquet(path)`` through the schema memo (module
    docstring); also returns whether the footer's ``ts`` is nanos (only
    sniffed when asked)."""
    key = _memo_key(spark, path)
    hit = _SCHEMA_MEMO.get(key) if key else None
    nanos = hit[1] if hit else sniff_nanos and _ts_is_nanos(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if hit:
        return spark.read.schema(hit[0]).parquet(path), nanos
    df = spark.read.parquet(path)
    if key:
        _SCHEMA_MEMO[key] = (df.schema, nanos)
    return df, nanos


def _memo_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of a regular file, after evicting other applications'
    entries; None for anything else (a directory, a missing path)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    app = spark.sparkContext.applicationId
    for k in [k for k in list(_SCHEMA_MEMO) if k[0] != app]:
        _SCHEMA_MEMO.pop(k, None)
    return (app, path, st.st_size, st.st_mtime_ns)


def _ts_is_nanos(path: str) -> bool:
    import pyarrow.parquet as pq

    try:
        field = pq.ParquetFile(path).schema_arrow.field("ts")
    except (KeyError, OSError):
        return False
    t = field.type
    return getattr(t, "unit", None) == "ns"
