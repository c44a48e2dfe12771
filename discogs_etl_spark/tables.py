"""Fixture-table loaders.

The correctness and bench fixtures are one Parquet file per table under
an ``sf_dir`` (see TESTDATA.md).  Every table's schema is declared here,
never inferred (SURVEY §1.2, §1.4): ``load`` is
``spark.read.schema(SCHEMAS[name]).parquet(path)``, which runs no Spark
job, the first load of a table included.  Catalyst still owns column
pruning and predicate pushdown, and every load gets fresh attribute ids,
so self-joins of two loads resolve.

- **The declared types are the files' types.**  Each DDL equals what a
  plain ``spark.read.parquet`` infers from the fixture footers (the
  timestamp columns are stored as ``timestamp[us]`` without UTC
  adjustment, hence ``TIMESTAMP_NTZ``); ``tests/test_tables.py`` checks
  schema and optimized-plan equality for every table of every fixture
  directory.  A file whose physical type differs (a nanosecond ``ts``,
  say) fails at execution with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``.
- **The footer's columns are checked.**  A declared read returns a
  column the file lacks as NULLs and drops a column the file adds, so
  ``load`` compares the footer's column names
  (``pyarrow.parquet.read_schema``: no data read, no job) with the
  declaration and raises ``ValueError`` naming the table and the missing
  or extra columns.
- **events.ts is cast to TIMESTAMP.**  Under the UTC-pinned session the
  cast keeps the wall clock exactly, the streaming plane needs TIMESTAMP
  for watermarks, and DuckDB's naive timestamps collect to the same UTC
  datetimes.  The streaming reader declares the raw file with
  ``SCHEMAS["events"]`` too.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, "
        "props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLE_NAMES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = set(pq.read_schema(path).names)
    df = spark.read.schema(SCHEMAS[name]).parquet(path)
    declared = set(df.columns)
    missing, extra = declared - footer, footer - declared
    if missing or extra:
        raise ValueError(
            f"{path}: table {name!r} does not match its declared schema; "
            f"missing columns {sorted(missing)}, extra columns {sorted(extra)}"
        )
    if name == "events":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
