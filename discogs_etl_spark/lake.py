"""Hive-partitioned Parquet lake (SURVEY.md §2.2 K1/K5, §1.1).

The reference lays out its lake as
``{type}/year=YYYY/month=MM/{type}_YYYYMM01.parquet``, deriving the
partition values from the dump FILENAME, not the data (reference
s3.py:21-38 parse_input_url, s3.py:40-52 get_s3_output_path; layout doc
README.md:9-47).  Downstream readers see ``year``/``month`` as columns via
Hive partition inference (README.md:85-90).

Spark-first: the hand-rolled ParquetWriter + multipart-upload machinery
(reference etl.py:316-534, 32-313) collapses into
``df.write.partitionBy('year','month')`` — the committer owns atomicity
and multipart; ``partitionOverwriteMode=dynamic`` (set by our session
factory) makes per-month re-runs idempotent, matching the reference's
overwrite-by-key behavior.  At 100 TB the same call scales: one file per
task per partition; partition pruning on year/month is free at read time.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_etl_spark.sources.manifest import dump_entry

_PLURAL_TO_TYPE = {
    "artists": "artist",
    "labels": "label",
    "masters": "master",
    "releases": "release",
}


def parse_dump_url(url: str) -> dict:
    """Filename → (data_type, year, month, day) (reference s3.py:21-38),
    parsed by the dump catalog's ``dump_entry``: a basename that is not
    a dump, or an impossible date, raises ``ValueError``."""
    entry = dump_entry(url)
    if entry is None:
        raise ValueError(f"unrecognized dump filename in {url!r}")
    d = entry.dump_date
    return {
        "data_type": entry.data_type,
        "year": d.year,
        "month": f"{d.month:02d}",  # keep zero-padded string, like the lake layout
        "day": f"{d.day:02d}",
    }


def lake_path(root: str, data_type: str) -> str:
    # lake prefixes are plural, e.g. s3://bucket/releases/ (README.md:9-47);
    # entity types beyond the reference's four (e.g. streaming "event")
    # follow the same convention with naive pluralization
    plural = {v: k for k, v in _PLURAL_TO_TYPE.items()}.get(data_type, data_type + "s")
    return os.path.join(root, plural)


# -- Hadoop FileSystem helpers ----------------------------------------------
# The reference's lake lives on S3 (reference s3.py:40-52); python's os.path /
# glob silently see nothing on s3a:// or hdfs:// roots, which would turn an
# upsert into a partition-truncating overwrite.  All existence/listing/size
# checks therefore go through the Hadoop FileSystem API, which resolves the
# right FS implementation from the path's scheme (file:, s3a:, hdfs:, ...).


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for a path string, scheme-resolved."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def fs_exists(spark: SparkSession, path_str: str) -> bool:
    """Scheme-aware existence check (os.path.isdir only works on file:)."""
    fs, jpath = _hadoop_fs(spark, path_str)
    return bool(fs.exists(jpath))


def fs_list_files(
    spark: SparkSession, dir_str: str, suffix: str = ""
) -> list[tuple[str, int]]:
    """Non-recursive (path, size-bytes) listing of a directory, any scheme.
    Returns [] for a missing directory instead of raising."""
    fs, jpath = _hadoop_fs(spark, dir_str)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    for st in fs.listStatus(jpath):
        if not st.isFile():
            continue
        name = st.getPath().getName()
        if suffix and not name.endswith(suffix):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def _list_subdirs(spark: SparkSession, dir_str: str) -> list[str]:
    """Non-recursive subdirectory listing, any scheme; [] if missing."""
    fs, jpath = _hadoop_fs(spark, dir_str)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().toString() for st in fs.listStatus(jpath) if st.isDirectory()
    ]


def write_lake(
    df: DataFrame, root: str, data_type: str, year: int, month: str, mode: str = "overwrite"
) -> str:
    """Write one monthly snapshot into the partitioned lake.  Partition
    values come from the dump identity (filename-derived), not the data —
    preserving the reference's convention (s3.py:40-52).

    Dynamic partition overwrite is set PER WRITE (DataFrameWriter
    option), not assumed from the session: on a session without the
    engine's factory conf, static overwrite would truncate every OTHER
    partition of the lake on a single monthly write.

    DATA/PARTITION NAME COLLISION (master): the master schema carries a
    DATA column ``year`` (reference schema.py:16, int32 — the release
    year), which must land IN the parquet files exactly as parsed, while
    the lake path carries the DUMP-DATE year.  ``partitionBy('year')``
    would consume (and a ``withColumn`` overwrite would clobber) the data
    column — so when the frame owns a partition-named column, the write
    goes straight to the LEAF directory ``.../year=YYYY/month=MM/`` with
    no partitionBy, exactly the reference's layout (s3.py:40-52 computes
    the full leaf key and uploads the file there).  Hive-partitioning
    readers then see the partition value SHADOW the data column (both
    Spark's scan and DuckDB's read_parquet resolve the collision that
    way); partition-blind readers of the files see the true data year —
    same two views the reference's lake exposes.  Per-month idempotency
    is overwrite-the-leaf, the same semantics dynamic partition
    overwrite gives the non-colliding entities."""
    # canonicalize to the layout contract (month zero-padded string,
    # README.md:89-90) so an int-month caller cannot fork month=6 and
    # month=06 leaves of the same partition
    month = str(month).zfill(2)
    path = lake_path(root, data_type)
    if "year" in df.columns or "month" in df.columns:
        leaf = os.path.join(path, f"year={int(year)}", f"month={month}")
        df.write.mode(mode).parquet(leaf)
        return path
    (
        df.withColumn("year", F.lit(int(year)))
        .withColumn("month", F.lit(month))
        .write.partitionBy("year", "month")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .parquet(path)
    )
    return path


def ingest_dump_to_lake(spark: SparkSession, dump_path: str, root: str) -> str:
    """The reference's core pipeline, Spark-shaped: dump file → parse →
    partitioned lake write (reference etl.py:316-534 end-to-end)."""
    from discogs_etl_spark.sources.xml_ingest import ingest_xml

    info = parse_dump_url(dump_path)
    df = ingest_xml(spark, dump_path, info["data_type"])
    return write_lake(df, root, info["data_type"], info["year"], info["month"])


def read_lake(spark: SparkSession, root: str, data_type: str) -> DataFrame:
    """Partition-discovering scan; ``year``/``month`` appear as columns and
    prune on filter (README.md:85-90 behavior).

    Partition column types match the reference's downstream contract —
    ``year`` int, ``month`` zero-padded string (README.md:89-90 shows
    ``month varchar, year int64``): partition-type inference reads
    month=03 as the integer 3, so both columns are normalized back to
    the contract types on top of the scan (a pure projection — pruning
    on year/month still reaches the partition index).  Deriving the
    types per-column instead of toggling
    spark.sql.sources.partitionColumnTypeInference.enabled keeps this
    safe under CONCURRENT reads on one session (the conf toggle was
    session-global and raced).

    For master, the partition ``year`` SHADOWS the schema's data
    ``year`` in this view (both Spark and DuckDB resolve the collision
    that way — see write_lake); consumers needing the parsed release
    year read partition-blind via read_lake_partition / a leaf glob."""
    df = spark.read.parquet(lake_path(root, data_type))
    return df.withColumn("year", F.col("year").cast("int")).withColumn(
        "month", F.lpad(F.col("month").cast("string"), 2, "0")
    )


def read_lake_partition(
    spark: SparkSession, root: str, data_type: str, year: int, month: str
) -> DataFrame:
    """DATA columns of ONE monthly partition, partition-BLIND: reads the
    leaf directory directly, so a data column named like a partition
    (master's ``year``, reference schema.py:16) comes back as the kernel
    parsed it instead of shadowed by the path value.  For non-colliding
    entities this equals ``read_lake(...).where(partition).drop(year,
    month)`` — minus the partition-discovery scan — which is why the
    lake-maintenance rewrites (compact/upsert) read through HERE: they
    must rewrite the partition's FILE CONTENT, and the shadowed view
    would silently swap master's release year for the dump date."""
    leaf = os.path.join(
        lake_path(root, data_type), f"year={int(year)}", f"month={str(month).zfill(2)}"
    )
    return spark.read.parquet(leaf)


def compact_lake(
    spark: SparkSession,
    root: str,
    data_type: str,
    target_file_mb: int = 128,
) -> int:
    """Compact each (year, month) partition to ~target-size files.

    Monthly incremental writes accumulate small files (one per task per
    run); at 100 TB a scan's task count — and the namenode/listing load —
    is proportional to file count, so periodic compaction is part of lake
    ownership.  Rewrites partition-by-partition with dynamic overwrite
    (only touched partitions replaced, readers of other partitions are
    unaffected); file count per partition is computed from actual bytes.

    Returns the number of partitions rewritten."""
    path = lake_path(root, data_type)
    # Partition list from the DIRECTORY LAYOUT (two levels of listStatus),
    # never a data scan: a groupBy over the lake just to enumerate
    # (year, month) would read every row of a 100 TB table per
    # compaction run.
    partitions = []
    for ydir in _list_subdirs(spark, path):
        if not os.path.basename(ydir).startswith("year="):
            continue
        y = int(os.path.basename(ydir).split("=", 1)[1])
        for mdir in _list_subdirs(spark, ydir):
            if not os.path.basename(mdir).startswith("month="):
                continue
            partitions.append((y, os.path.basename(mdir).split("=", 1)[1]))

    rewritten = 0
    for y, m in sorted(partitions):
        files = fs_list_files(
            spark, os.path.join(path, f"year={y}", f"month={m}"), suffix=".parquet"
        )
        if len(files) <= 1:
            continue
        total_mb = sum(sz for _, sz in files) / (1024 * 1024)
        n_files = max(1, int(total_mb // target_file_mb) + (1 if total_mb % target_file_mb else 0))
        if n_files >= len(files):
            continue  # already at or below target granularity
        # partition-blind leaf read: rewrites file CONTENT, so master's
        # data `year` must come from the files, not the shadowing path
        month_df = read_lake_partition(spark, root, data_type, y, m)
        # the rewrite reads the very files the overwrite deletes —
        # materialize before writing (same hazard upsert_lake documents)
        write_lake(
            month_df.repartition(n_files).localCheckpoint(), root, data_type, y, m
        )
        rewritten += 1
    return rewritten


def write_lake_by_event_time(
    df: DataFrame, root: str, name: str, ts_col: str, mode: str = "overwrite"
) -> str:
    """Partition a FACT table by its own event time (year=/month= derived
    from ``ts_col``), complementing :func:`write_lake`'s filename-derived
    convention for dump snapshots (reference s3.py:40-52 only knows the
    latter).  Same layout contract — year int, month zero-padded string —
    so `read_lake`-style partition pruning applies unchanged.

    Scale: the writer shuffles by partition value only if asked;
    with dynamic overwrite, late-arriving months rewrite just their own
    partition."""
    path = os.path.join(root, name)
    (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.date_format(ts_col, "MM"))
        .write.partitionBy("year", "month")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .parquet(path)
    )
    return path


def upsert_lake(
    spark: SparkSession,
    new_df: DataFrame,
    root: str,
    data_type: str,
    year: int,
    month: str,
    key: str = "id",
) -> None:
    """Record-level upsert into one monthly partition WITHOUT a table
    format: read the affected partition, anti-join out rows whose key is
    being replaced, union the new rows, dynamic-overwrite just that
    partition.  This is the parquet-lake equivalent of MERGE for the
    reference's correction runs (a re-issued dump replacing some
    records); at 100 TB the same pattern works because only the touched
    partition is rewritten.

    Atomicity caveat (deliberate): between read and overwrite the
    partition must not receive concurrent writes — the reference's
    monthly-batch cadence guarantees that; a multi-writer deployment
    should move to a transactional table format instead."""
    path = lake_path(root, data_type)
    month = str(month).zfill(2)  # same canonicalization as write_lake
    part_dir = os.path.join(path, f"year={int(year)}", f"month={month}")
    # Hadoop FS, not os.path.isdir: on s3a://hdfs:// the latter is always
    # False, which would silently drop every existing same-month record.
    if fs_exists(spark, part_dir):
        # partition-blind leaf read: DATA columns exactly as written, so
        # (a) master's data `year` isn't shadowed by the path value and
        # (b) unionByName lines up with new_df's full schema
        existing = read_lake_partition(spark, root, data_type, year, month)
        kept = existing.join(new_df.select(key), on=key, how="left_anti")
        merged = kept.unionByName(new_df)
    else:
        merged = new_df
    # localCheckpoint: the merged plan READS the files the overwrite is
    # about to delete — materialize before writing
    merged = merged.localCheckpoint()
    write_lake(merged, root, data_type, year, month)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    n_buckets: int = 256,
) -> None:
    """Z-order (Morton-curve) clustered write: multi-dimensional data
    skipping for the lake, the parquet-native equivalent of a table
    format's OPTIMIZE ZORDER.  Rows are ordered by interleaving the bits
    of each column's quantile-bucket rank, so files (and their row
    groups) are min/max-tight on EVERY z-ordered column at once — a
    plain sort is tight only on its leading column.

    Mechanics, all scale-safe:

    - per-column bucket boundaries via ``approxQuantile`` — a
      distributed sketch, driver receives n_buckets doubles per column
      (never data);
    - bucket assignment as a JVM higher-order filter over the broadcast
      boundary array literal (no UDF, no shuffle);
    - 8-bit bucket ranks bit-spread with the classic mask cascade
      (shift/AND only) and OR-interleaved into the z value;
    - ``repartitionByRange`` on z (one range shuffle, AQE-free file
      sizing via n_files) + ``sortWithinPartitions`` so row groups
      inside each file are z-local too.

    n_buckets is capped at 256 (8 bits/dim): with 2-4 dims the z value
    stays within a long, and 256 ranks per dim already bound each file's
    span to ~1/256 of the domain per dimension at n_files ≲ 2^16."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder_write wants 2-4 columns")
    if n_buckets > 256:
        raise ValueError("n_buckets > 256 would overflow the interleaved long")
    work = df
    bucket_cols = []
    for c in cols:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = sorted(set(df.stat.approxQuantile(c, qs, 0.001)))
        arr = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bounds)
        bc = f"__zb_{c}"
        # rank = number of boundaries <= value (0..n_buckets-1), computed
        # row-locally against the literal boundary array
        work = work.withColumn(
            bc,
            F.expr(
                f"size(filter(array({arr}), b -> b <= CAST({c} AS DOUBLE)))"
            ).cast("long"),
        )
        bucket_cols.append(bc)

    def _spread(col: Column, stride: int) -> Column:
        # spread an 8-bit value so consecutive bits land `stride` apart:
        # bit i of the rank moves to bit i*stride of the output
        out = F.lit(0).cast("long")
        for i in range(8):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)), i * stride)
            )
        return out

    stride = len(cols)
    z = F.lit(0).cast("long")
    for j, bc in enumerate(bucket_cols):
        z = z.bitwiseOR(F.shiftleft(_spread(F.col(bc), stride), j))
    (
        work.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *bucket_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
