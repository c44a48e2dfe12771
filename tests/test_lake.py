"""Lake-layout round-trip (SURVEY.md §5.2-3): partitioned write, partition
discovery on read, partition pruning, and the README flagship query over
the lake (reference README.md:81-115)."""

from __future__ import annotations

import contextlib
import gzip
import io

import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.lake import (
    ingest_dump_to_lake,
    parse_dump_url,
    read_lake,
    write_lake,
)
from discogs_etl_spark.sources.xml_ingest import ingest_xml_bytes
from tests.test_xml_ingest import RELEASE_XML


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _partition_filters(df) -> str:
    lines = [ln for ln in _physical_plan(df).splitlines() if "PartitionFilters" in ln]
    return lines[0] if lines else ""


def test_parse_dump_url():
    info = parse_dump_url("s3://dumps/data/2019/discogs_20190301_releases.xml.gz")
    assert info == {"data_type": "release", "year": 2019, "month": "03", "day": "01"}


@pytest.mark.parametrize(
    "url",
    [
        "s3://dumps/data/2023/discogs_20231399_releases.xml.gz",
        "landing/discogs_20230115_releases.xml.gz.part",
    ],
    ids=["impossible-date", "partial-download"],
)
def test_parse_dump_url_rejects_what_the_catalog_drops(url):
    # the lake writer and the dump catalog parse one filename grammar
    with pytest.raises(ValueError):
        parse_dump_url(url)


def test_lake_roundtrip_and_pruning(spark, tmp_path):
    root = str(tmp_path / "lake")
    df = ingest_xml_bytes(spark, RELEASE_XML, "release")
    write_lake(df, root, "release", 2019, "03")
    write_lake(df, root, "release", 2019, "04")

    back = read_lake(spark, root, "release")
    # Hive partition inference: year/month materialize as columns with the
    # reference's downstream types — year int, month zero-padded varchar
    # (README.md:89-90)
    assert {"year", "month"}.issubset(set(back.columns))
    types = dict(back.dtypes)
    assert types["year"] == "int" and types["month"] == "string"
    assert back.count() == 4
    one_month = back.where(F.col("month") == "03")
    assert one_month.count() == 2
    assert {r["month"] for r in one_month.select("month").collect()} == {"03"}
    # pruning fires through the month normalization (the lpad evaluates
    # against the partition index, never the data)
    assert "(month" in _partition_filters(one_month)
    # year is inference-typed int, so it prunes directly — no cast needed
    assert "= 2019" in _partition_filters(back.where(F.col("year") == 2019))

    # idempotent monthly re-run: dynamic overwrite replaces only that month
    write_lake(df, root, "release", 2019, "03")
    assert read_lake(spark, root, "release").count() == 4


def test_ingest_dump_to_lake_end_to_end(spark, tmp_path):
    dump = tmp_path / "discogs_20190301_releases.xml.gz"
    dump.write_bytes(gzip.compress(RELEASE_XML))
    root = str(tmp_path / "lake")
    ingest_dump_to_lake(spark, str(dump), root)

    back = read_lake(spark, root, "release")
    assert back.count() == 2
    assert back.select("year").distinct().collect()[0][0] == 2019

    # the README flagship query over the produced lake (README.md:84-87)
    jazz = back.where(
        F.array_contains("genres", "Jazz") & (F.size("genres") > 1)
    ).limit(20)
    assert [r["id"] for r in jazz.collect()] == [1]


def test_compact_lake(spark, tmp_path):
    """Many small files per partition → one file after compaction, same
    rows (SURVEY §7.2 phase 6: small-file handling)."""
    import glob

    from discogs_etl_spark.lake import compact_lake

    root = str(tmp_path / "lake")
    df = ingest_xml_bytes(spark, RELEASE_XML, "release")
    # force 6 tiny files into one partition
    write_lake(df.repartition(6), root, "release", 2019, "03")
    files_before = glob.glob(f"{root}/releases/year=2019/month=03/*.parquet")
    assert len(files_before) > 1
    before = read_lake(spark, root, "release").count()

    assert compact_lake(spark, root, "release") == 1
    files_after = glob.glob(f"{root}/releases/year=2019/month=03/*.parquet")
    assert len(files_after) == 1
    assert read_lake(spark, root, "release").count() == before


def test_event_time_partitioned_lake(spark, tmp_path):
    """Fact-table lake: partitions derived from event time; pruning on
    month fires in the plan."""
    from discogs_etl_spark.lake import write_lake_by_event_time
    from discogs_etl_spark.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events")
    root = str(tmp_path / "lake")
    write_lake_by_event_time(events, root, "events", "ts")

    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        back = spark.read.parquet(f"{root}/events")
    finally:
        spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    assert back.count() == events.count()
    jan = back.where(F.col("month") == "01")
    assert jan.count() == events.where(F.month("ts") == 1).count()
    assert "(month" in _partition_filters(jan)


def test_lake_maintenance_on_non_file_scheme(spark, tmp_path):
    """upsert/compact must work when the lake root is NOT a local path.

    os.path/glob silently see nothing on s3a:// — with the old code an
    upsert would truncate the partition to just the new rows.  Mount a
    viewfs:// namespace (a real non-file scheme, resolved through Hadoop's
    FileSystem registry) over a local directory so the whole
    write→list→merge→overwrite path runs through scheme-resolved Hadoop
    FileSystem calls, exactly as it would on an object store."""
    from pyspark.sql import functions as F2

    from discogs_etl_spark.lake import compact_lake, fs_exists, fs_list_files, upsert_lake

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.cluster.link./lake", f"file://{tmp_path}/lake"
    )
    (tmp_path / "lake").mkdir()
    root = "viewfs://cluster/lake"
    base = ingest_xml_bytes(spark, RELEASE_XML, "release")  # ids 1 and 0
    write_lake(base.repartition(5), root, "release", 2019, "03")

    part = f"{root}/releases/year=2019/month=03"
    assert fs_exists(spark, part)
    assert not fs_exists(spark, f"{root}/releases/year=2019/month=07")
    assert len(fs_list_files(spark, part, suffix=".parquet")) > 1

    # upsert merges (not truncates) on the non-file scheme
    corrected = base.where(F2.col("id") == 1).withColumn(
        "title", F2.lit("Corrected Title")
    )
    upsert_lake(spark, corrected, root, "release", 2019, "03")
    back = read_lake(spark, root, "release")
    rows = {r["id"]: r["title"] for r in back.collect()}
    assert back.count() == 2 and rows[1] == "Corrected Title" and 0 in rows

    # compaction lists/sizes through Hadoop FS and rewrites to one file
    write_lake(base.repartition(6), root, "release", 2019, "03")
    assert compact_lake(spark, root, "release") == 1
    assert len(fs_list_files(spark, part, suffix=".parquet")) == 1


def test_upsert_lake_replaces_by_key(spark, tmp_path):
    """MERGE-equivalent on the plain parquet lake: re-issued records
    replace same-id rows in their month, others untouched."""
    from pyspark.sql import functions as F2

    from discogs_etl_spark.lake import upsert_lake

    root = str(tmp_path / "lake")
    base = ingest_xml_bytes(spark, RELEASE_XML, "release")  # ids 1 and 0
    write_lake(base, root, "release", 2019, "03")
    write_lake(base, root, "release", 2019, "04")  # other month, untouched

    corrected = base.where(F2.col("id") == 1).withColumn(
        "title", F2.lit("Corrected Title")
    )
    upsert_lake(spark, corrected, root, "release", 2019, "03")

    back = read_lake(spark, root, "release")
    march = {r["id"]: r["title"] for r in back.where("month = '03'").collect()}
    assert march[1] == "Corrected Title"
    assert 0 in march and march[0] != "Corrected Title"  # untouched same-month row
    april = {r["id"]: r["title"] for r in back.where("month = '04'").collect()}
    assert april[1] != "Corrected Title"  # other partition untouched
    assert back.count() == 4


def test_zorder_write_skips_on_both_dimensions(spark, tmp_path):
    """Z-order clustering must make parquet file-level min/max stats
    selective on BOTH z columns; a plain single-column sort layout is
    selective only on its leading column.  Pruning is measured directly
    from the footers: the fraction of files whose [min,max] intersects a
    narrow predicate range, per dimension."""
    import pyarrow.parquet as pq

    from discogs_etl_spark.lake import zorder_write
    from discogs_etl_spark.tables import load
    from tests.conftest import SF_SMOKE

    orders = load(spark, SF_SMOKE, "orders").select("o_custkey", "o_totalprice")

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "sorted")
    zorder_write(orders, zpath, ["o_custkey", "o_totalprice"], n_files=64)
    (
        orders.repartitionByRange(64, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def matching_files(path, col, lo, hi):
        import glob as g

        total, hit = 0, 0
        for f in sorted(g.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            fmin = min(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            total += 1
            if not (fmax < lo or fmin > hi):
                hit += 1
        return hit, total

    # narrow ranges ~ a few % of each domain
    ck = orders.agg({"o_custkey": "max"}).first()[0]
    tp = orders.agg({"o_totalprice": "max"}).first()[0]
    ck_rng = (ck // 2, ck // 2 + max(1, ck // 50))
    tp_rng = (tp / 2, tp / 2 + tp / 50)

    z_ck_hit, z_n = matching_files(zpath, "o_custkey", *ck_rng)
    z_tp_hit, _ = matching_files(zpath, "o_totalprice", *tp_rng)
    s_ck_hit, s_n = matching_files(spath, "o_custkey", *ck_rng)
    s_tp_hit, _ = matching_files(spath, "o_totalprice", *tp_rng)

    # the sorted layout is perfect on its leading column...
    assert s_ck_hit <= max(2, s_n // 4)
    # ...and useless on the second (every file spans the price domain)
    assert s_tp_hit == s_n
    # z-order prunes meaningfully on BOTH dimensions (64 files = 3
    # z-bits/dim, so a ~2% range should touch ~1/8 of files + boundary
    # slop; half is a conservative ceiling)
    assert z_ck_hit <= z_n // 2
    assert z_tp_hit <= z_n // 2
    assert z_tp_hit < s_tp_hit

    # and the data survives intact
    assert spark.read.parquet(zpath).count() == orders.count()


def test_write_lake_master_year_collision(spark, tmp_path):
    """A schema owning a partition-named column (master's DATA ``year``,
    reference schema.py:16) must land IN the files unclobbered: the write
    goes to the leaf directory, the partition value shadows only in the
    hive-aware view, and a partition-blind read returns the parsed year."""
    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 1985, "a"), (2, 0, "b")], "id long, year int, title string"
    )
    path = write_lake(df, root, "master", 2024, "06")

    # files live under the reference layout leaf
    blind = spark.read.parquet(path + "/year=2024/month=06")
    assert dict(blind.dtypes)["year"] == "int"
    assert {r["year"] for r in blind.select("year").collect()} == {1985, 0}

    # hive-aware read: partition value shadows (same resolution DuckDB's
    # hive_partitioning=true applies), month still a discovered column
    back = read_lake(spark, root, "master")
    assert {r["year"] for r in back.select("year").collect()} == {2024}
    assert {r["month"] for r in back.select("month").collect()} == {"06"}

    # per-month idempotency: a re-run overwrites the leaf, not the lake
    write_lake(df, root, "master", 2024, "06")
    write_lake(df, root, "master", 2024, "07")
    assert read_lake(spark, root, "master").count() == 4


def test_compact_and_upsert_preserve_master_data_year(spark, tmp_path):
    """Lake maintenance must rewrite master partitions from the FILES
    (partition-blind), never the shadowed hive view — compaction and
    upsert both used to swap the parsed release year for the dump date
    (or crash on the missing column)."""
    from discogs_etl_spark.lake import compact_lake, upsert_lake

    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 1985, "a"), (2, 0, "b"), (3, 1999, "c"), (4, 2001, "d")],
        "id long, year int, title string",
    )
    # many small files so compaction has something to do
    write_lake(df.repartition(4), root, "master", 2024, "06")
    assert compact_lake(spark, root, "master", target_file_mb=1024) == 1
    blind = spark.read.parquet(root + "/masters/year=2024/month=06")
    assert {r["year"] for r in blind.select("year").collect()} == {1985, 0, 1999, 2001}
    assert blind.count() == 4

    # record-level correction: replace id=2, add id=5 — data years intact
    fix = spark.createDataFrame(
        [(2, 1972, "b2"), (5, 2010, "e")], "id long, year int, title string"
    )
    upsert_lake(spark, fix, root, "master", 2024, "06")
    after = spark.read.parquet(root + "/masters/year=2024/month=06")
    got = {(r["id"], r["year"]) for r in after.select("id", "year").collect()}
    assert got == {(1, 1985), (2, 1972), (3, 1999), (4, 2001), (5, 2010)}


def test_master_lake_prunes_on_shadowed_year(spark, tmp_path):
    """The hive view of a colliding schema must still PRUNE on year/month:
    the partition value shadows master's data column in the scan output,
    and the same partition index drives file skipping — the scale
    property the leaf-write design banks on."""
    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 1985, "a"), (2, 0, "b")], "id long, year int, title string"
    )
    write_lake(df, root, "master", 2024, "06")
    write_lake(df, root, "master", 2025, "01")
    back = read_lake(spark, root, "master")
    one = back.where((F.col("year") == 2025) & (F.col("month") == "01"))
    assert one.count() == 2
    filters = _partition_filters(one)
    assert "(year" in filters and "(month" in filters


def test_write_lake_normalizes_int_month(spark, tmp_path):
    """An int-month caller must land in the canonical zero-padded leaf on
    BOTH write branches — month=6 and month=06 forking one partition is
    the layout bug this pins out."""
    root = str(tmp_path / "lake")
    plain = spark.createDataFrame([(1, "a")], "id long, title string")
    write_lake(plain, root, "release", 2024, 6)
    colliding = spark.createDataFrame([(1, 1985, "a")], "id long, year int, title string")
    write_lake(colliding, root, "master", 2024, 6)
    import os as _os

    assert _os.path.isdir(root + "/releases/year=2024/month=06")
    assert _os.path.isdir(root + "/masters/year=2024/month=06")
    assert read_lake(spark, root, "release").count() == 1
