"""ETL-plane end-to-end roundtrip as an oracle-checked query.

Every other registered query exercises the ANALYTICS plane; this one
drives the reference's core pipeline (reference etl.py:316-534: dump →
parse → partitioned lake) through the Spark engine and lets the DuckDB
oracle read the PRODUCED parquet back — so the XML kernel (S1-S6), the
typed coercions (P1-P5, reference parser.py:30-169), and the lake layout
(K1/K5, reference s3.py:40-52) earn a driver CORRECTNESS row instead of
living on local tests alone.

Shape: a golden Discogs-release dump (every §1.2 coercion: missing id→0,
qty→"1" string, image dims→0, empty lists ≠ null, control-char scrub,
whitespace collapse, stray attrs) is gzipped to a deterministic temp
path, ingested with ``ingest_dump_to_lake`` (year/month derived from the
FILENAME, not the data), and the lake is read back with partition
discovery.  The oracle is DuckDB ``read_parquet(...hive_partitioning...)``
over the same written files — two independent readers agreeing on the
bytes the engine wrote.

Result cells are scalars only (array_join / element_at flattening): the
driver's value-hasher rejects list cells (see tests/test_oracle.py).
"""

from __future__ import annotations

import gzip
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_etl_spark.registry import register

# Deterministic location shared by the Spark writer and the DuckDB oracle
# (the oracle is a static SQL string, so the path cannot vary per run).
ROUNDTRIP_ROOT = os.path.join(tempfile.gettempdir(), "discogs_etl_spark_roundtrip")
_DUMP_NAME = "discogs_20240101_releases.xml.gz"

# Golden release dump — exercises the full §1.2 coercion surface:
# record 1: nested images/labels/formats/descriptions, control char in
#   title (scrub → space → ws-collapse), newline in notes (streaming-path
#   whitespace collapse), partial date kept as string, qty string;
# record 2: attribute-less husk — id defaults to 0, lists to [], text to
#   NULL (reference parser.py:100-144 semantics).
_GOLDEN_RELEASES_XML = b"""<?xml version="1.0" encoding="UTF-8"?>
<releases>
  <release id="7001" status="Accepted">
    <title>Round\x07Trip</title>
    <country>US</country>
    <released>1999-00-00</released>
    <notes>first line
second line</notes>
    <images>
      <image height="600" width="600" type="primary" uri="u1" uri150="u2"/>
      <image type="secondary"/>
    </images>
    <artists><artist><name>Alpha</name></artist><artist><name>Beta</name></artist></artists>
    <labels><label name="LabelX" catno="LX-1"/><label name="LabelY"/></labels>
    <formats>
      <format name="Vinyl" qty="2"><descriptions><description>12\"</description><description>LP</description></descriptions></format>
      <format name="CD"/>
    </formats>
    <genres><genre>Electronic</genre><genre>Jazz</genre></genres>
    <styles><style>House</style></styles>
  </release>
  <release id="7002" status="Draft">
    <title>Plain</title>
    <genres><genre>Jazz</genre></genres>
  </release>
  <release>
    <title>No Attrs</title>
  </release>
</releases>
"""


def _lake_root() -> str:
    return os.path.join(ROUNDTRIP_ROOT, "lake")


def _stage(name: str, xml: bytes) -> str:
    """Write one gzipped golden dump to its deterministic path
    (idempotent: rewrite every time so a stale fixture from an older
    code version can never leak into this run's lake).  One helper for
    all four entity dumps — the staging contract must not drift per
    entity."""
    dump_dir = os.path.join(ROUNDTRIP_ROOT, "dumps")
    os.makedirs(dump_dir, exist_ok=True)
    path = os.path.join(dump_dir, name)
    with gzip.open(path, "wb") as f:
        f.write(xml)
    return path


def _stage_dump() -> str:
    return _stage(_DUMP_NAME, _GOLDEN_RELEASES_XML)


def _blind_master_read(spark: SparkSession, root: str) -> DataFrame:
    """Partition-BLIND scan of a master lake with the partition values
    re-derived from each file's own path (``part_year``/``part_month``)
    — the one shared definition of the blind-read contract both
    master-pinning oracles depend on (leaf glob depth, path regexp,
    casts); keep it here so the two cannot drift apart."""
    from discogs_etl_spark.lake import lake_path

    files = os.path.join(lake_path(root, "master"), "*", "*", "*.parquet")
    fpath = F.col("_metadata.file_path")
    return spark.read.parquet(files).select(
        "*",
        F.regexp_extract(fpath, r"year=(\d+)", 1).cast("int").alias("part_year"),
        F.regexp_extract(fpath, r"month=(\d+)", 1).alias("part_month"),
    )


_ROUNDTRIP_ORACLE = f"""
    SELECT id, status, title, country, released, notes,
           -- the kernel writes empty lists, never NULL lists (reference
           -- parser.py:108-113); DuckDB's array_to_string([]) yields NULL
           -- where Spark's array_join([]) yields '' — coalesce to match
           COALESCE(array_to_string(genres, '|'), '') AS genres_joined,
           COALESCE(array_to_string(styles, '|'), '') AS styles_joined,
           COALESCE(array_to_string(artists, '|'), '') AS artists_joined,
           CAST(len(images) AS BIGINT) AS n_images,
           images[1].height AS img0_height,
           images[2].width AS img1_width,
           labels[1].name AS label0_name,
           labels[2].catno AS label1_catno,
           formats[1].qty AS fmt0_qty,
           array_to_string(formats[1].descriptions, '|') AS fmt0_desc,
           formats[2].qty AS fmt1_qty,
           CAST(year AS INT) AS year,
           month
    FROM read_parquet(
        '{_lake_root()}/releases/*/*/*.parquet', hive_partitioning = true)
"""


@register(
    "xml_ingest_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("etl", "xml", "lake", "roundtrip"),
)
def xml_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dump → XML kernel → partitioned lake → partition-discovering read,
    flattened to driver-hashable scalars.  ``sf_dir`` is unused: the input
    is the golden dump (the ETL plane has no sf-scaled fixture), kept as a
    parameter for the registry's uniform signature."""
    from discogs_etl_spark.lake import ingest_dump_to_lake, read_lake

    dump = _stage_dump()
    ingest_dump_to_lake(spark, dump, _lake_root())
    back = read_lake(spark, _lake_root(), "release")
    img0 = F.try_element_at("images", F.lit(1))
    img1 = F.try_element_at("images", F.lit(2))
    lbl0 = F.try_element_at("labels", F.lit(1))
    lbl1 = F.try_element_at("labels", F.lit(2))
    fmt0 = F.try_element_at("formats", F.lit(1))
    fmt1 = F.try_element_at("formats", F.lit(2))
    return back.select(
        "id",
        "status",
        "title",
        "country",
        "released",
        "notes",
        F.array_join("genres", "|").alias("genres_joined"),
        F.array_join("styles", "|").alias("styles_joined"),
        F.array_join("artists", "|").alias("artists_joined"),
        F.size("images").cast("long").alias("n_images"),
        img0.getField("height").alias("img0_height"),
        img1.getField("width").alias("img1_width"),
        lbl0.getField("name").alias("label0_name"),
        lbl1.getField("catno").alias("label1_catno"),
        fmt0.getField("qty").alias("fmt0_qty"),
        F.array_join(fmt0.getField("descriptions"), "|").alias("fmt0_desc"),
        fmt1.getField("qty").alias("fmt1_qty"),
        "year",
        "month",
    )


_DATASOURCE_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(7001 AS BIGINT), 'Round Trip', 'Accepted', 'Electronic|Jazz',
         CAST(2 AS INT), '2', '1', CAST(2024 AS INT), '01'),
        (CAST(7002 AS BIGINT), 'Plain', 'Draft', 'Jazz',
         CAST(0 AS INT), NULL, NULL, CAST(2024 AS INT), '01'),
        (CAST(0 AS BIGINT), 'No Attrs', NULL, '',
         CAST(0 AS INT), NULL, NULL, CAST(2024 AS INT), '01')
    ) AS t(id, title, status, genres_joined, n_images, fmt0_qty, fmt1_qty,
           year, month)
"""


@register(
    "xml_datasource_scan",
    oracle=_DATASOURCE_ORACLE,
    tags=("etl", "xml", "datasource"),
)
def xml_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XML kernel through the FRAMEWORK surface:
    ``spark.read.format("discogs_xml")`` (Python DataSource API, one
    partition per dump file — see sources/datasource.py) over the golden
    dump, flattened to scalars.  The oracle is the expected parse pinned
    as SQL VALUES — the reference's §1.2 coercion table frozen as
    literals (missing id→0, qty→"1" string, control-char scrub +
    whitespace collapse in titles, empty lists join to '').

    Partition values (year/month) come from the dump FILENAME — computed
    here with the same parse_dump_url the lake writer uses."""
    from discogs_etl_spark.lake import parse_dump_url
    from discogs_etl_spark.sources.datasource import register as _register_ds

    _register_ds(spark)
    dump = _stage_dump()
    info = parse_dump_url(dump)
    df = spark.read.format("discogs_xml").option("path", dump).load()
    return df.select(
        "id",
        "title",
        "status",
        F.array_join("genres", "|").alias("genres_joined"),
        F.size("images").cast("int").alias("n_images"),
        F.try_element_at("formats", F.lit(1)).getField("qty").alias("fmt0_qty"),
        F.try_element_at("formats", F.lit(2)).getField("qty").alias("fmt1_qty"),
        F.lit(info["year"]).cast("int").alias("year"),
        F.lit(info["month"]).alias("month"),
    )


@register(
    "xml_datasource_stream_scan",
    oracle=_DATASOURCE_ORACLE,
    tags=("etl", "xml", "datasource", "streaming"),
)
def xml_datasource_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XML kernel through the STREAM surface of the Python DataSource:
    ``spark.readStream.format("discogs_xml")`` over a landing DIRECTORY
    (offsets = the set of dump files seen; each micro-batch parses only
    new arrivals — the monthly-dump consumption model with exactly-once
    from the engine's offset log, sources/datasource.py _StreamReader),
    drained with Trigger.AvailableNow into a memory sink and flattened to
    the same scalars as the batch twin ``xml_datasource_scan`` — so both
    halves of the registered source share one VALUES oracle (the §1.2
    coercion table as literals).  Until this query the stream reader was
    pytest-only; this is its driver CORRECTNESS row."""
    from discogs_etl_spark.lake import parse_dump_url
    from discogs_etl_spark.sources.datasource import register as _register_ds

    _register_ds(spark)
    # a dedicated landing dir (not the batch dump dir) so the stream scan
    # exercises directory listing + filename type detection on its own.
    # Wiped first: the stream reader drains the whole DIRECTORY, so a
    # stale dump left by an older code version (different _DUMP_NAME, an
    # aborted run) would add rows beyond the pinned VALUES oracle —
    # same-name rewriting alone doesn't cover directory-based staleness.
    land = os.path.join(ROUNDTRIP_ROOT, "stream_landing")
    shutil.rmtree(land, ignore_errors=True)
    os.makedirs(land, exist_ok=True)
    path = os.path.join(land, _DUMP_NAME)
    with gzip.open(path, "wb") as f:
        f.write(_GOLDEN_RELEASES_XML)
    info = parse_dump_url(path)
    stream = spark.readStream.format("discogs_xml").option("path", land).load()
    flat = stream.select(
        "id",
        "title",
        "status",
        F.array_join("genres", "|").alias("genres_joined"),
        F.size("images").cast("int").alias("n_images"),
        F.try_element_at("formats", F.lit(1)).getField("qty").alias("fmt0_qty"),
        F.try_element_at("formats", F.lit(2)).getField("qty").alias("fmt1_qty"),
        F.lit(info["year"]).cast("int").alias("year"),
        F.lit(info["month"]).alias("month"),
    )
    q = (
        flat.writeStream.format("memory")
        .queryName("xml_datasource_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("xml_datasource_stream_sink")


_GOLDEN_ARTISTS_XML = b"""<artists>
  <artist>
    <id>42</id>
    <name>Zeta</name>
    <realname>Z Real</realname>
    <profile>profile
text</profile>
    <data_quality>Correct</data_quality>
    <namevariations><name>Z1</name><name>Z2</name></namevariations>
    <aliases><name>A1</name></aliases>
    <groups/>
    <members><name>M1</name><name>M2</name></members>
    <urls><url>http://z</url><url/></urls>
    <images><image height="10" width="20" type="primary" uri="u" uri150="v"/></images>
  </artist>
  <artist><name>NoId</name></artist>
</artists>
"""

_ARTIST_DUMP_NAME = "discogs_20240301_artists.xml.gz"


def _stage_artist_dump() -> str:
    return _stage(_ARTIST_DUMP_NAME, _GOLDEN_ARTISTS_XML)


_ARTIST_ROUNDTRIP_ORACLE = f"""
    SELECT id, name, realname, profile, data_quality,
           COALESCE(array_to_string(namevariations, '|'), '') AS variations_joined,
           COALESCE(array_to_string(aliases, '|'), '') AS aliases_joined,
           COALESCE(array_to_string(groups, '|'), '') AS groups_joined,
           COALESCE(array_to_string(members, '|'), '') AS members_joined,
           CAST(len(urls) AS BIGINT) AS n_urls,
           images[1].height AS img0_height,
           CAST(year AS INT) AS year,
           month
    FROM read_parquet(
        '{_lake_root()}/artists/*/*/*.parquet', hive_partitioning = true)
"""


@register(
    "xml_ingest_roundtrip_artist",
    oracle=_ARTIST_ROUNDTRIP_ORACLE,
    tags=("etl", "xml", "lake", "roundtrip", "artist"),
)
def xml_ingest_roundtrip_artist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Artist-entity roundtrip — the SECOND schema family through the full
    pipeline (release covers deep nesting; artist covers the flat-text +
    many-list shape: namevariations/aliases/groups/members, reference
    parser.py:146-169): golden dump → kernel → partitioned lake → DuckDB
    reads the written parquet.  Pins missing id→0, empty <groups/> → []
    not NULL, whitespace collapse in profile, and the March partition
    deriving from the FILENAME."""
    from discogs_etl_spark.lake import ingest_dump_to_lake, read_lake

    dump = _stage_artist_dump()
    ingest_dump_to_lake(spark, dump, _lake_root())
    back = read_lake(spark, _lake_root(), "artist")
    img0 = F.try_element_at("images", F.lit(1))
    return back.select(
        "id",
        "name",
        "realname",
        "profile",
        "data_quality",
        F.array_join("namevariations", "|").alias("variations_joined"),
        F.array_join("aliases", "|").alias("aliases_joined"),
        F.array_join("groups", "|").alias("groups_joined"),
        F.array_join("members", "|").alias("members_joined"),
        F.size("urls").cast("long").alias("n_urls"),
        img0.getField("height").alias("img0_height"),
        "year",
        "month",
    )


# Golden master dump — the THIRD schema family, and the one with the two
# contract points no other entity pins (reference parser.py:54-98,
# schema.py:3-33): ``videos.embed`` parses the literal string 'true' to a
# BOOL, and ``year`` is an int32 DATA column (the release year) that
# collides with the lake's dump-date partition name.  Record 5001
# exercises embed=true/false, a missing duration→0, and year 1985;
# record 5002 is the bare husk (missing year/main_release → 0, empty
# lists).  Master ``id`` is the REQUIRED attribute (parser.py:56) — both
# records carry it.
_GOLDEN_MASTERS_XML = b"""<masters>
  <master id="5001">
    <main_release>10</main_release>
    <year>1985</year>
    <title>Master One</title>
    <data_quality>Correct</data_quality>
    <artists><artist><id>7</id><name>Alpha</name><anv>A</anv><join>&amp;</join><role>Main</role><tracks>1-3</tracks></artist></artists>
    <genres><genre>Rock</genre><genre>Jazz</genre></genres>
    <styles><style>Punk</style></styles>
    <images><image height="100" width="200" type="primary" uri="u" uri150="v"/></images>
    <videos>
      <video duration="120" embed="true" src="http://v1"><title>V1</title><description>D1</description></video>
      <video embed="false" src="http://v2"><title>V2</title></video>
    </videos>
  </master>
  <master id="5002">
    <title>Bare</title>
  </master>
</masters>
"""

_MASTER_DUMP_NAME = "discogs_20240601_masters.xml.gz"


def _stage_master_dump() -> str:
    return _stage(_MASTER_DUMP_NAME, _GOLDEN_MASTERS_XML)


# Partition-BLIND read of the written files (hive_partitioning=false +
# filename) so the oracle sees the DATA year the kernel parsed — the
# partition-aware view would shadow it (both engines resolve the
# master-specific year collision in favor of the path value; see
# lake.write_lake).  The lake LAYOUT is still pinned end-to-end: the
# partition values are re-derived from each file's own path.
_MASTER_ROUNDTRIP_ORACLE = f"""
    SELECT id,
           CAST(main_release AS BIGINT) AS main_release,
           title,
           CAST(year AS INT) AS data_year,
           data_quality,
           COALESCE(array_to_string(genres, '|'), '') AS genres_joined,
           COALESCE(array_to_string(styles, '|'), '') AS styles_joined,
           artists[1].id AS artist0_id,
           artists[1].name AS artist0_name,
           artists[1].anv AS artist0_anv,
           artists[1]."join" AS artist0_join,
           CAST(len(videos) AS BIGINT) AS n_videos,
           CAST(videos[1].duration AS INT) AS vid0_duration,
           CAST(videos[1].embed AS INT) AS vid0_embed,
           videos[1].src AS vid0_src,
           videos[1].title AS vid0_title,
           CAST(videos[2].duration AS INT) AS vid1_duration,
           CAST(videos[2].embed AS INT) AS vid1_embed,
           CAST(regexp_extract(filename, 'year=(\\d+)', 1) AS INT)
               AS part_year,
           regexp_extract(filename, 'month=(\\d+)', 1) AS part_month
    FROM read_parquet(
        '{_lake_root()}/masters/*/*/*.parquet',
        hive_partitioning = false, filename = true)
"""


@register(
    "xml_ingest_roundtrip_master",
    oracle=_MASTER_ROUNDTRIP_ORACLE,
    tags=("etl", "xml", "lake", "roundtrip", "master"),
)
def xml_ingest_roundtrip_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-entity roundtrip — the THIRD schema family end-to-end,
    pinning the two contract points only master carries (reference
    parser.py:54-98, schema.py:3-33): ``videos.embed == 'true'`` string
    → BOOL parse (surfaced as INT — the driver hasher rejects bool
    cells) and the int32 DATA ``year`` surviving the write untouched by
    the lake's same-named partition (write_lake's leaf-directory path
    for colliding schemas).  Both sides read the files partition-BLIND
    and re-derive the partition values from each file's path, so the
    FILENAME-derived June layout is pinned too."""
    from discogs_etl_spark.lake import ingest_dump_to_lake

    dump = _stage_master_dump()
    ingest_dump_to_lake(spark, dump, _lake_root())
    back = _blind_master_read(spark, _lake_root())
    art0 = F.try_element_at("artists", F.lit(1))
    vid0 = F.try_element_at("videos", F.lit(1))
    vid1 = F.try_element_at("videos", F.lit(2))
    return back.select(
        "id",
        F.col("main_release").cast("long").alias("main_release"),
        "title",
        F.col("year").cast("int").alias("data_year"),
        "data_quality",
        F.array_join("genres", "|").alias("genres_joined"),
        F.array_join("styles", "|").alias("styles_joined"),
        art0.getField("id").alias("artist0_id"),
        art0.getField("name").alias("artist0_name"),
        art0.getField("anv").alias("artist0_anv"),
        art0.getField("join").alias("artist0_join"),
        F.size("videos").cast("long").alias("n_videos"),
        vid0.getField("duration").cast("int").alias("vid0_duration"),
        vid0.getField("embed").cast("int").alias("vid0_embed"),
        vid0.getField("src").alias("vid0_src"),
        vid0.getField("title").alias("vid0_title"),
        vid1.getField("duration").cast("int").alias("vid1_duration"),
        vid1.getField("embed").cast("int").alias("vid1_embed"),
        "part_year",
        "part_month",
    )


# Golden label dump — the FOURTH schema family.  The label path is the
# only one whose streaming repair KEEPS newlines (xml_ingest's
# _iter_repaired_text: collapse_ws = data_type != 'label'; reference
# process.py:262-266), so contactinfo/profile carry literal '\\n' through
# to the lake.  Also pins: element-text id (missing → 0), the
# width-BEFORE-height image struct (reference schema.py:41-42), and
# <sublabels><label> children NOT masquerading as label records (the
# depth guard in iter_records_stream).
_GOLDEN_LABELS_XML = b"""<labels>
  <label>
    <id>301</id>
    <name>LabelOne</name>
    <contactinfo>addr line1
addr line2</contactinfo>
    <profile>profile line1
profile line2</profile>
    <data_quality>Correct</data_quality>
    <images><image width="30" height="40" type="primary" uri="u" uri150="v"/></images>
    <urls><url>http://l1</url><url>http://l2</url></urls>
    <sublabels><label>Sub A</label><label>Sub B</label></sublabels>
  </label>
  <label>
    <name>NoId</name>
  </label>
</labels>
"""

_LABEL_DUMP_NAME = "discogs_20241101_labels.xml.gz"


def _stage_label_dump() -> str:
    return _stage(_LABEL_DUMP_NAME, _GOLDEN_LABELS_XML)


_LABEL_ROUNDTRIP_ORACLE = f"""
    SELECT id, name, contactinfo, profile, data_quality,
           CAST(images[1].width AS INT) AS img0_width,
           CAST(images[1].height AS INT) AS img0_height,
           COALESCE(array_to_string(urls, '|'), '') AS urls_joined,
           COALESCE(array_to_string(sublabels, '|'), '') AS sublabels_joined,
           CAST(year AS INT) AS year,
           month
    FROM read_parquet(
        '{_lake_root()}/labels/*/*/*.parquet', hive_partitioning = true)
"""


@register(
    "xml_ingest_roundtrip_label",
    oracle=_LABEL_ROUNDTRIP_ORACLE,
    tags=("etl", "xml", "lake", "roundtrip", "label"),
)
def xml_ingest_roundtrip_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-entity roundtrip — the FOURTH schema family end-to-end,
    completing driver evidence for all four SCHEMAS entries.  Pins the
    label path's newline PRESERVATION (contactinfo/profile keep '\\n' —
    every other entity's streaming repair collapses it), the
    width-first image struct, the sublabels text list riding through
    the lake, and the November partition deriving from the FILENAME.
    (That sublabel <label> CHILDREN never parse as records is pinned by
    the local kernel test test_label_dirty_wrapper_and_sublabels, not
    here: both sides of this oracle read the same WRITTEN files, so a
    husk row would appear identically on both and still match.  Newline
    preservation itself is driver-pinned by ``xml_ingest_label_values``
    below, whose oracle is literal SQL VALUES and reads no files.)"""
    from discogs_etl_spark.lake import ingest_dump_to_lake, read_lake

    dump = _stage_label_dump()
    ingest_dump_to_lake(spark, dump, _lake_root())
    back = read_lake(spark, _lake_root(), "label")
    img0 = F.try_element_at("images", F.lit(1))
    return back.select(
        "id",
        "name",
        "contactinfo",
        "profile",
        "data_quality",
        img0.getField("width").cast("int").alias("img0_width"),
        img0.getField("height").cast("int").alias("img0_height"),
        F.array_join("urls", "|").alias("urls_joined"),
        F.array_join("sublabels", "|").alias("sublabels_joined"),
        "year",
        "month",
    )


# VALUES-pinned label ingest: the one behavior unique to the label path —
# newlines in contactinfo/profile SURVIVING the streaming repair (reference
# process.py:262-266 keeps '\n' for labels where every other entity's
# repair collapses it) — pinned against literal expected strings.  The
# written-files roundtrip above cannot catch a symmetric kernel regression
# (a kernel that collapsed newlines would write collapsed files and both
# readers would still agree); this oracle reads NOTHING — it is the
# expected parse output as SQL VALUES, so any newline collapse, id-default
# drift, or list-ordering change fails the hash.
_LABEL_VALUES_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(301 AS BIGINT), 'LabelOne',
         'addr line1' || chr(10) || 'addr line2',
         'profile line1' || chr(10) || 'profile line2',
         'Correct', 'http://l1|http://l2', 'Sub A|Sub B'),
        (CAST(0 AS BIGINT), 'NoId', CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), '', '')
    ) AS t(id, name, contactinfo, profile, data_quality,
           urls_joined, sublabels_joined)
"""


@register(
    "xml_ingest_label_values",
    oracle=_LABEL_VALUES_ORACLE,
    tags=("etl", "xml", "label", "values-pin"),
)
def xml_ingest_label_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label ingest pinned to a VALUES end state — closes the driver-
    evidence gap the round-5 verdict flagged: ``xml_ingest_roundtrip_label``
    reads the same written files on both sides, so label newline
    PRESERVATION had no driver row that could catch a symmetric kernel
    regression.  Here the expected ``contactinfo``/``profile`` strings
    (with literal newlines), the missing-id→0 default, and the
    urls/sublabels orderings are hard-coded in the oracle; the Spark side
    is the parse kernel alone, no lake write in the loop."""
    from discogs_etl_spark.sources.xml_ingest import ingest_xml

    parsed = ingest_xml(spark, _stage_label_dump(), "label")
    return parsed.select(
        "id",
        "name",
        "contactinfo",
        "profile",
        "data_quality",
        F.array_join("urls", "|").alias("urls_joined"),
        F.array_join("sublabels", "|").alias("sublabels_joined"),
    )


# Correction dump for the maintenance roundtrip: a re-issued record
# (5002 gains its year) plus a late addition (5003) — the reference's
# correction-run scenario upsert_lake implements as parquet-native MERGE.
_GOLDEN_MASTERS_FIX_XML = b"""<masters>
  <master id="5002">
    <year>1990</year>
    <title>Bare Fixed</title>
  </master>
  <master id="5003">
    <year>2003</year>
    <title>Late Addition</title>
  </master>
</masters>
"""


_MAINTENANCE_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(5001 AS BIGINT), 'Master One', CAST(1985 AS INT),
         CAST(1 AS INT), CAST(2024 AS INT), '06'),
        (CAST(5002 AS BIGINT), 'Bare Fixed', CAST(1990 AS INT),
         CAST(1 AS INT), CAST(2024 AS INT), '06'),
        (CAST(5003 AS BIGINT), 'Late Addition', CAST(2003 AS INT),
         CAST(1 AS INT), CAST(2024 AS INT), '06')
    ) AS t(id, title, data_year, n_compacted, part_year, part_month)
"""


@register(
    "lake_maintenance_roundtrip",
    oracle=_MAINTENANCE_ORACLE,
    tags=("etl", "lake", "compaction", "upsert", "maintenance"),
)
def lake_maintenance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAKE MAINTENANCE end-to-end on the collision-bearing entity:
    many-file master write → compact_lake (partition rewritten from the
    FILES, so the parsed release years survive — the exact path the
    round-5 review found silently swapping data years for dump dates
    when it read the shadowed hive view) → upsert_lake correction run
    (record-level MERGE: 5002 re-issued with its year, 5003 added) →
    partition-blind read of the final bytes.

    The oracle is the expected END STATE pinned as SQL VALUES — unlike
    the written-files roundtrip oracles, a VALUES pin catches
    maintenance bugs that corrupt BOTH readers' view (lost rows,
    clobbered years, duplicate keys).  ``n_compacted`` carries
    compact_lake's return value (1 partition rewritten) so a silently
    skipped compaction also fails the match.  Partition values are
    re-derived from each file's path, pinning that maintenance never
    moved the June leaf."""
    from discogs_etl_spark.lake import compact_lake, upsert_lake, write_lake
    from discogs_etl_spark.sources.xml_ingest import ingest_xml, ingest_xml_bytes

    # dedicated root, wiped first: compact_lake walks EVERY partition and
    # the final read globs them all, so a stale leaf left by an older
    # code version (different month, extra files) would perturb both the
    # VALUES-pinned row set and n_compacted — same directory-staleness
    # rule as the stream-scan landing dir.
    root = os.path.join(ROUNDTRIP_ROOT, "maintenance_lake")
    shutil.rmtree(root, ignore_errors=True)
    dump = _stage_master_dump()
    base = ingest_xml(spark, dump, "master").repartition(4)
    write_lake(base, root, "master", 2024, "06")
    n_compacted = compact_lake(spark, root, "master", target_file_mb=1024)
    fix = ingest_xml_bytes(spark, _GOLDEN_MASTERS_FIX_XML, "master")
    upsert_lake(spark, fix, root, "master", 2024, "06")

    return _blind_master_read(spark, root).select(
        "id",
        "title",
        F.col("year").cast("int").alias("data_year"),
        F.lit(n_compacted).cast("int").alias("n_compacted"),
        "part_year",
        "part_month",
    )


# -- backfill + audit_table (the `backfill` CLI verb's composition) ---------
#
# The dumps are staged with DETERMINISTIC gzip bytes (gzip.compress with
# mtime=0 — gzip.open embeds the wall clock in the member header, which
# would make sha256 unpinnable), so the audit report's checksum column
# can be value-checked against a literal oracle.  One manifest entry is
# deliberately WRONG (the artists line is all zeros) so checksum_ok
# carries both outcomes — the audit demonstrably audits.
_AUDIT_RELEASES_NAME = "discogs_20240201_releases.xml.gz"
_AUDIT_ARTISTS_NAME = "discogs_20240201_artists.xml.gz"


def _audit_gz(xml: bytes) -> bytes:
    import zlib

    # raw DEFLATE via zlib + hand-built gzip member (fixed header: no
    # mtime, no filename, XFL=2, OS=255) — byte-stable across runs and
    # zlib builds' default strategies at level 9
    co = zlib.compressobj(9, zlib.DEFLATED, -zlib.MAX_WBITS)
    body = co.compress(xml) + co.flush()
    header = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x02\xff"
    import struct

    trailer = struct.pack("<II", zlib.crc32(xml) & 0xFFFFFFFF, len(xml) & 0xFFFFFFFF)
    return header + body + trailer


_AUDIT_RELEASES_GZ = _audit_gz(_GOLDEN_RELEASES_XML)
_AUDIT_ARTISTS_GZ = _audit_gz(_GOLDEN_ARTISTS_XML)


def _sha256_hex(data: bytes) -> str:
    import hashlib

    return hashlib.sha256(data).hexdigest()


_AUDIT_RELEASES_SHA = _sha256_hex(_AUDIT_RELEASES_GZ)
_AUDIT_ARTISTS_SHA = _sha256_hex(_AUDIT_ARTISTS_GZ)


@register(
    "backfill_audit_table",
    oracle=f"""
        SELECT * FROM (VALUES
            ('{_AUDIT_ARTISTS_NAME}', 'artist', 'artists',
             '{_AUDIT_ARTISTS_SHA}', CAST(0 AS INT)),
            ('{_AUDIT_RELEASES_NAME}', 'release', 'releases',
             '{_AUDIT_RELEASES_SHA}', CAST(1 AS INT))
        ) AS t(filename, data_type, lake_leaf, sha256, checksum_ok)
    """,
    tags=("etl", "pipeline", "backfill", "audit", "checksum"),
)
def backfill_audit_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `backfill` CLI verb's composition END TO END (cli.py:29-50):
    dumps → catalog → organize (latest per month, checksum manifest
    attached by filename) → threaded ingest into the partitioned lake →
    ``audit_table`` report — the one user-facing verb whose GLUE
    (pipeline.backfill + audit_table, reference run.py:20-41 +
    s3.py:292-424) ran on local tests only until this query (r17
    verdict task #5).

    Two entity dumps (releases + artists) are staged with byte-stable
    gzip, and the checksum manifest deliberately mismatches the artists
    entry, so the driver value-checks the audit's sha256 hex AND both
    checksum_ok outcomes against literals; ``lake_leaf`` pins the
    per-entity lake layout (K5) without exposing the absolute temp
    path.  ``sf_dir`` is unused — ETL-plane fixture input, uniform
    registry signature.

    Scale: the catalog/organize stage is metadata-sized (one entry per
    dump file, picked on the driver with no Spark job — the S11 plan;
    the report itself is a ``LocalRelation``), and each dump ingests as
    an independent Spark job from a thread pool, so a month-by-month
    backfill is wall-clock-bounded by the largest dump, not the sum."""
    from discogs_etl_spark.pipeline import audit_table, backfill
    from discogs_etl_spark.sources.manifest import parse_checksum_manifest

    dump_dir = os.path.join(ROUNDTRIP_ROOT, "audit_dumps")
    os.makedirs(dump_dir, exist_ok=True)
    paths = []
    for name, gz in (
        (_AUDIT_RELEASES_NAME, _AUDIT_RELEASES_GZ),
        (_AUDIT_ARTISTS_NAME, _AUDIT_ARTISTS_GZ),
    ):
        path = os.path.join(dump_dir, name)
        with open(path, "wb") as f:
            f.write(gz)
        paths.append(path)
    manifest = (
        f"{_AUDIT_RELEASES_SHA} *{_AUDIT_RELEASES_NAME}\n"
        f"{'0' * 64} *{_AUDIT_ARTISTS_NAME}\n"
    )
    root = os.path.join(ROUNDTRIP_ROOT, "audit_lake")
    shutil.rmtree(root, ignore_errors=True)
    results = backfill(
        spark, paths, root, checksums=parse_checksum_manifest(spark, manifest)
    )
    return audit_table(spark, results).select(
        "filename",
        "data_type",
        F.element_at(F.split("lake_path", "/"), -1).alias("lake_leaf"),
        "sha256",
        F.col("checksum_ok").cast("int").alias("checksum_ok"),
    )
