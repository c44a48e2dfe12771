"""Dump catalog operators (SURVEY.md §2.1 S10-S13): the latest file per
(month, type) is picked on the driver, the checksum manifest is attached
by filename, and every metadata frame is a job-free ``LocalRelation``."""

from __future__ import annotations

import time
from datetime import date

import pytest

from discogs_etl_spark.pipeline import DumpResult, audit_table
from discogs_etl_spark.sources.manifest import (
    dumps_catalog,
    organize_dumps,
    parse_checksum_manifest,
)

KEYS = [
    "data/2019/discogs_20190301_artists.xml.gz",
    "data/2019/discogs_20190308_artists.xml.gz",  # later in same month -> wins
    "data/2019/discogs_20190301_releases.xml.gz",
    "data/2019/discogs_20190401_releases.xml.gz",
    "data/2019/CHECKSUM.txt",  # non-dump entries are dropped
]

MANIFEST = """
abc123 *discogs_20190308_artists.xml.gz
def456 discogs_20190301_releases.xml.gz
"""


def test_organize_latest_per_month(spark):
    cat = dumps_catalog(spark, KEYS, base_url="https://dumps/")
    assert cat.count() == 4
    latest = organize_dumps(cat)
    rows = {(r["year_month"], r["data_type"]): r for r in latest.collect()}
    assert set(rows) == {("2019-03", "artist"), ("2019-03", "release"), ("2019-04", "release")}
    # argmax(date) within the month (reference s3.py:384-386)
    assert rows[("2019-03", "artist")]["filename"] == "discogs_20190308_artists.xml.gz"
    assert rows[("2019-03", "artist")]["url"].startswith("https://dumps/data/2019/")


def test_checksum_join(spark):
    cat = dumps_catalog(spark, KEYS)
    sums = parse_checksum_manifest(spark, MANIFEST)
    latest = organize_dumps(cat, sums)
    rows = {r["filename"]: r["checksum"] for r in latest.collect()}
    assert rows["discogs_20190308_artists.xml.gz"] == "abc123"
    assert rows["discogs_20190301_releases.xml.gz"] == "def456"
    assert rows["discogs_20190401_releases.xml.gz"] is None


def test_frames_keep_their_columns_and_types(spark):
    cat = dumps_catalog(spark, KEYS, base_url="https://dumps/")
    assert cat.dtypes == [
        ("filename", "string"),
        ("dump_date", "date"),
        ("year_month", "string"),
        ("data_type", "string"),
        ("url", "string"),
    ]
    row = cat.where("filename = 'discogs_20190308_artists.xml.gz'").collect()[0]
    assert row["dump_date"] == date(2019, 3, 8)
    assert row["year_month"] == "2019-03"
    assert row["url"] == "https://dumps/data/2019/discogs_20190308_artists.xml.gz"
    assert organize_dumps(cat).dtypes == cat.dtypes
    sums = parse_checksum_manifest(spark, MANIFEST)
    assert sums.dtypes == [("filename", "string"), ("checksum", "string")]
    assert organize_dumps(cat, sums).dtypes == cat.dtypes + [("checksum", "string")]


def test_duplicate_manifest_lines_collapse(spark):
    # the same file listed twice (with and without the binary-mode `*`)
    # is one manifest row, so the dump is catalogued — and ingested — once
    text = MANIFEST + "abc123 discogs_20190308_artists.xml.gz\n" + MANIFEST
    sums = parse_checksum_manifest(spark, text)
    assert sorted(map(tuple, sums.collect())) == [
        ("discogs_20190301_releases.xml.gz", "def456"),
        ("discogs_20190308_artists.xml.gz", "abc123"),
    ]
    latest = organize_dumps(dumps_catalog(spark, KEYS), sums).collect()
    assert len(latest) == 3
    assert len({r["filename"] for r in latest}) == 3


def test_conflicting_manifest_sums_raise(spark):
    text = MANIFEST + "fff999 *discogs_20190308_artists.xml.gz\n"
    with pytest.raises(ValueError, match="discogs_20190308_artists.xml.gz"):
        parse_checksum_manifest(spark, text)


def test_partial_download_is_not_a_dump(spark):
    # a crashed download leaves `<name>.part` (pipeline.land_dumps); it
    # sorts after the complete file and used to win its month
    keys = [
        "landing/discogs_20230115_releases.xml.gz",
        "landing/discogs_20230115_releases.xml.gz.part",
        "landing/discogs_20230120_releases.xml.gz.part",
        "landing/old_discogs_20230125_releases.xml.gz",
    ]
    cat = dumps_catalog(spark, keys)
    assert [r["filename"] for r in cat.collect()] == ["discogs_20230115_releases.xml.gz"]
    (only,) = organize_dumps(cat).collect()
    assert only["filename"] == "discogs_20230115_releases.xml.gz"


def test_invalid_dump_date_fails_loudly(spark):
    with pytest.raises(ValueError, match="20231399"):
        dumps_catalog(spark, ["data/discogs_20231399_releases.xml.gz"])


def _group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_metadata_actions_run_no_jobs(spark):
    """Catalog, manifest, selection and audit report are LocalRelations:
    collecting them launches no Spark job."""
    sc = spark.sparkContext
    results = [
        DumpResult("discogs_20190308_artists.xml.gz", "artist", "/lake/artists", "ab", True),
        DumpResult("discogs_20190401_releases.xml.gz", "release", "/lake/releases", None, None),
    ]
    try:
        sc.setJobGroup("manifest-metadata", "metadata actions")
        chosen = organize_dumps(
            dumps_catalog(spark, KEYS), parse_checksum_manifest(spark, MANIFEST)
        ).collect()
        audit = audit_table(spark, results).collect()
        # a list-built frame in its own group proves the tracker sees jobs;
        # listener events arrive in order, so once its job shows up any
        # metadata job would have shown up too
        sc.setJobGroup("manifest-sentinel", "list-built frame")
        spark.createDataFrame([(1,)], "a int").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while _group_jobs(spark, "manifest-sentinel") == 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert _group_jobs(spark, "manifest-sentinel") > 0
    assert _group_jobs(spark, "manifest-metadata") == 0
    assert len(chosen) == 3 and len(audit) == 2
