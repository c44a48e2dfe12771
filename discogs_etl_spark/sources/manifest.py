"""Dump catalog/manifest, built on the driver (SURVEY.md §2.1 S10-S13).

The reference's ``organize_discogs_files`` (s3.py:329-424) walks a Python
list of S3 keys, groups by year-month, keeps the LATEST file per
(month, type) via pairwise compares (s3.py:384-386), and attaches expected
checksums parsed from CHECKSUM.txt manifests (s3.py:292-327).  The catalog
is naturally small and driver-local — Discogs publishes 4 dumps a month,
under 1k entries after 20 years — so the selection stays plain Python
(``latest_dumps``) and the frames handed back are ``LocalRelation``s
(``session.local_frame``): collecting them runs no Spark job.  The
relational latest-per-month pattern at table scale lives in
``queries.analytics.manifest_latest_per_month``.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from datetime import date
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from discogs_etl_spark.session import local_frame

# the whole basename, e.g. discogs_20190301_artists.xml.gz — a crashed
# download's ``<name>.part`` is not a dump
_FNAME_PATTERN = re.compile(
    r"discogs_(\d{8})_(artists|labels|masters|releases)\.xml\.gz", re.ASCII
)
# ``<sum> [*]<file>``, as in the sha256sum format
_MANIFEST_LINE = re.compile(r"(\S+)\s+\*?(.+)", re.ASCII)

CATALOG_SCHEMA = "filename string, dump_date date, year_month string, data_type string, url string"
CHECKSUM_SCHEMA = "filename string, checksum string"


class DumpEntry(NamedTuple):
    filename: str
    dump_date: date
    year_month: str
    data_type: str
    url: str


def dump_entry(key: str, base_url: str = "") -> DumpEntry | None:
    """One key's catalog entry; None when its basename is not a dump (a
    crashed download's ``.part``, any other file), and ``ValueError`` on
    an impossible dump date."""
    filename = key.rsplit("/", 1)[-1]
    m = _FNAME_PATTERN.fullmatch(filename)
    if m is None:
        return None
    ymd = m[1]
    try:
        d = date(int(ymd[:4]), int(ymd[4:6]), int(ymd[6:]))
    except ValueError as e:
        raise ValueError(f"{key}: invalid dump date {ymd}") from e
    # plural → singular type map (reference s3.py:390-395)
    return DumpEntry(filename, d, d.strftime("%Y-%m"), m[2][:-1], base_url + key)


def catalog_entries(keys: Iterable[str], base_url: str = "") -> list[DumpEntry]:
    """Key list → typed catalog entries (``dump_entry``); non-dump keys
    are dropped."""
    return [e for e in (dump_entry(k, base_url) for k in keys) if e is not None]


def checksum_map(pairs: Iterable[tuple[str, str]]) -> dict[str, str]:
    """(filename, checksum) pairs → one checksum per file.  A repeated
    pair collapses; two different sums for one file raise ``ValueError``."""
    sums: dict[str, str] = {}
    for name, checksum in pairs:
        seen = sums.setdefault(name, checksum)
        if seen != checksum:
            raise ValueError(f"conflicting checksums for {name}: {seen} vs {checksum}")
    return sums


def latest_dumps(
    entries: Iterable[DumpEntry], checksums: dict[str, str] | None = None
) -> list[tuple]:
    """Latest entry per (year_month, data_type) — dump_date desc, then
    filename desc (reference s3.py:384-386) — in key order; with
    ``checksums`` each entry gains its expected sum, or None (the
    reference's dict lookup, s3.py:399-416)."""
    best: dict[tuple[str, str], DumpEntry] = {}
    for e in entries:
        k = (e.year_month, e.data_type)
        if k not in best or (e.dump_date, e.filename) > (best[k].dump_date, best[k].filename):
            best[k] = e
    chosen = [best[k] for k in sorted(best)]
    if checksums is None:
        return chosen
    return [(*e, checksums.get(e.filename)) for e in chosen]


def dumps_catalog(spark: SparkSession, keys: list[str], base_url: str = "") -> DataFrame:
    """Key list → typed catalog rows (filename, date, type, url)."""
    return local_frame(spark, catalog_entries(keys, base_url), CATALOG_SCHEMA)


def parse_checksum_manifest(spark: SparkSession, manifest_text: str) -> DataFrame:
    """CHECKSUM.txt lines ``<sum> [*]<file>`` → (filename, checksum), one
    row per file (reference s3.py:292-327)."""
    pairs = []
    for line in manifest_text.splitlines():
        m = _MANIFEST_LINE.fullmatch(line.strip())
        if m:
            pairs.append((m[2], m[1]))
    return local_frame(spark, checksum_map(pairs).items(), CHECKSUM_SCHEMA)


def organize_dumps(catalog: DataFrame, checksums: DataFrame | None = None) -> DataFrame:
    """Latest file per (year_month, data_type), with checksum attached.

    Collects the catalog (and checksums) to the driver — no job when they
    are ``dumps_catalog``/``parse_checksum_manifest`` frames — and picks
    with ``latest_dumps``; returns a ``LocalRelation`` with the catalog's
    columns plus ``checksum`` when ``checksums`` is given."""
    entries = [DumpEntry(*r) for r in catalog.select(*DumpEntry._fields).collect()]
    schema = CATALOG_SCHEMA
    sums = None
    if checksums is not None:
        sums = checksum_map(checksums.select("filename", "checksum").collect())
        schema += ", checksum string"
    return local_frame(catalog.sparkSession, latest_dumps(entries, sums), schema)
