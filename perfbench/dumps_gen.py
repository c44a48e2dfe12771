"""Seeded generator of gzipped Discogs XML dumps for the lake-etl workload.

Produces one dump per (entity type, month) named the way Discogs publishes
them (``discogs_YYYYMMDD_<type>s.xml.gz``), sized like real monthly dumps
(releases ≫ masters ≈ artists > labels), plus one superseded earlier
release dump that the catalog must skip, a few small release increments
for one month, and a sha256 manifest in the ``CHECKSUM.txt`` format.

At a fixed low rate records carry the parse edge cases of FIXTURES.md §B:
missing numerics (→ 0), empty collections, control characters, bare
``&``, partial ``released`` dates, and a master ``year`` equal to the
lake partition year.  Alongside the files it returns the values the
engine must reproduce: record counts per (type, year, month), the ids the
flagship genre query must return, and the decompressed XML size.  The
same seed gives byte-identical files.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

MONTHS = ((2023, 1), (2023, 2))
# records per monthly dump; the skew mirrors real Discogs dumps
SIZES = {"release": 1000, "master": 240, "artist": 200, "label": 70}
INCREMENTS = 2
INCREMENT_SIZE = 40
EDGE_EVERY = 40  # one record in EDGE_EVERY carries an edge case

_GENRES = [
    "Electronic", "Rock", "Pop", "Jazz", "Hip Hop", "Funk / Soul", "Classical",
    "Latin", "Reggae", "Blues",
]
_STYLES = ["House", "Techno", "Ambient", "Punk", "Bop", "Soul", "Dub", "Disco"]
_COUNTRIES = ["US", "UK", "Germany", "Japan", "France", "Netherlands", "Brazil"]
_WORDS = "blue night river echo static velvet signal paper gold drift".split()
_FORMATS = ["Vinyl", "CD", "Cassette", "File"]
_DESCRIPTIONS = ["LP", "Album", '12"', "Single", "Compilation", "Reissue"]
_BARE_AMP = "Folk, World, & Country"  # a real Discogs genre: bare '&'
_CONTROL = "\x07"


@dataclass
class Dumps:
    paths: list[str]  # every dump file, the superseded one included
    stale: str  # the superseded dump the catalog must skip
    manifest: str
    increments: list[str]
    increment_month: tuple[int, int]
    genre_month: tuple[int, int]
    counts: dict[tuple[str, int, int], int] = field(default_factory=dict)
    genre_ids: list[int] = field(default_factory=list)
    xml_bytes: int = 0  # decompressed size of every ingested dump


def _title(rng: random.Random, edge: bool) -> str:
    t = " ".join(rng.choice(_WORDS).capitalize() for _ in range(rng.randint(1, 3)))
    if edge:
        return t + _CONTROL + " & Co"  # scrubbed control char + bare '&'
    return escape(t)


def _images(rng: random.Random, edge: bool) -> str:
    if edge:
        return '<images><image type="secondary"/></images>'  # dims missing → 0
    n = rng.randint(0, 2)
    return "<images>" + "".join(
        f'<image height="{rng.choice((150, 600))}" width="{rng.choice((150, 600))}" '
        f'type="primary" uri="https://img/{rng.randint(1, 10**6)}" uri150=""/>'
        for _ in range(n)
    ) + "</images>"


def _release(rng: random.Random, rid: int, edge: bool) -> tuple[str, list[str], int]:
    """One <release> element, its genres and the id the parser must give it."""
    if edge and rid % 3 == 0:
        genres: list[str] = []  # empty collection
    else:
        genres = rng.sample(_GENRES, rng.randint(1, 3))
        if edge:
            genres.append(_BARE_AMP)
    released = rng.choice(("1990-00-00", "199?", "")) if edge else (
        f"{rng.randint(1960, 2022)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    )
    missing_id = edge and rid % 3 == 1  # missing id attribute → 0
    id_attr = "" if missing_id else f' id="{rid}"'
    formats = "".join(
        f'<format name="{rng.choice(_FORMATS)}" qty="{rng.randint(1, 2)}"><descriptions>'
        + "".join(f"<description>{escape(d)}</description>"
                  for d in rng.sample(_DESCRIPTIONS, rng.randint(0, 2)))
        + "</descriptions></format>"
        for _ in range(rng.randint(1, 2))
    )
    xml = (
        f'<release{id_attr} status="Accepted"><title>{_title(rng, edge)}</title>'
        f"<country>{rng.choice(_COUNTRIES)}</country><released>{released}</released>"
        f"<notes>{escape(' '.join(rng.choices(_WORDS, k=rng.randint(0, 12))))}</notes>"
        f"{_images(rng, edge)}<artists><artist><name>{escape(rng.choice(_WORDS))}</name>"
        f"</artist></artists><labels><label name=\"{rng.choice(_WORDS)} Records\" "
        f"catno=\"CAT-{rng.randint(1, 9999)}\"/></labels><formats>{formats}</formats>"
        "<genres>" + "".join(
            f"<genre>{g}</genre>" if g == _BARE_AMP else f"<genre>{escape(g)}</genre>"
            for g in genres
        ) + "</genres><styles>" + "".join(
            f"<style>{s}</style>" for s in rng.sample(_STYLES, rng.randint(0, 2))
        ) + "</styles></release>\n"
    )
    return xml, genres, 0 if missing_id else rid


def _master(rng: random.Random, mid: int, edge: bool, dump_year: int) -> str:
    if edge:
        # missing main_release/year (→ 0) — or a year equal to the partition
        year = f"<year>{dump_year}</year>" if mid % 2 else ""
        return (
            f'<master id="{mid}">{year}<title>{_title(rng, True)}</title>'
            "<artists/><genres/><styles/><videos><video><title>v</title></video></videos>"
            "</master>\n"
        )
    return (
        f'<master id="{mid}"><main_release>{rng.randint(1, 10**7)}</main_release>'
        f"<artists><artist><id>{rng.randint(1, 10**6)}</id><name>{rng.choice(_WORDS)}</name>"
        "<anv/><join/><role/><tracks/></artist></artists>"
        f"<genres><genre>{escape(rng.choice(_GENRES))}</genre></genres>"
        f"<styles><style>{rng.choice(_STYLES)}</style></styles>"
        f"<year>{rng.randint(1950, 2022)}</year><title>{_title(rng, False)}</title>"
        "<data_quality>Correct</data_quality>"
        f'<videos><video duration="{rng.randint(60, 600)}" embed="true" src="https://v/'
        f'{mid}"><title>t</title><description>d</description></video></videos></master>\n'
    )


def _artist(rng: random.Random, aid: int, edge: bool) -> str:
    ident = "" if edge else f"<id>{aid}</id>"
    names = "" if edge else "".join(
        f"<name>{rng.choice(_WORDS)}</name>" for _ in range(rng.randint(1, 3))
    )
    return (
        f"<artist>{ident}<name>{_title(rng, edge)}</name><realname>{rng.choice(_WORDS)}"
        f"</realname><profile>{escape(' '.join(rng.choices(_WORDS, k=8)))}</profile>"
        f"<urls><url>https://a/{aid}</url></urls><namevariations>{names}</namevariations>"
        f"<aliases/><groups/><members/>{_images(rng, edge)}</artist>\n"
    )


def _label(rng: random.Random, lid: int, edge: bool) -> str:
    ident = "" if edge else f"<id>{lid}</id>"
    return (
        f"<label>{ident}<name>{_title(rng, edge)}</name><contactinfo>{rng.choice(_WORDS)}"
        f"@example.com</contactinfo><profile>{rng.choice(_WORDS)}</profile>"
        f"{_images(rng, edge)}<urls><url>https://l/{lid}</url></urls>"
        f"<sublabels><label>{rng.choice(_WORDS)}</label></sublabels></label>\n"
    )


def _write(path: str, root: str, body: list[str]) -> int:
    text = f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n' + "".join(body) + f"</{root}>\n"
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(gzip.compress(data, compresslevel=6, mtime=0))
    return len(data)


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(out_dir: str, seed: int) -> Dumps:
    """Write every dump for ``seed`` under ``out_dir``; return the files
    and the expected values."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    genre_month = MONTHS[-1]
    out = Dumps([], "", "", [], MONTHS[0], genre_month)
    next_id = {t: 1 for t in SIZES}
    for year, month in MONTHS:
        for dtype, n in SIZES.items():
            body = []
            for i in range(n):
                rid = next_id[dtype]
                next_id[dtype] += 1
                edge = i % EDGE_EVERY == EDGE_EVERY - 1
                if dtype == "release":
                    xml, genres, parsed_id = _release(rng, rid, edge)
                    if (year, month) == genre_month and "Jazz" in genres and len(genres) > 1:
                        out.genre_ids.append(parsed_id)
                elif dtype == "master":
                    xml = _master(rng, rid, edge, year)
                elif dtype == "artist":
                    xml = _artist(rng, rid, edge)
                else:
                    xml = _label(rng, rid, edge)
                body.append(xml)
            path = os.path.join(out_dir, f"discogs_{year}{month:02d}15_{dtype}s.xml.gz")
            out.xml_bytes += _write(path, f"{dtype}s", body)
            out.paths.append(path)
            out.counts[(dtype, year, month)] = n
    # an earlier release dump of the first month: the catalog keeps only
    # the latest file per (month, type), so this one must never be ingested
    year, month = MONTHS[0]
    stale = os.path.join(out_dir, f"discogs_{year}{month:02d}01_releases.xml.gz")
    _write(stale, "releases", [_release(rng, 10**8 + i, False)[0] for i in range(50)])
    out.paths.append(stale)
    out.stale = stale
    out.manifest = "".join(f"{_sha256(p)} *{os.path.basename(p)}\n" for p in out.paths)
    with open(os.path.join(out_dir, "CHECKSUM.txt"), "w") as f:
        f.write(out.manifest)
    for k in range(INCREMENTS):
        body = []
        for i in range(INCREMENT_SIZE):
            body.append(_release(rng, next_id["release"], i % EDGE_EVERY == 7)[0])
            next_id["release"] += 1
        path = os.path.join(out_dir, f"increment_{k}_releases.xml.gz")
        _write(path, "releases", body)
        out.increments.append(path)
    out.genre_ids.sort()
    return out
