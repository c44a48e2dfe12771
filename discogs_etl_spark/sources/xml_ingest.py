"""Discogs XML → DataFrame ingest kernel (SURVEY.md §2.1 S1-S6, §2.3 P1-P7).

Spark-first shape: files are distributed to executors (one task per file —
gzip is unsplittable, the same single-stream constraint the reference has
at io.py:95-144; parallelism comes from processing many dump files at
once), and each task runs the pure-Python parse kernel below, emitting
typed records straight into the static schemas of
:mod:`discogs_etl_spark.schemas`.

The kernel re-implements the reference's record semantics from scratch
(element→record coercions of reference parser.py:30-169; streaming repair
of process.py:22-45 and 221-238; cleaning of utils.py:7-58) on top of
stdlib ``xml.etree``.  Pinned behaviors, each
covered by tests/test_xml_ingest.py:

- numeric defaults: missing → 0 for artist/label/release ids, master
  ``main_release``/``year``, image dims, video duration (parser.py:32,
  44-45, 57, 61, 83-84, 92, 102, 118-119); master ``id`` comes from the
  ``id`` ATTRIBUTE and is required (parser.py:56) while release ``id`` is
  an attribute defaulting to 0 (parser.py:102).
- text defaults: missing → null; list elements keep null texts
  (parser.py:50-51, 126, 153-157 take ``.text`` unfiltered).
- empty collections stay ``[]``, never null (parser.py:37-39, 108-113).
- ``formats.qty``: string, default "1" (parser.py:137); ``descriptions``
  from descendant ``<description>`` elements (parser.py:138).
- ``videos.embed``: only the literal string 'true' is True (parser.py:93).
- label images are (width, height, …); the other entities are
  (height, width, …) (parser.py:43-47 vs 82-88).
- dirty-XML repair: XML-invalid chars → space (utils.py:49-58), stray
  ``<document>``/``<documents>`` wrappers removed (process.py:22-45,
  221-238), missing root wrapped (process.py:221-238); the streaming path
  (release/master/artist) additionally collapses whitespace runs like the
  reference's ``clean_xml_bytes`` (utils.py:7-37, applied at
  process.py:323), while the label path keeps newlines (process.py:262-266)
  — the reference's split personality, preserved deliberately
  (SURVEY.md §4.3).
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from discogs_etl_spark.schemas import SCHEMAS, XML_TAGS
from discogs_etl_spark.transforms.cleaning import (
    clean_xml_content,
    collapse_whitespace,
    escape_bare_amps,
    fix_xml_structure_text,
)

GZIP_MAGIC = b"\x1f\x8b"


def detect_data_type(url: str) -> str:
    """Entity type from URL/path substring (reference utils.py:64-68)."""
    for data_type in ("artist", "release", "master", "label"):
        if data_type in url:
            return data_type
    raise ValueError(f"cannot detect data type from {url!r}")


_XML_DECL_RE = re.compile(r"<\?xml[^>]*\?>")


def repair_document(text: str, data_type: str) -> str:
    """Normalize a (possibly dirty) dump into one parseable document:
    scrub invalid chars, drop stray wrappers, ensure a single root
    (reference process.py:221-238; utils.py:49-58)."""
    root_tag, _ = XML_TAGS[data_type]
    text = escape_bare_amps(clean_xml_content(text))
    text = fix_xml_structure_text(text)
    text = _XML_DECL_RE.sub("", text)
    stripped = text.lstrip()
    if not stripped.startswith(f"<{root_tag}"):
        text = f"<{root_tag}>{text}</{root_tag}>"
    return text


# ---------------------------------------------------------------------------
# element → record (per entity)
# ---------------------------------------------------------------------------

def _int0(v) -> int:
    return int(v or 0)


def _images(elem) -> list[dict]:
    # Per-entity field ORDER (label: width first; others: height first,
    # parser.py:43-47 vs 82-88) is encoded in the schema structs; records
    # here are name-keyed dicts, so one builder serves all four entities.
    return [
        {
            "width": _int0(image.get("width")),
            "height": _int0(image.get("height")),
            "type": image.get("type"),
            "uri": image.get("uri"),
            "uri150": image.get("uri150"),
        }
        for image in elem.findall(".//images/image")
    ]


def parse_artist(elem) -> dict:
    """reference parser.py:146-169."""
    return {
        "id": _int0(elem.findtext("id")),
        "name": elem.findtext("name"),
        "realname": elem.findtext("realname"),
        "profile": elem.findtext("profile"),
        "data_quality": elem.findtext("data_quality"),
        "urls": [u.text for u in elem.findall(".//urls/url")],
        "namevariations": [n.text for n in elem.findall(".//namevariations/name")],
        "aliases": [n.text for n in elem.findall(".//aliases/name")],
        "groups": [n.text for n in elem.findall(".//groups/name")],
        "members": [n.text for n in elem.findall(".//members/name")],
        "images": _images(elem),
    }


def parse_label(elem) -> dict:
    """reference parser.py:30-52."""
    return {
        "id": _int0(elem.findtext("id")),
        "name": elem.findtext("name"),
        "contactinfo": elem.findtext("contactinfo"),
        "profile": elem.findtext("profile"),
        "data_quality": elem.findtext("data_quality"),
        "images": _images(elem),
        "urls": [u.text for u in elem.findall(".//urls/url")],
        "sublabels": [s.text for s in elem.findall(".//sublabels/label")],
    }


def parse_master(elem) -> dict:
    """reference parser.py:54-98.  Master id is the REQUIRED 'id'
    attribute — a master without it is a hard error (parser.py:56)."""
    return {
        "id": int(elem.get("id")),
        "main_release": _int0(elem.findtext("main_release")),
        "artists": [
            {
                "id": _int0(a.findtext("id")),
                "name": a.findtext("name"),
                "anv": a.findtext("anv"),
                "join": a.findtext("join"),
                "role": a.findtext("role"),
                "tracks": a.findtext("tracks"),
            }
            for a in elem.findall(".//artists/artist")
        ],
        "genres": [g.text for g in elem.findall(".//genres/genre")],
        "styles": [s.text for s in elem.findall(".//styles/style")],
        "year": _int0(elem.findtext("year")),
        "title": elem.findtext("title"),
        "data_quality": elem.findtext("data_quality"),
        "images": _images(elem),
        "videos": [
            {
                "duration": _int0(v.get("duration")),
                "embed": v.get("embed") == "true",
                "src": v.get("src"),
                "title": v.findtext("title"),
                "description": v.findtext("description"),
            }
            for v in elem.findall(".//videos/video")
        ],
    }


def parse_release(elem) -> dict:
    """reference parser.py:100-144.  Release id/status come from
    attributes; qty is a string defaulting to '1'."""
    return {
        "id": _int0(elem.get("id")),
        "status": elem.get("status"),
        "title": elem.findtext("title"),
        "country": elem.findtext("country"),
        "released": elem.findtext("released"),
        "notes": elem.findtext("notes"),
        "images": _images(elem),
        "artists": [a.findtext("name") for a in elem.findall(".//artists/artist")],
        "labels": [
            {"name": lb.get("name"), "catno": lb.get("catno")}
            for lb in elem.findall(".//labels/label")
        ],
        "formats": [
            {
                "name": f.get("name"),
                "qty": str(f.get("qty") or 1),
                "descriptions": [d.text for d in f.findall(".//description")],
            }
            for f in elem.findall(".//formats/format")
        ],
        "genres": [g.text for g in elem.findall(".//genres/genre")],
        "styles": [s.text for s in elem.findall(".//styles/style")],
    }


PARSERS = {
    "artist": parse_artist,
    "label": parse_label,
    "master": parse_master,
    "release": parse_release,
}


# ---------------------------------------------------------------------------
# document stream → record iterator (runs inside executor tasks)
# ---------------------------------------------------------------------------

_CHUNK_BYTES = 1 << 20  # decompressed-side granularity; memory bound per task


def _iter_decompressed(stream, chunk_bytes: int) -> Iterator[bytes]:
    """Chunked lenient gzip decompression of a binary stream: tolerate
    truncation / CRC errors by yielding what decompressed (reference
    process.py:47-64), support concatenated members, pass non-gzip data
    through.  Never materializes the whole (de)compressed payload."""
    head = stream.read(2)
    if head != GZIP_MAGIC:
        data = head + (stream.read(chunk_bytes) or b"")
        while data:
            yield data
            data = stream.read(chunk_bytes)
        return
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    pending = head  # compressed bytes not yet consumed by the inflater
    while True:
        if not pending:
            pending = stream.read(chunk_bytes)
            if not pending:
                break
        try:
            # max_length bounds the DECOMPRESSED side: one compressed chunk
            # can inflate 50-100x, which would otherwise hand the XML
            # parser (and its tree) tens of MB per feed.
            out = d.decompress(pending, chunk_bytes)
        except zlib.error:
            return  # lenient: emit what decompressed so far
        pending = d.unconsumed_tail
        if out:
            yield out
        if d.eof:
            rest = d.unused_data
            # the next member's magic may straddle the read boundary:
            # with <2 bytes in hand the check is undecidable — read on
            while len(rest) < 2:
                more = stream.read(chunk_bytes)
                if not more:
                    break
                rest += more
            if rest[:2] == GZIP_MAGIC:  # concatenated gzip members
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                pending = rest
            else:
                return
    try:
        tail = d.flush()
    except zlib.error:
        return
    if tail:
        yield tail


# Longest cross-chunk pattern the repairers must see whole is the wrapper
# tag "</documents>" (12 chars); 16 gives slack.  Trailing whitespace runs
# are carried in full so the collapse never splits a run at a chunk edge.
_REPAIR_CARRY = 16

# Absolute cap on header buffering while waiting for the root-presence
# check to become decidable (a declaration + root tag fits in far less).
_HEADER_CAP = 64 << 10


def _iter_repaired_text(
    stream, data_type: str, chunk_bytes: int = _CHUNK_BYTES
) -> Iterator[str]:
    """Streaming twin of :func:`repair_document` (reference applies repair
    on the byte stream too — process.py XMLFixerStreamReader): incremental
    UTF-8 decode, whitespace collapse (streaming path only), invalid-char
    scrub, wrapper-tag removal, XML-decl removal, root wrapping.  Identical
    output to the whole-document form for any chunking (pinned by tests)."""
    import codecs

    root_tag, _ = XML_TAGS[data_type]
    collapse_ws = data_type != "label"  # label path keeps newlines
    decoder = codecs.getincrementaldecoder("utf-8")("replace")

    def _clean(text: str) -> str:
        # Scrub BEFORE collapsing: scrubbing injects spaces, and only
        # scrub-then-collapse is IDEMPOTENT as a composite — re-cleaning
        # the carry must not re-collapse spaces the scrub produced, or
        # record text would depend on where chunk boundaries fall.
        # (Bare-ampersand escaping deliberately does NOT run here: its
        # lookahead needs the WHOLE entity, which may still be split
        # across chunks — it runs on the yielded prefix only, whose tail
        # is guaranteed entity-complete by the keep adjustment below.)
        text = clean_xml_content(text)
        if collapse_ws:
            text = collapse_whitespace(text)
        return fix_xml_structure_text(text)

    header_buf = ""
    header_done = False
    wrapped = False
    carry = ""

    def _start_body(text: str) -> tuple[str, bool]:
        """Declaration removal + root-presence check on the document head;
        returns (body text, needs_wrapping)."""
        body = _XML_DECL_RE.sub("", _clean(text))
        if collapse_ws:
            body = body.lstrip()
        return body, not body.lstrip().startswith(f"<{root_tag}")

    for raw in _iter_decompressed(stream, chunk_bytes):
        text = decoder.decode(raw)
        if not text:
            continue
        if not header_done:
            header_buf += text
            # Hold until the root-presence check is DECIDABLE: the decl (if
            # any) is complete and removed, and enough non-space content has
            # arrived to compare against "<root_tag".  Tiny chunks must not
            # force a premature (wrong) wrapping decision.
            probe = _XML_DECL_RE.sub("", _clean(header_buf)).lstrip()
            undecidable = (
                probe.startswith("<?")  # declaration not yet complete
                # first tag not yet complete: it might still become a
                # stray <documents> wrapper the cleaner would remove
                or (probe.startswith("<") and ">" not in probe)
                or len(probe) < len(root_tag) + 1
            )
            if undecidable and len(header_buf) < _HEADER_CAP:
                continue
            header_done = True
            carry, wrapped = _start_body(header_buf)
            header_buf = ""
            if wrapped:
                yield f"<{root_tag}>"
            continue
        # Re-cleaning the carry is idempotent for all three substitutions;
        # the carry exists so ws-runs / wrapper tags split across chunks
        # get collapsed/removed with full context.
        combined = _clean(carry + text)
        keep = len(combined) - _REPAIR_CARRY
        ws_tail = len(combined) - len(combined.rstrip())
        keep = min(keep, len(combined) - ws_tail)
        # never end a yield inside a possibly-incomplete entity: the
        # longest reference ("&#x10FFFF;") is 10 chars, so pull any '&'
        # within the last 11 chars of the prefix back into the carry —
        # escape_bare_amps then always sees complete entities
        if keep > 0:
            amp = combined.rfind("&", max(0, keep - 11), keep)
            if amp != -1:
                keep = amp
        if keep > 0:
            yield escape_bare_amps(combined[:keep])
            carry = combined[keep:]
        else:
            carry = combined
    tail = decoder.decode(b"", True)
    if not header_done:
        # tiny / header-only document: repair whole
        final, wrapped = _start_body(header_buf + tail)
        if collapse_ws:
            final = final.strip()
        final = escape_bare_amps(final)
        if wrapped and final:
            yield f"<{root_tag}>{final}</{root_tag}>"
        elif final:
            yield final
        return
    final = _clean(carry + tail)
    if collapse_ws:
        final = final.rstrip()
    if final:
        yield escape_bare_amps(final)
    if wrapped:
        yield f"</{root_tag}>"


def iter_records_stream(
    stream, data_type: str, chunk_bytes: int = _CHUNK_BYTES
) -> Iterator[dict]:
    """Parse one dump STREAM (optionally gzipped, possibly dirty) into
    typed records with bounded memory: chunked decompression feeds an
    incremental XML pull parser; each yielded item is cleared AND detached
    from the root, so neither the document text nor Element husks
    accumulate (the reference's GzipStreamReader/XMLFixerStreamReader
    bounded-memory contract, process.py:22-64)."""
    _, item_tag = XML_TAGS[data_type]
    parse = PARSERS[data_type]
    parser = ET.XMLPullParser(events=("start", "end"))
    # Only emit item elements that sit directly under the root: the
    # reference guards with lxml's elem.getparent() (process.py:272, 327);
    # depth tracking via start events does the same without parent links —
    # this is what keeps <sublabels><label> from masquerading as a label
    # record.
    depth = 0
    root = None
    broken = False

    def _drain() -> Iterator[dict]:
        # XMLPullParser DEFERS feed-time errors into the event queue and
        # re-raises them from read_events() — leniency must live here,
        # not only around feed().  Events queued before the error still
        # come through first, so completed records survive.
        nonlocal depth, root, broken
        try:
            events = parser.read_events()
        except ET.ParseError:
            broken = True
            return
        while True:
            try:
                event, elem = next(events)
            except StopIteration:
                return
            except ET.ParseError:
                broken = True
                return
            if event == "start":
                if root is None:
                    root = elem
                depth += 1
                continue
            depth -= 1
            if depth == 1 and elem.tag == item_tag:
                yield parse(elem)
                elem.clear()
                # drop the husk from the root so the tree doesn't grow by
                # one cleared Element per record over an 80 GB dump
                if root is not None and len(root):
                    try:
                        root.remove(elem)
                    except ValueError:  # pragma: no cover - already detached
                        pass

    for text in _iter_repaired_text(stream, data_type, chunk_bytes):
        try:
            parser.feed(text)
        except ET.ParseError:
            broken = True
        yield from _drain()
        if broken:
            # Mid-stream well-formedness error the repairs could not fix
            # (e.g. mismatched tags): stop consuming this file leniently —
            # records completed before the error were already yielded,
            # matching the reference's lxml recover=True survival
            # (process.py:322) instead of failing the whole task.
            return
    try:
        parser.close()
    except ET.ParseError:
        # Truncated input (e.g. a cut-short gzip stream, reference
        # process.py:47-64 leniency): EOF before the document closed.
        # Records that completed before the cut were already yielded.
        pass
    yield from _drain()


def iter_records(data: bytes, data_type: str) -> Iterator[dict]:
    """Parse one in-memory dump document — the byte-oriented veneer over
    :func:`iter_records_stream` (kept for small inputs and tests)."""
    yield from iter_records_stream(io.BytesIO(data), data_type)


def _iter_records_from_path(path: str, data_type: str) -> Iterator[dict]:
    """Executor-side: open one landed dump file and stream-parse it."""
    from urllib.parse import urlparse

    u = urlparse(path)
    local = u.path if u.scheme == "file" else path
    with open(local, "rb") as f:
        yield from iter_records_stream(f, data_type)


def ingest_xml(spark: SparkSession, paths: list[str] | str, data_type: str | None = None) -> DataFrame:
    """Distributed ingest: one Spark task per dump file, each running
    :func:`iter_records_stream`, returning a DataFrame in the entity's
    static schema.  The reference processes dumps strictly sequentially
    (run.py:28-41); here the file list is the unit of parallelism.

    Memory per task is bounded (chunked decompress → incremental parse →
    husk removal), never the decompressed dump size: local/landed paths
    are opened lazily on the executor.  Paths on other schemes fall back
    to ``binaryFiles`` (whole-file bytes — bounded by the compressed file
    size) until a scheme-aware streaming open is warranted."""
    from urllib.parse import urlparse

    if isinstance(paths, str):
        paths = [paths]
    data_type = data_type or detect_data_type(paths[0])
    schema = SCHEMAS[data_type]
    from discogs_etl_spark.shipping import ensure_shipped

    ensure_shipped(spark.sparkContext)
    sc = spark.sparkContext
    if all(urlparse(p).scheme in ("", "file") for p in paths):
        records = sc.parallelize(paths, len(paths)).flatMap(
            lambda p: _iter_records_from_path(p, data_type)
        )
    else:  # pragma: no cover - exercised only on object-store deployments
        records = sc.binaryFiles(",".join(paths)).flatMap(
            lambda kv: iter_records(bytes(kv[1]), data_type)
        )
    return spark.createDataFrame(records, schema=schema)


def ingest_xml_bytes(spark: SparkSession, data: bytes, data_type: str) -> DataFrame:
    """Single-document variant (tests / small inputs): parse driver-side
    list, distribute as a DataFrame."""
    rows = list(iter_records(data, data_type))
    return spark.createDataFrame(rows, schema=SCHEMAS[data_type])
