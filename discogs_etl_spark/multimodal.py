"""Multimodal (opaque-binary) column operators — Plane C spec
(SURVEY.md §2.12; north-star extension, no reference implementation).

Media assets ride through the engine as ``BinaryType`` payload columns
plus typed metadata — Parquet stores both natively, partition pruning and
column projection work unchanged, and the bytes never pass through Python
except inside explicitly Arrow-batched ``mapInPandas`` stages.

The decode stage is where a real deployment plugs in PIL / ffmpeg /
librosa.  Those libraries are not in this container, so by default the
stage routes through a DETERMINISTIC FAKE decoder (feature values derived
from the payload's md5 — stable across engines, so the whole pipeline is
oracle-checkable).  The REAL path is the caller's explicit ``real=True``
(the CLI's ``--real-decode``); on it, PNG images genuinely decode
bytes→pixels via the stdlib ``zlib``+``struct`` decoder below (true
dimensions, all five scanline filters, inflate bounded by the
IHDR-promised size so a hostile IDAT cannot decompression-bomb an
executor), RIFF/WAVE PCM audio parses to true
sample rate / channels / duration / frame count via ``struct`` alone,
and RIFF/AVI video parses its main header to true width / height /
frames / duration (codec payloads still need ffmpeg), while formats
that need the absent media libraries raise the clearly-marked
``NotImplementedError``.  Everything else is real engine code:
schemas, batch iteration, fan-out row generation, partitioning — and the
RESIZE stage is a genuine pixel operation (pure-numpy nearest-neighbor
gather over synthesized-but-deterministic H x W x 3 buffers, verified
byte-for-byte by a SQL oracle that recomputes the same index map), and
the PERCEPTUAL HASH has a real pixel path too: ``ahash64_png`` decodes
PNG bytes with the stdlib decoder and computes a genuine 8×8
mean-threshold aHash in the same ``mapInPandas`` slot as the
deterministic stand-in (``phash_hashes(real=True)``), packed into the
identical BIGINT so banding/popcount/CC run unchanged.

Fake-decode contract (mirrored exactly by the DuckDB oracles):

- ``media_type``: doc_id % 3 → image / audio / video.
- ``h`` = md5 hex of the payload bytes.
- image/video: ``width  = 64 + 4 * int(h[0:2], 16)``,
               ``height = 64 + 4 * int(h[2:4], 16)``; audio: null.
- audio/video: ``duration_ms = int(h[4:8], 16)``; image: null.
- video: ``n_frames = 1 + int(h[8:10], 16) % 8``; else null.
- frame sampling (video only): frame ``i`` in [0, n_frames) has
  ``frame_md5 = md5(h || ':' || i)``.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from discogs_etl_spark.queries._oracle_sql import cc_sql
from discogs_etl_spark.registry import register
from discogs_etl_spark.tables import load

_MEDIA_TYPES = ("image", "audio", "video")

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def with_payload(df: DataFrame) -> DataFrame:
    """Materialize the opaque-binary payload column + media_type tag.

    The fixtures carry text documents; their UTF-8 bytes stand in for
    media bytes.  In production this column comes straight off the
    source (S3 object bytes, inlined thumbnails, audio chunks, ...)."""
    return df.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(F.lit(list(_MEDIA_TYPES)), (F.col("doc_id") % 3 + 1).cast("int"))
        .alias("media_type"),
    )


# --------------------------------------------------------------------------
# Real decode.  The registered (oracle-checked) queries run the
# deterministic fake; a caller turns the REAL path on with ``real=True``,
# captured into the mapInPandas closure at plan-build time.  What "real"
# buys today with zero extra libraries: PNG images decode bytes→pixels via
# the stdlib zlib+struct decoder below (true IHDR dimensions, all five
# scanline filters), RIFF/WAVE PCM audio parses to true duration/frames,
# and RIFF/AVI video parses its main header to true dims/frames/duration;
# other media formats still need PIL/ffmpeg/librosa and raise the
# clearly-marked NotImplementedError.


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# channels per PNG color type (8-bit, non-interlaced support)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(data: bytes):
    """Stdlib-only PNG decode: bytes → (width, height, H×W×C uint8 pixels).

    Supports the overwhelmingly common shape — 8-bit depth, color types
    gray/RGB/gray+alpha/RGBA, non-interlaced — with all five scanline
    filters (None/Sub/Up/Average/Paeth) un-applied per the PNG spec.
    No PIL required; zlib+struct+numpy only.  Raises ValueError on
    malformed input and NotImplementedError on exotic shapes (16-bit,
    palette, Adam7), which the decode stage surfaces unchanged."""
    import struct

    import numpy as np

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, channels = 8, None, None, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 8 + length > len(data):
            # truncated payload or corrupt chunk length — the error
            # contract is ValueError for ALL malformed input, never a
            # struct.error leaking from a short unpack
            raise ValueError("PNG truncated: chunk extends past end of data")
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError("PNG malformed: IHDR must be 13 bytes")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if width == 0 or height == 0:
                # the PNG spec requires non-zero dimensions; without this
                # a zero-width IHDR decoded to an empty pixel array and
                # the crash surfaced downstream as an executor IndexError
                # (ahash64_png's NN sample over axis size 0) instead of
                # the documented ValueError-at-decode contract
                raise ValueError("PNG malformed: zero width or height")
            if depth != 8 or color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG depth={depth} color_type={color}: only 8-bit "
                    "gray/RGB/gray+alpha/RGBA supported"
                )
            if interlace != 0:
                raise NotImplementedError("Adam7-interlaced PNG not supported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None or channels is None:
        raise ValueError("PNG missing IHDR")
    stride = width * channels
    expected = height * (1 + stride)
    # Bound the inflate by the size the IHDR promises BEFORE decompressing:
    # a hostile few-KB IDAT must not be able to expand to gigabytes in
    # executor memory (decompression bomb).  decompressobj + max_length
    # stops at expected+1 bytes; anything past expected is malformed.
    # The IHDR itself is attacker-controlled, so also cap the promise by
    # what the IDAT bytes could POSSIBLY inflate to (zlib's maximum
    # expansion is 1032:1) — otherwise a ~2^32 x 2^32 IHDR re-opens a
    # ~1000x materialization before the length check fires.
    if expected > len(idat) * 1032 + 1024:
        raise ValueError("PNG IHDR promises more pixels than IDAT could inflate to")
    try:
        dobj = zlib.decompressobj()
        raw = dobj.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        # error contract is ValueError for ALL malformed input
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) > expected or dobj.unconsumed_tail:
        raise ValueError("PNG IDAT inflates past IHDR-promised size")
    if not dobj.eof or len(raw) != expected:
        raise ValueError("PNG IDAT length does not match dimensions")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        ftype = raw[y * (1 + stride)]
        if ftype == 0:  # None
            pass
        elif ftype == 2:  # Up
            row = bytearray((np.frombuffer(bytes(row), np.uint8) + prev).tobytes())
        else:  # Sub / Average / Paeth need the in-progress left neighbor
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0  # left
                b = int(prev[x])  # up
                if ftype == 1:
                    row[x] = (row[x] + a) & 0xFF
                elif ftype == 3:
                    row[x] = (row[x] + ((a + b) >> 1)) & 0xFF
                elif ftype == 4:
                    c = int(prev[x - channels]) if x >= channels else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[x] = (row[x] + pred) & 0xFF
                else:
                    raise ValueError(f"PNG bad filter type {ftype}")
        prev = np.frombuffer(bytes(row), np.uint8)
        out[y] = prev
    return width, height, out.reshape(height, width, channels)


WAV_MAGIC = b"RIFF"


def decode_wav(data: bytes):
    """Stdlib-only RIFF/WAVE PCM header parse: bytes → (sample_rate,
    channels, n_frames, duration_ms).

    Walks the RIFF chunk list (fmt / data may be preceded by LIST, fact,
    etc.), reads the PCM format block, and derives frame count from the
    data chunk length — no librosa/ffmpeg needed.  Supports integer PCM
    (format tag 1), IEEE float (tag 3), and the WAVE_FORMAT_EXTENSIBLE
    wrapper around either (tag 0xFFFE — how encoders emit >2-channel and
    24-bit PCM); compressed tags raise the clearly-marked
    NotImplementedError.  Raises ValueError on malformed
    input, mirroring decode_png's error contract."""
    import struct

    if len(data) < 12 or data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos = 12
    fmt = None
    data_len = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body_end = pos + 8 + length
        if body_end > len(data):
            raise ValueError("WAV truncated: chunk extends past end of data")
        if cid == b"fmt ":
            if length < 16:
                raise ValueError("WAV malformed: fmt chunk under 16 bytes")
            tag, channels, sample_rate, _byte_rate, block_align, bits = struct.unpack(
                "<HHIIHH", data[pos + 8 : pos + 24]
            )
            if tag == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE: the real tag is the first two
                # bytes of the SubFormat GUID (after cbSize, wValidBits,
                # dwChannelMask) — encoders emit this wrapper for
                # >2-channel and 24-bit PCM, which parse like plain PCM
                if length < 40:
                    raise ValueError("WAV malformed: extensible fmt under 40 bytes")
                (tag,) = struct.unpack("<H", data[pos + 32 : pos + 34])
            if tag not in (1, 3):  # integer PCM / IEEE float
                raise NotImplementedError(
                    f"WAV format tag {tag}: only PCM/float supported without ffmpeg"
                )
            if channels == 0 or sample_rate == 0 or block_align == 0:
                raise ValueError("WAV malformed: zero channels/rate/block align")
            # spec: nBlockAlign = nChannels * ceil(wBitsPerSample / 8) —
            # floor would reject valid 12-/20-bit EXTENSIBLE PCM
            if block_align != channels * ((bits + 7) // 8):
                raise ValueError("WAV malformed: block align disagrees with fmt")
            fmt = (sample_rate, channels, block_align)
        elif cid == b"data":
            data_len = length
        # chunks are word-aligned: odd lengths carry a pad byte
        pos = body_end + (length & 1)
    if fmt is None or data_len is None:
        raise ValueError("WAV missing fmt or data chunk")
    sample_rate, channels, block_align = fmt
    if data_len % block_align:
        raise ValueError("WAV malformed: data length not a whole frame count")
    n_frames = data_len // block_align
    duration_ms = (n_frames * 1000) // sample_rate
    return sample_rate, channels, n_frames, duration_ms


def decode_avi(data: bytes):
    """Stdlib-only RIFF/AVI main-header parse: bytes → (width, height,
    n_frames, duration_ms).

    Walks the top-level RIFF chunks to the ``LIST/hdrl`` list and reads
    the ``avih`` main header (micro-sec per frame, total frames, frame
    dimensions) — the same chunk-walk discipline as :func:`decode_wav`,
    since AVI is RIFF too.  Frame DECODE still needs ffmpeg; this parses
    the container metadata a 100 TB video-curation pass filters on
    (resolution, duration, frame count) without touching codec bytes.
    Raises ValueError on malformed input."""
    import struct

    if len(data) < 12 or data[:4] != WAV_MAGIC or data[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI signature")
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body_end = pos + 8 + length
        if body_end > len(data):
            raise ValueError("AVI truncated: chunk extends past end of data")
        if cid == b"LIST" and data[pos + 8 : pos + 12] == b"hdrl":
            # walk the header list for the avih main header
            sub = pos + 12
            while sub + 8 <= body_end:
                scid = data[sub : sub + 4]
                (slen,) = struct.unpack("<I", data[sub + 4 : sub + 8])
                if sub + 8 + slen > body_end:
                    raise ValueError("AVI truncated: hdrl child past list end")
                if scid == b"avih":
                    if slen < 40:
                        raise ValueError("AVI malformed: avih under 40 bytes")
                    fields = struct.unpack("<10I", data[sub + 8 : sub + 48])
                    usec_per_frame, total_frames = fields[0], fields[4]
                    width, height = fields[8], fields[9]
                    if usec_per_frame == 0 or width == 0 or height == 0:
                        raise ValueError("AVI malformed: zero frame rate or dims")
                    duration_ms = (total_frames * usec_per_frame) // 1000
                    return width, height, total_frames, duration_ms
                sub += 8 + slen + (slen & 1)
        pos = body_end + (length & 1)
    raise ValueError("AVI missing LIST/hdrl avih header")


def _decode_one(payload: bytes, media_type: str, real: bool = False) -> dict:
    """The decode kernel.  With ``real=True`` PNG image payloads decode
    bytes→pixels for TRUE dimensions and RIFF/WAVE PCM audio parses to
    true duration/frames; everything else on the real path (video,
    non-PNG images, compressed audio) still needs the media libraries
    this container lacks and raises the marked error."""
    if real:
        if media_type == "image" and payload[:8] == PNG_MAGIC:
            w, ht, _px = decode_png(payload)
            return {
                "byte_len": len(payload),
                "content_md5": hashlib.md5(payload).hexdigest(),
                "width": w,
                "height": ht,
                "duration_ms": None,
                "n_frames": None,
            }
        if (
            media_type == "audio"
            and payload[:4] == WAV_MAGIC
            and payload[8:12] == b"WAVE"
        ):
            # RIFF alone is not enough: RIFF/RMID etc. must fall through
            # to the needs-ffmpeg branch, mirroring the video AVI check
            _rate, _chans, n_frames, duration_ms = decode_wav(payload)
            return {
                "byte_len": len(payload),
                "content_md5": hashlib.md5(payload).hexdigest(),
                "width": None,
                "height": None,
                "duration_ms": duration_ms,
                "n_frames": n_frames,
            }
        if (
            media_type == "video"
            and payload[:4] == WAV_MAGIC
            and payload[8:12] == b"AVI "
        ):
            w, ht, n_frames, duration_ms = decode_avi(payload)
            return {
                "byte_len": len(payload),
                "content_md5": hashlib.md5(payload).hexdigest(),
                "width": w,
                "height": ht,
                "duration_ms": duration_ms,
                "n_frames": n_frames,
            }
        raise NotImplementedError(
            "real media decode beyond stdlib PNG/WAV/AVI-header requires "
            "PIL/ffmpeg/librosa; not in this container"
        )
    h = hashlib.md5(payload).hexdigest()
    is_img, is_aud, is_vid = (
        media_type == "image",
        media_type == "audio",
        media_type == "video",
    )
    return {
        "byte_len": len(payload),
        "content_md5": h,
        "width": 64 + 4 * int(h[0:2], 16) if (is_img or is_vid) else None,
        "height": 64 + 4 * int(h[2:4], 16) if (is_img or is_vid) else None,
        "duration_ms": int(h[4:8], 16) if (is_aud or is_vid) else None,
        "n_frames": 1 + int(h[8:10], 16) % 8 if is_vid else None,
    }


def decode_features(df: DataFrame, real: bool = False) -> DataFrame:
    """Arrow-batched decode/feature-extraction over payload bytes.

    Scale: mapInPandas keeps whole Arrow batches in flight (no
    row-at-a-time Python); the stage is map-only — it inherits the scan's
    partitioning, shuffles nothing, and parallelizes per input split.
    Real image decode is CPU-bound, so at 100 TB this stage is sized by
    cores, not by shuffle capacity — exactly what a map-only stage wants.

    ``real=True`` runs the real decoders (see the note above); the
    default is the deterministic fake the registered queries check."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_one(p, m, real)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_type", pdf["media_type"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.mapInPandas(decode_batches, schema=DECODE_SCHEMA)


def sample_frames(decoded: DataFrame) -> DataFrame:
    """Fan-out stage: one row per sampled video frame (frame extraction in
    production; deterministic frame ids here).  Demonstrates the 1→N
    mapInPandas batch shape (output batches are unrelated to input row
    count)."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[int, int, str]] = []
            for doc_id, h, n in zip(pdf["doc_id"], pdf["content_md5"], pdf["n_frames"]):
                if pd.isna(n):
                    continue
                rows.extend(
                    (
                        int(doc_id),
                        i,
                        hashlib.md5(f"{h}:{i}".encode()).hexdigest(),
                    )
                    for i in range(int(n))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_md5"])

    return decoded.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("in_h", T.LongType()),
        T.StructField("in_w", T.LongType()),
        T.StructField("out_h", T.LongType()),
        T.StructField("out_w", T.LongType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def decode_pixels(df: DataFrame) -> DataFrame:
    """Payload → raw pixel buffer (H x W x 3 uint8, row-major binary).
    A real deployment decodes with PIL here; this container synthesizes a
    DETERMINISTIC image from the payload hash — pixel(r, c, ch) =
    (seed + 31r + 17c + 7ch) mod 256 with (H, W, seed) derived from the
    md5 — so every downstream pixel operation is exactly reproducible in
    the DuckDB oracle.  Dims are kept small (8..16) purely so oracles
    stay cheap; the numpy path is dimension-agnostic."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                h_hex = hashlib.md5(bytes(payload)).hexdigest()
                hh = 8 + int(h_hex[0:2], 16) % 9
                ww = 8 + int(h_hex[2:4], 16) % 9
                seed = int(h_hex[4:6], 16)
                r = np.arange(hh).reshape(-1, 1, 1)
                c = np.arange(ww).reshape(1, -1, 1)
                ch = np.arange(3).reshape(1, 1, -1)
                img = ((seed + 31 * r + 17 * c + 7 * ch) % 256).astype(np.uint8)
                rows.append((int(doc_id), hh, ww, img.tobytes()))
            yield pd.DataFrame(rows, columns=["doc_id", "height", "width", "pixels"])

    return df.mapInPandas(synth, schema=PIXEL_SCHEMA)


def resize_images(pixeled: DataFrame, out_h: int = 4, out_w: int = 4) -> DataFrame:
    """REAL nearest-neighbor resize in pure numpy (no PIL needed): output
    pixel (i, j) samples input pixel (floor(i*H/out_h), floor(j*W/out_w))
    — the standard NN index map, vectorized with two gather indices per
    image.  Map-only mapInPandas: inherits the scan's partitioning,
    shuffles nothing; at 100 TB the stage is CPU-bound and scales by
    cores, exactly like decode.  (With PIL deployed, swap the gather for
    ``Image.resize`` — schema and batch shape stay identical.)"""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, hh, ww, buf in zip(
                pdf["doc_id"], pdf["height"], pdf["width"], pdf["pixels"]
            ):
                hh, ww = int(hh), int(ww)
                img = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(hh, ww, 3)
                ri = (np.arange(out_h) * hh) // out_h
                ci = (np.arange(out_w) * ww) // out_w
                resized = img[ri][:, ci]
                rows.append((int(doc_id), hh, ww, out_h, out_w, resized.tobytes()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "in_h", "in_w", "out_h", "out_w", "resized"]
            )

    return pixeled.mapInPandas(do_resize, schema=RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# registered queries (oracle-checked end to end, stub decoder included)
# ---------------------------------------------------------------------------

_SQL_MEDIA = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
_SQL_H = "md5(text)"


@register(
    "multimodal_decode_features",
    oracle=f"""
        SELECT doc_id,
               {_SQL_MEDIA} AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               {_SQL_H} AS content_md5,
               CASE WHEN doc_id % 3 IN (0, 2)
                    THEN 64 + 4 * ('0x' || substr({_SQL_H}, 1, 2))::BIGINT END AS width,
               CASE WHEN doc_id % 3 IN (0, 2)
                    THEN 64 + 4 * ('0x' || substr({_SQL_H}, 3, 2))::BIGINT END AS height,
               CASE WHEN doc_id % 3 IN (1, 2)
                    THEN ('0x' || substr({_SQL_H}, 5, 4))::BIGINT END AS duration_ms,
               CASE WHEN doc_id % 3 = 2
                    THEN 1 + ('0x' || substr({_SQL_H}, 9, 2))::BIGINT % 8 END AS n_frames
        FROM documents
    """,
    tags=("multimodal", "mapInPandas", "pandas_udf"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → typed media features via Arrow-batched mapInPandas
    (deterministic stub decoder; see module docstring for the contract)."""
    return decode_features(with_payload(load(spark, sf_dir, "documents")))


@register(
    "multimodal_resize_nn",
    oracle=f"""
        WITH img AS (
            SELECT doc_id,
                   8 + ('0x' || substr({_SQL_H}, 1, 2))::BIGINT % 9 AS h,
                   8 + ('0x' || substr({_SQL_H}, 3, 2))::BIGINT % 9 AS w,
                   ('0x' || substr({_SQL_H}, 5, 2))::BIGINT AS seed
            FROM documents WHERE doc_id % 3 = 0
        ),
        grid AS (
            SELECT i.i, j.j, ch.ch
            FROM (SELECT unnest(range(4)) AS i) i,
                 (SELECT unnest(range(4)) AS j) j,
                 (SELECT unnest(range(3)) AS ch) ch
        ),
        px AS (
            SELECT doc_id, h, w,
                   i, j, ch,
                   (seed + 31 * ((i * h) // 4) + 17 * ((j * w) // 4) + 7 * ch) % 256
                       AS v
            FROM img, grid
        )
        SELECT doc_id,
               MAX(h) AS in_h, MAX(w) AS in_w,
               CAST(4 AS BIGINT) AS out_h, CAST(4 AS BIGINT) AS out_w,
               CAST(SUM(v) AS BIGINT) AS pixel_sum,
               CAST(SUM(CASE WHEN i = 0 AND j = 0 AND ch = 0 THEN v END) AS BIGINT)
                   AS p_first,
               CAST(SUM(CASE WHEN i = 3 AND j = 3 AND ch = 2 THEN v END) AS BIGINT)
                   AS p_last
        FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "resize", "numpy"),
)
def multimodal_resize_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize as a REAL pixel operation: synth-decode to raw
    H x W x 3 buffers, nearest-neighbor resample to 4 x 4 in numpy, then
    summarize the resized pixels (sum + two corners) into driver-hashable
    scalars.  The oracle recomputes the identical NN index map
    ((i*H)//4, (j*W)//4) over the identical deterministic pixel function
    in SQL — every byte of the resample is independently verified."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, in_h, in_w, out_h, out_w, buf in zip(
                pdf["doc_id"], pdf["in_h"], pdf["in_w"],
                pdf["out_h"], pdf["out_w"], pdf["resized"],
            ):
                a = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.int64)
                rows.append(
                    (int(doc_id), int(in_h), int(in_w), int(out_h), int(out_w),
                     int(a.sum()), int(a[0]), int(a[-1]))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "in_h", "in_w", "out_h", "out_w",
                         "pixel_sum", "p_first", "p_last"],
            )

    images = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image"
    )
    resized = resize_images(decode_pixels(images), out_h=4, out_w=4)
    return resized.mapInPandas(
        summarize,
        schema=(
            "doc_id long, in_h long, in_w long, out_h long, out_w long, "
            "pixel_sum long, p_first long, p_last long"
        ),
    )


@register(
    "multimodal_audio_frames",
    oracle=f"""
        WITH aud AS (
            SELECT doc_id,
                   ('0x' || substr({_SQL_H}, 1, 2))::BIGINT AS seed,
                   64 + ('0x' || substr({_SQL_H}, 3, 2))::BIGINT % 65 AS n_samples
            FROM documents WHERE doc_id % 3 = 1
        ),
        s AS (
            SELECT doc_id, seed, n_samples, t.t,
                   ((seed * 131 + t.t * 37) % 2048) - 1024 AS amp
            FROM aud, LATERAL (SELECT unnest(range(n_samples)) AS t) t
        )
        SELECT doc_id,
               CAST(t // 32 AS BIGINT) AS frame_idx,
               COUNT(*) AS n_in_frame,
               CAST(SUM(amp * amp) AS BIGINT) AS energy,
               CAST(MAX(abs(amp)) AS BIGINT) AS peak
        FROM s GROUP BY doc_id, t // 32
    """,
    tags=("multimodal", "audio", "mapInPandas", "fanout"),
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FRAMING with real signal math: synthesize a deterministic
    PCM buffer per audio asset (amp[t] = (seed*131 + 37t) mod 2048 −
    1024 — int16-range samples; librosa/ffmpeg plugs into the same
    slot), cut it into 32-sample frames, and compute per-frame energy
    (Σ amp²) and peak in vectorized numpy — the front half of every
    audio featurization (VAD, loudness normalization, spectrogram
    windowing).  1→N fan-out mapInPandas like video frame sampling;
    map-only, scales by cores.  The oracle regenerates the identical
    samples with range() and aggregates the same frames in SQL."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                h = hashlib.md5(bytes(payload)).hexdigest()
                seed = int(h[0:2], 16)
                n = 64 + int(h[2:4], 16) % 65
                t = np.arange(n, dtype=np.int64)
                amp = (seed * 131 + t * 37) % 2048 - 1024
                fidx = t // 32
                for f in np.unique(fidx):
                    a = amp[fidx == f]
                    rows.append(
                        (int(doc_id), int(f), int(a.size),
                         int((a * a).sum()), int(np.abs(a).max()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "n_in_frame", "energy", "peak"],
            )

    audio = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("media_type") == "audio"
    )
    return audio.mapInPandas(
        frames,
        schema="doc_id long, frame_idx long, n_in_frame long, energy long, peak long",
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_SQL_H} AS h,
                   1 + ('0x' || substr({_SQL_H}, 9, 2))::BIGINT % 8 AS n_frames
            FROM documents WHERE doc_id % 3 = 2
        )
        SELECT doc_id, gs.i AS frame_idx, md5(h || ':' || gs.i) AS frame_md5
        FROM d, LATERAL (SELECT unnest(range(n_frames)) AS i) gs
    """,
    tags=("multimodal", "mapInPandas", "fanout"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video frame sampling: decode → 1→N frame fan-out, both as
    Arrow-batched map stages."""
    decoded = decode_features(with_payload(load(spark, sf_dir, "documents")))
    return sample_frames(decoded.where(F.col("media_type") == "video"))


# The DuckDB twin of the phash pipeline, shared by four oracles (the
# uncapped dedup, the capped pairs, the dropped-bucket accounting, and
# the dedup_media roundtrip): tokenize -> per-token md5 -> simhash bits
# (the exact mean-threshold the Arrow stage computes, bit-for-bit) ->
# exact-duplicate pairs + distinct-hash reps + 8x8-bit banding.  Kept
# as a fragment so the four oracle texts cannot drift apart; the
# composed multimodal_phash_dedup oracle is byte-identical to the text
# that was driver-green in r15 (the factoring is a no-op to the oracle).
_PHASH_GRAPH_SQL = r"""img AS (
            SELECT doc_id,
                   list_transform(
                       list_filter(string_split_regex(text, '\s+'),
                                   t -> t <> ''),
                       t -> md5(t)) AS digs
            FROM documents WHERE doc_id % 3 = 0
        ),
        bits AS (
            SELECT doc_id,
                   array_to_string(list_transform(range(1, 65), j ->
                       CASE WHEN COALESCE(list_sum(list_transform(digs, d ->
                                CASE WHEN (('0x' ||
                                        d[((j + 3) // 4):((j + 3) // 4)])::BIGINT
                                           >> (3 - ((j - 1) % 4))) & 1 = 1
                                     THEN 1 ELSE -1 END)), 0) > 0
                            THEN '1' ELSE '0' END), '') AS bits
            FROM img
        ),
        exact_pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(0 AS BIGINT) AS hamming
            FROM bits a JOIN bits b
              ON a.bits = b.bits AND a.doc_id < b.doc_id
        ),
        reps AS (
            SELECT bits, MIN(doc_id) AS rep FROM bits GROUP BY bits
        ),
        banded AS (
            SELECT rep, bits, b.b AS band,
                   substr(bits, (b.b - 1) * 8 + 1, 8) AS sig
            FROM reps, (SELECT unnest(range(1, 9)) AS b) b
        )"""


def _phash_pairs_sql(banded_src: str = "banded") -> str:
    """cand -> near -> near_pairs CTE tail over ``banded_src`` (the full
    ``banded`` view, or its bucket-capped subset for the capped twin)."""
    return f""",
        cand AS (
            SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
                   a.bits AS ba, b.bits AS bb
            FROM {banded_src} a JOIN {banded_src} b
              ON a.band = b.band AND a.sig = b.sig AND a.rep < b.rep
        ),
        near AS (
            SELECT ba, bb,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN ba[i:i] = bb[i:i] THEN 0 ELSE 1 END))
                        AS BIGINT) AS hamming
            FROM cand
        ),
        near_pairs AS (
            SELECT CASE WHEN ma.doc_id < mb.doc_id
                        THEN ma.doc_id ELSE mb.doc_id END AS doc_a,
                   CASE WHEN ma.doc_id < mb.doc_id
                        THEN mb.doc_id ELSE ma.doc_id END AS doc_b,
                   n.hamming
            FROM near n
            JOIN bits ma ON ma.bits = n.ba
            JOIN bits mb ON mb.bits = n.bb
            WHERE n.hamming <= 7
        )"""


# Fixed cap for the two registered capped-path queries.  16 is small
# enough to drop real buckets at every fixture sf (the sf0.01 image
# slice has 14 buckets wider than 16, the widest 48) while keeping the
# survivor pair set non-trivial, so BOTH effects of the guard — pairs
# lost to exclusion and pairs kept — carry driver evidence.
_PHASH_MAX_BUCKET = 16

# The capped banding's width filter, factored (r17) so the capped-pairs
# oracle and the capped end-to-end API oracle below share ONE text —
# the composed multimodal_phash_capped_pairs oracle stays byte-identical
# to its r16-green inline form.
_PHASH_WIDTHS_SQL = f""",
        widths AS (
            SELECT band, sig, COUNT(*) AS n_hashes
            FROM banded GROUP BY band, sig
        ),
        banded_ok AS (
            SELECT bd.rep, bd.bits, bd.band, bd.sig
            FROM banded bd
            JOIN widths w ON w.band = bd.band AND w.sig = bd.sig
            WHERE w.n_hashes <= {_PHASH_MAX_BUCKET}
        )"""


@register(
    "multimodal_phash_dedup",
    oracle=f"""
        WITH {_PHASH_GRAPH_SQL}{_phash_pairs_sql()}
        SELECT doc_a, doc_b, hamming FROM exact_pairs
        UNION ALL
        SELECT doc_a, doc_b, hamming FROM near_pairs
    """,
    tags=("multimodal", "dedup", "phash", "lsh"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over the IMAGE slice: a 64-BIT
    perceptual hash is computed per image INSIDE the Arrow-batched
    decode stage (the deterministic stand-in is a simhash over the
    payload's tokens — mean-threshold over per-token digest bits, so
    near-duplicate payloads land at small Hamming distance exactly the
    way near-duplicate images do under a real mean-threshold aHash/DCT
    pHash; PIL + DCT plugs into the same mapInPandas slot), then pairs
    within Hamming distance ≤ 7 are found by EXACT-HASH PRE-GROUPING +
    BANDED bucketing over the distinct hashes: 8 bands × 8 bits, so any
    distinct-hash pair with ≤ 7 differing bits MUST agree on at least
    one band (pigeonhole) — zero false negatives, no all-pairs compare.

    This is the r14-staged rewrite of the banding quadratic
    (VERDICT r14 task #1): the old 4-bit bands
    over a 32-bit hash pigeonholed to a FIXED 16 buckets per band, so
    the candidate set was Θ(n²/16) no matter how the data grew (7 k
    pairs at sf0.01 → 695 k at sf0.1).  8-bit bands give 256 buckets
    per band (16× fewer random collisions), and pre-grouping means the
    banded self-join runs over DISTINCT hashes only — duplicate-heavy
    corpora (the common case at 100 TB) pay the join once per unique
    image, with exact-duplicate pairs recovered by a linear equi-join
    on the full 64-bit signature.  The old hash also made the fixture
    result pure 32-bit birthday noise (16 random collisions at sf0.01);
    the content-structured hash makes the planted near-dup documents
    the signal — the ≤ 7 ring, the banding, and the expansion all carry
    real values now.  Output-sized work (a corpus whose duplicate
    clusters are huge has inherently quadratic PAIR OUTPUT) is the only
    remaining super-linear term, which no pair-emitting dedup can avoid.

    Scale: hashing is map-only Arrow-batched numpy (one matrix op per
    doc), sized by cores like any decode, and the hash travels as ONE
    packed BIGINT — every join key, the candidate distinct, and the
    Hamming verify (``bit_count(hv_a ^ hv_b)``, a single JVM popcount
    intrinsic) are integer ops, not 64-char string work.  ``hv`` is
    localCheckpointed so the hash stage runs ONCE though four subplans
    read it; banding fans out ×8 over distinct hashes; every join is an
    equi-join (full-hash or (band, sig)); the member expansion is two
    equi-joins sized by the result.  Residual skew note: a corpus slice
    whose docs share heavy common-token structure concentrates band
    signatures (content-correlated hashes are LSH's worst case), which
    inflates the candidate set within hot (band, sig) buckets — the
    registered query verifies them all (exactness for the oracle); a
    production corpus would cap bucket width exactly like the MinHash
    path's ``max_bucket`` skew guard (queries/llm.py) and account the
    dropped buckets."""
    img = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image"
    )
    # hash stage runs once; four subplans in the pair pipeline read it
    hashes = phash_hashes(img).localCheckpoint()
    return phash_near_dup_pairs(hashes)


def _pack_bits64(bits, np) -> int:
    """64 0/1 values, MSB first → one two's-complement BIGINT (the
    packing both hash variants share, so every downstream stage — the
    band extraction, the popcount verify — reads either identically)."""
    shifts = np.arange(63, -1, -1, dtype=np.uint64)
    hv = int((bits.astype(np.uint64) << shifts).sum(dtype=np.uint64))
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def ahash64_png(payload: bytes) -> int:
    """REAL mean-threshold aHash over decoded PNG pixels — the in-repo
    proof of the docstring promise that a real perceptual hash "plugs
    into the same slot" as the deterministic stand-in (r15 verdict task
    #5): stdlib ``decode_png`` (bytes → H×W×C uint8), grayscale as the
    unweighted mean of the color channels (alpha excluded), 8×8
    nearest-neighbor sample via the same ``(i*H)//8`` index map the
    resize stage pins, threshold at the grid mean, 64 bits packed
    MSB-first row-major into one two's-complement BIGINT — byte-for-bit
    the stand-in's packing, so banding, the popcount verify, CC, and
    ``dedup_media`` are all unchanged downstream.  Raises ValueError on
    malformed PNGs and NotImplementedError on exotic shapes, the same
    error contract as ``_decode_one(real=True)``."""
    import numpy as np

    w, h, px = decode_png(payload)
    color = px[:, :, :3] if px.shape[2] >= 3 else px[:, :, :1]
    gray = color.astype(np.float64).mean(axis=2)
    grid = gray[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
    return _pack_bits64((grid > grid.mean()).ravel(), np)


def phash_hashes(payloads: DataFrame, real: bool = False) -> DataFrame:
    """(doc_id, hv): 64-bit perceptual hash per payload, packed into ONE
    BIGINT (two's complement) inside an Arrow-batched map stage.  The
    deterministic stand-in is a simhash over whitespace tokens; with
    ``real=True`` the SAME map stage runs ``ahash64_png`` instead —
    genuine decode → 8×8 mean-threshold aHash over pixels (a DCT pHash
    via PIL drops into the same slot)."""

    def phash64(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        shifts = np.arange(63, -1, -1, dtype=np.uint64)
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if real:
                    rows.append((int(doc_id), ahash64_png(bytes(payload))))
                    continue
                # tokenize the RAW BYTES (ninth r15 review pass: a
                # .decode("utf-8") here crashed dedup_media on real
                # binary payloads — a PNG is not UTF-8).  The delimiter
                # set is spelled out because no stdlib split matches the
                # oracle exactly: RE2's \s (DuckDB string_split_regex
                # '\s+') is [\t\n\f\r ] WITHOUT vertical tab, while
                # bytes.split() also splits on \v (0x0b) and str.split()
                # additionally on unicode spaces (r15 ADVICE #1).
                toks = [
                    t
                    for t in re.split(rb"[\t\n\f\r ]+", bytes(payload))
                    if t
                ]
                if toks:
                    v = np.array(
                        [
                            int(hashlib.md5(t).hexdigest()[:16], 16)
                            for t in toks
                        ],
                        dtype=np.uint64,
                    )
                    bitmat = (v[:, None] >> shifts[None, :]) & np.uint64(1)
                    acc = (2 * bitmat.astype(np.int64) - 1).sum(axis=0)
                else:
                    acc = np.zeros(64, dtype=np.int64)
                rows.append((int(doc_id), _pack_bits64(acc > 0, np)))
            yield pd.DataFrame(rows, columns=["doc_id", "hv"])

    return payloads.mapInPandas(phash64, schema="doc_id long, hv long")


def phash_bucket_counts(
    hashes: DataFrame | None = None, *, banded: DataFrame | None = None
) -> DataFrame:
    """(band, sig, n_hashes): width of every (band, sig) bucket over the
    DISTINCT hashes — the skew-accounting input for ``max_bucket`` (and
    the observability query a production run logs before capping).

    Pass EITHER ``hashes`` (reps + banding are derived here) OR
    ``banded``, an already-computed (ideally checkpointed)
    ``_phash_banded`` stage — the ``minhash_bucket_counts(bands)``
    pattern — so a caller that also needs the banded reps for exposure
    accounting (``curation.dedup_media``) shuffles the explode output
    once instead of rebuilding reps + banding here.  Exactly one input
    is required: accepting both would silently ignore ``hashes``, an
    inconsistency hazard when the two disagree."""
    if (hashes is None) == (banded is None):
        raise ValueError(
            "phash_bucket_counts: pass exactly one of hashes / banded"
        )
    if banded is None:
        reps = hashes.groupBy("hv").agg(F.min("doc_id").alias("rep"))
        banded = _phash_banded(reps)
    return banded.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("n_hashes")
    )


def phash_dropped_buckets(bucket_counts: DataFrame, max_bucket: int) -> DataFrame:
    """The buckets a capped run excludes — same accounting contract as
    ``minhash_dropped_buckets`` (queries/llm.py): dedup under a cap must
    REPORT what it skipped, not silently under-recall."""
    return bucket_counts.where(F.col("n_hashes") > max_bucket)


def _phash_banded(reps: DataFrame) -> DataFrame:
    # band b's signature is byte b of the hash (arithmetic shiftright's
    # sign fill is stripped by the & 255)
    return reps.select(
        "rep",
        "hv",
        F.explode(
            F.expr(
                "transform(sequence(1, 8), b -> struct(b AS band,"
                " shiftright(hv, (8 - b) * 8) & 255 AS sig))"
            )
        ).alias("e"),
    ).select("rep", "hv", "e.band", "e.sig")


def phash_near_dup_pairs(
    hashes: DataFrame,
    *,
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair within Hamming ≤ 7 of the
    64-bit hashes: exact-hash pre-grouping + 8×8-bit banded candidates +
    popcount verify — the pipeline the registered query runs.

    ``max_bucket`` is the OPT-IN production skew guard, the exact
    pattern of the MinHash path's cap (queries/llm.py): a hot
    (band, sig) bucket — content-correlated hashes are LSH's worst
    case — otherwise generates O(width²) candidate pairs on one key,
    OOMing an executor at 100 TB.  Under the cap, bucket widths are
    counted over DISTINCT hashes and oversized buckets are excluded
    from BOTH sides of the band join BEFORE candidate generation; a
    near pair survives if ANY of its shared bands stays under the cap.
    EXACT-duplicate pairs are never affected (the full-hash equi-join
    bypasses banding).  Use ``phash_dropped_buckets`` to account the
    exclusions.  The registered oracle query passes None: exactness.
    Callers should ``localCheckpoint()`` ``hashes`` first — four
    subplans read it.

    ``banded`` / ``bucket_counts`` optionally reuse already-computed
    (ideally checkpointed) ``_phash_banded`` / ``phash_bucket_counts``
    stages — the ``minhash_pairs_df(bands=, bucket_counts=)`` pattern:
    ``curation.dedup_media`` under a cap needs both for its accounting
    columns, and without the reuse the banding explode+shuffle and the
    width aggregation each ran twice (pairs + accounting) per API
    call.  Both MUST derive from the same ``hashes`` frame — the exact
    inconsistency hazard ``phash_bucket_counts``'s exactly-one-input
    guard documents — and ``bucket_counts`` is only consulted under a
    cap, so passing it without ``max_bucket`` is rejected rather than
    silently ignored."""
    if bucket_counts is not None and max_bucket is None:
        raise ValueError(
            "phash_near_dup_pairs: bucket_counts is only used under"
            " max_bucket — passing it uncapped would be silently ignored"
        )
    xa, xb = hashes.alias("xa"), hashes.alias("xb")
    exact_pairs = xa.join(
        xb,
        (F.col("xa.hv") == F.col("xb.hv"))
        & (F.col("xa.doc_id") < F.col("xb.doc_id")),
    ).select(
        F.col("xa.doc_id").alias("doc_a"),
        F.col("xb.doc_id").alias("doc_b"),
        F.lit(0).cast("bigint").alias("hamming"),
    )
    if banded is None:
        reps = hashes.groupBy("hv").agg(F.min("doc_id").alias("rep"))
        banded = _phash_banded(reps)
    if max_bucket is not None:
        widths = (
            bucket_counts
            if bucket_counts is not None
            else banded.groupBy("band", "sig").agg(
                F.count(F.lit(1)).alias("n_hashes")
            )
        )
        ok = widths.where(F.col("n_hashes") <= max_bucket).select(
            "band", "sig"
        )
        # same shuffle key as the join below — no extra exchange
        banded = banded.join(ok, ["band", "sig"])
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.hv").alias("va"),
            F.col("b.hv").alias("vb"),
        )
        .distinct()
    )
    near = cand.withColumn(
        "hamming", F.expr("bit_count(va ^ vb)").cast("bigint")
    ).where(F.col("hamming") <= 7)
    ma, mb = hashes.alias("ma"), hashes.alias("mb")
    near_pairs = (
        near.join(ma, F.col("ma.hv") == F.col("va"))
        .join(mb, F.col("mb.hv") == F.col("vb"))
        .select(
            F.least(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_a"),
            F.greatest(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_b"),
            "hamming",
        )
    )
    return exact_pairs.unionByName(near_pairs)


@register(
    "multimodal_phash_capped_pairs",
    oracle=f"""
        WITH {_PHASH_GRAPH_SQL}{_PHASH_WIDTHS_SQL}{_phash_pairs_sql("banded_ok")}
        SELECT doc_a, doc_b, hamming FROM exact_pairs
        UNION ALL
        SELECT doc_a, doc_b, hamming FROM near_pairs
    """,
    tags=("multimodal", "dedup", "phash", "lsh", "skew"),
)
def multimodal_phash_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phash pipeline's ``max_bucket`` skew guard under DRIVER
    evidence (r15 verdict task #2): same hash stage and banding as
    ``multimodal_phash_dedup``, but (band, sig) buckets wider than
    16 (``_PHASH_MAX_BUCKET``) DISTINCT hashes are excluded from BOTH sides of the band join
    BEFORE candidate generation (``phash_near_dup_pairs(max_bucket=)``).
    The oracle recomputes the identical bucket widths over the
    distinct-hash reps in SQL and filters the banded view the same way,
    so the cap's exact semantics — a near pair survives iff ANY of its
    shared bands stays under the cap; EXACT-duplicate pairs always
    survive because the full-hash equi-join bypasses banding — are
    verified value-for-value cross-engine, not just unit-pinned.

    Scale: this is the 100 TB production configuration of the phash
    dedup (content-correlated hashes concentrate buckets — LSH's worst
    case — and an uncapped hot bucket generates O(width²) candidates on
    one key).  The cap filter joins on the SAME (band, sig) key as the
    band self-join, so AQE plans it without an extra exchange; the
    fixed cap of 16 drops real buckets at every fixture sf, so the
    driver row exercises both the exclusion and the survivors."""
    img = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image"
    )
    hashes = phash_hashes(img).localCheckpoint()
    return phash_near_dup_pairs(hashes, max_bucket=_PHASH_MAX_BUCKET)


@register(
    "multimodal_phash_dropped_buckets",
    oracle=f"""
        WITH {_PHASH_GRAPH_SQL},
        banded_int AS (
            SELECT CAST(band AS BIGINT) AS band,
                   CAST(list_sum(list_transform(range(1, 9), j ->
                        CASE WHEN substr(sig, CAST(j AS INT), 1) = '1'
                             THEN 1 << (8 - j) ELSE 0 END)) AS BIGINT) AS sig
            FROM banded
        )
        SELECT band, sig, COUNT(*) AS n_hashes
        FROM banded_int GROUP BY band, sig
        HAVING COUNT(*) > {_PHASH_MAX_BUCKET}
    """,
    tags=("multimodal", "dedup", "phash", "lsh", "skew", "accounting"),
)
def multimodal_phash_dropped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped phash run's ACCOUNTING query under driver evidence:
    every (band, sig) bucket ``multimodal_phash_capped_pairs`` excludes,
    with its width over DISTINCT hashes (``phash_bucket_counts`` ->
    ``phash_dropped_buckets`` — dedup under a cap must REPORT what it
    skipped, not silently under-recall).  The oracle recomputes each
    band signature as an integer from the bit-string twin (band b =
    byte b of the hash, MSB first — the same ``shiftright(hv,
    (8-b)*8) & 255`` byte the Spark side extracts from the packed
    BIGINT), so the bucket identities and widths match cross-engine.

    Scale: one map-side-combining aggregation over the banded reps
    (8 rows per distinct hash) — the observability pass a production
    run logs before choosing a cap."""
    img = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image"
    )
    hashes = phash_hashes(img)
    return phash_dropped_buckets(
        phash_bucket_counts(hashes), _PHASH_MAX_BUCKET
    ).select(
        F.col("band").cast("bigint").alias("band"),
        F.col("sig").cast("bigint").alias("sig"),
        "n_hashes",
    )


# The keep-min-id tail of the media dedup oracles: connected components
# over the exact_pairs and near_pairs CTEs of the enclosing query
# (``_phash_pairs_sql``), then the image docs (every third doc_id) that
# are no component's non-minimum.  Twin of ``curation.dedup_media``.
_PHASH_PAIRS = "SELECT doc_a, doc_b FROM exact_pairs UNION ALL SELECT doc_a, doc_b FROM near_pairs"
_PHASH_SURVIVORS_SQL = f"""comp AS ({cc_sql(_PHASH_PAIRS)}),
        losers AS (SELECT doc_id FROM comp WHERE doc_id <> component_id),
        allimg AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        surv AS (SELECT doc_id FROM allimg
                 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),"""


@register(
    "curation_dedup_media",
    oracle=f"""
        WITH {_PHASH_GRAPH_SQL}{_phash_pairs_sql()},
        {_PHASH_SURVIVORS_SQL}
        report AS (
            SELECT 'phash' AS method,
                   (SELECT COUNT(*) FROM allimg) AS n_input,
                   (SELECT COUNT(*) FROM surv) AS n_survivors,
                   (SELECT COUNT(*) FROM allimg)
                       - (SELECT COUNT(*) FROM surv) AS n_removed,
                   CAST(0 AS BIGINT) AS n_dropped_buckets,
                   CAST(0 AS BIGINT) AS n_docs_in_dropped_buckets
        )
        SELECT s.doc_id, r.method, r.n_input, r.n_survivors, r.n_removed,
               r.n_dropped_buckets, r.n_docs_in_dropped_buckets
        FROM surv s, report r
    """,
    tags=("multimodal", "dedup", "phash", "curation", "roundtrip", "graph"),
)
def curation_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END driver evidence for the user-facing ``dedup_media``
    API: the full curation pipeline — phash ->
    exact-hash pre-grouping -> banded Hamming <= 7 pairs ->
    large-star/small-star connected components -> keep min-id — run
    through ``curation.dedup_media`` itself (the function the CLI's
    ``dedup --method phash`` calls) over the image slice, returning the
    SURVIVOR set with the one-row report broadcast onto every survivor
    so the keep-set, the counts, and the uncapped run's zero
    skew-accounting are all value-hashed in one result.

    The oracle composes the phash pair graph (``multimodal_phash_dedup``'s
    SQL twin) with ``_PHASH_SURVIVORS_SQL`` (the shared ``cc_sql``
    closure, then all image docs minus component non-minima),
    cross-joined with the recomputed report row.

    Scale: composition of oracle-checked stages — no new shuffle
    shapes; the report attach is a broadcast of ONE row (the registered
    query's only cross join, hinted)."""
    from discogs_etl_spark.curation import dedup_media

    img = (
        with_payload(load(spark, sf_dir, "documents"))
        .where(F.col("media_type") == "image")
        .select("doc_id", "payload")
    )
    survivors, report = dedup_media(spark, img)
    return survivors.select("doc_id").crossJoin(F.broadcast(report))


@register(
    "curation_dedup_media_capped",
    oracle=f"""
        WITH {_PHASH_GRAPH_SQL}{_PHASH_WIDTHS_SQL}{_phash_pairs_sql("banded_ok")},
        {_PHASH_SURVIVORS_SQL}
        dropped AS (SELECT band, sig FROM widths
                    WHERE n_hashes > {_PHASH_MAX_BUCKET}),
        dropped_bits AS (
            SELECT DISTINCT bd.bits FROM banded bd
            JOIN dropped d ON d.band = bd.band AND d.sig = bd.sig
        ),
        report AS (
            SELECT 'phash' AS method,
                   (SELECT COUNT(*) FROM allimg) AS n_input,
                   (SELECT COUNT(*) FROM surv) AS n_survivors,
                   (SELECT COUNT(*) FROM allimg)
                       - (SELECT COUNT(*) FROM surv) AS n_removed,
                   (SELECT COUNT(*) FROM dropped) AS n_dropped_buckets,
                   (SELECT COUNT(DISTINCT b.doc_id)
                    FROM bits b JOIN dropped_bits db ON db.bits = b.bits)
                       AS n_docs_in_dropped_buckets
        )
        SELECT s.doc_id, r.method, r.n_input, r.n_survivors, r.n_removed,
               r.n_dropped_buckets, r.n_docs_in_dropped_buckets
        FROM surv s, report r
    """,
    tags=("multimodal", "dedup", "phash", "curation", "roundtrip", "graph", "skew"),
)
def curation_dedup_media_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEDIA curation API under its PRODUCTION configuration, the
    media twin of ``curation_dedup_corpus``: ``curation.dedup_media``
    with the bucket-skew cap ENGAGED (``max_bucket=_PHASH_MAX_BUCKET``),
    so the API-level accounting columns (n_dropped_buckets,
    n_docs_in_dropped_buckets) carry NONZERO driver-checked values
    (``curation_dedup_media`` runs uncapped and pins them at zero).
    Survivors differ from the uncapped run exactly where near-pair
    recall is traded inside over-wide buckets; exact-duplicate removal
    is unaffected (the full-hash equi-join bypasses banding).

    The oracle composes the capped pair graph
    (``multimodal_phash_capped_pairs``' fragments — the shared
    ``_PHASH_WIDTHS_SQL`` width filter over ``_PHASH_GRAPH_SQL``'s
    banded reps), the recursive-CTE closure, and the accounting
    recomputed in SQL: dropped buckets over distinct-hash widths, and
    exposed docs = DISTINCT doc_ids whose hash sat in at least one
    dropped bucket.

    Scale: identical stages to ``curation_dedup_media`` plus the
    width-filter join on the same (band, sig) key as candidate
    generation — the configuration a 100 TB media corpus actually runs,
    now value-checked end-to-end cross-engine."""
    from discogs_etl_spark.curation import dedup_media

    img = (
        with_payload(load(spark, sf_dir, "documents"))
        .where(F.col("media_type") == "image")
        .select("doc_id", "payload")
    )
    survivors, report = dedup_media(spark, img, max_bucket=_PHASH_MAX_BUCKET)
    return survivors.select("doc_id").crossJoin(F.broadcast(report))


@register(
    "multimodal_media_summary",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   {_SQL_MEDIA} AS media_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   CASE WHEN doc_id % 3 IN (0, 2)
                        THEN 64 + 4 * ('0x' || substr({_SQL_H}, 1, 2))::BIGINT
                   END AS width,
                   CASE WHEN doc_id % 3 IN (0, 2)
                        THEN 64 + 4 * ('0x' || substr({_SQL_H}, 3, 2))::BIGINT
                   END AS height,
                   CASE WHEN doc_id % 3 IN (1, 2)
                        THEN ('0x' || substr({_SQL_H}, 5, 4))::BIGINT
                   END AS duration_ms
            FROM documents
        )
        SELECT media_type,
               COUNT(*) AS n_assets,
               CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
               round(CAST(SUM(CAST(width * height AS DECIMAL(28,0))) AS DOUBLE)
                     / NULLIF(COUNT(width), 0), 2) AS avg_pixels,
               CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms
        FROM feats GROUP BY media_type
    """,
    tags=("multimodal", "summary", "inventory"),
)
def multimodal_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIA INVENTORY rollup off the decode stage: per media type, asset
    count, total payload bytes, mean decoded pixel area, and total audio/
    video duration — the capacity-planning numbers a multimodal training
    pipeline sizes GPUs and storage against (pixel area drives image
    preprocessing cost; duration drives audio/video frame extraction).
    NULL metadata (audio has no pixels, images no duration) aggregates
    correctly via count-of-non-null denominators.

    Scale: the decode is the Arrow-batched map-only stage; the rollup is
    one 3-key aggregation — inventorying 100 TB of media costs one scan."""
    feats = decode_features(with_payload(load(spark, sf_dir, "documents")))
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.round(
            F.sum((F.col("width") * F.col("height")).cast("decimal(28,0)")).cast(
                "double"
            )
            / F.nullif(F.count("width"), F.lit(0)),
            2,
        ).alias("avg_pixels"),
        F.sum("duration_ms").cast("bigint").alias("total_duration_ms"),
    )
