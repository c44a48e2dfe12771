"""Stdlib PNG decode + the opt-in real-decoder hook (SURVEY.md §2.12e).

The encoder here is test-only: it writes a known pixel buffer through
each of the five PNG scanline filters (one per row), so the decoder's
un-filtering is checked byte-for-byte against ground truth rather than
roundtripping a single trivial filter.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from discogs_etl_spark.multimodal import (
    PNG_MAGIC,
    _decode_one,
    decode_features,
    decode_png,
    decode_wav,
)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _encode_png(pixels: np.ndarray, filters: list[int]) -> bytes:
    """Minimal PNG writer with a CHOSEN filter type per row (the sandbox
    has no imaging library, so the test brings its own encoder)."""
    h, w, ch = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = bytearray()
    prev = bytes(w * ch)
    for y in range(h):
        row = pixels[y].reshape(-1).tobytes()
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(w * ch):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                filt = row[x]
            elif f == 1:
                filt = (row[x] - a) & 0xFF
            elif f == 2:
                filt = (row[x] - b) & 0xFF
            elif f == 3:
                filt = (row[x] - ((a + b) >> 1)) & 0xFF
            else:
                filt = (row[x] - _paeth(a, b, c)) & 0xFF
            raw.append(filt)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _golden_pixels(h: int, w: int, ch: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_decode_png_all_filters_all_color_types(ch):
    px = _golden_pixels(5, 7, ch)
    data = _encode_png(px, filters=[0, 1, 2, 3, 4])
    w, h, out = decode_png(data)
    assert (w, h) == (7, 5)
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_decode_png_rejects_garbage_and_exotics():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    px = _golden_pixels(2, 2, 3)
    data = bytearray(_encode_png(px, [0]))
    data[8 + 8 + 8] = 16  # IHDR bit depth byte -> 16-bit
    with pytest.raises(NotImplementedError):
        decode_png(bytes(data))


def test_decode_one_real_png_true_dimensions():
    px = _golden_pixels(3, 9, 3)
    payload = _encode_png(px, [0, 4])
    feats = _decode_one(payload, "image", real=True)
    # REAL dimensions from the bytes, not the md5-derived fake ones
    assert (feats["width"], feats["height"]) == (9, 3)
    assert feats["duration_ms"] is None and feats["n_frames"] is None
    fake = _decode_one(payload, "image", real=False)
    assert (fake["width"], fake["height"]) != (9, 3)


def test_decode_one_real_non_png_still_gated():
    with pytest.raises(NotImplementedError):
        _decode_one(b"\xff\xd8\xff jpeg-ish", "image", real=True)
    # non-RIFF audio (mp3-ish) stays gated; RIFF/WAVE now decodes for real
    with pytest.raises(NotImplementedError):
        _decode_one(b"ID3\x04 mp3-ish frames", "audio", real=True)
    with pytest.raises(NotImplementedError):
        _decode_one(b"\x00\x00\x00\x20ftypisom", "video", real=True)


# ---------------------------------------------------------------- WAV ----


def _encode_wav(
    n_frames: int,
    sample_rate: int = 8000,
    channels: int = 2,
    bits: int = 16,
    tag: int = 1,
    extra_chunk: bool = False,
    extensible: bool = False,
) -> bytes:
    """Minimal RIFF/WAVE PCM writer (test-only golden encoder)."""
    # spec: nBlockAlign = nChannels * ceil(wBitsPerSample / 8)
    block_align = channels * ((bits + 7) // 8)
    if extensible:
        # WAVE_FORMAT_EXTENSIBLE wrapper: real tag rides in the SubFormat
        # GUID (KSDATAFORMAT_SUBTYPE_PCM/FLOAT share this fixed suffix)
        guid = struct.pack("<HH", tag, 0) + bytes.fromhex("00001000800000aa00389b71")
        fmt = struct.pack(
            "<HHIIHHHHI",
            0xFFFE, channels, sample_rate, sample_rate * block_align,
            block_align, bits, 22, bits, (1 << channels) - 1,
        ) + guid
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, channels, sample_rate, sample_rate * block_align, block_align, bits
        )
    body = b"WAVE"
    if extra_chunk:  # odd-length chunk before fmt exercises word-align padding
        body += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    body += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    pcm = bytes(n_frames * block_align)
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_golden_header():
    data = _encode_wav(n_frames=12000, sample_rate=8000, channels=2, bits=16)
    assert decode_wav(data) == (8000, 2, 12000, 1500)
    # float PCM tag, mono 8-bit, chunk-walk past an odd-length LIST chunk
    data = _encode_wav(
        n_frames=441, sample_rate=44100, channels=1, bits=32, tag=3, extra_chunk=True
    )
    assert decode_wav(data) == (44100, 1, 441, 10)
    # WAVE_FORMAT_EXTENSIBLE wrapper around 24-bit 6-channel PCM — the
    # shape encoders are REQUIRED to emit as extensible per the WAV spec
    data = _encode_wav(
        n_frames=4800, sample_rate=48000, channels=6, bits=24, tag=1, extensible=True
    )
    assert decode_wav(data) == (48000, 6, 4800, 100)
    trunc_ext = bytearray(data)
    trunc_ext[16] = 20  # fmt length claims 20 (< 40) while tag says extensible
    with pytest.raises(ValueError):
        decode_wav(bytes(trunc_ext))


def test_decode_wav_rejects_malformed_and_compressed():
    with pytest.raises(ValueError):
        decode_wav(b"RIFF....WAVE")  # no fmt/data chunks
    with pytest.raises(ValueError):
        decode_wav(b"OggS vorbis-ish")  # not RIFF at all
    good = _encode_wav(n_frames=10)
    with pytest.raises(ValueError):
        decode_wav(good[:-3])  # truncated data chunk
    mp3_in_riff = bytearray(_encode_wav(n_frames=10, tag=1))
    mp3_in_riff[20] = 85  # format tag -> MPEG layer 3
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(mp3_in_riff))


def test_decode_one_real_wav_true_duration():
    payload = _encode_wav(n_frames=4000, sample_rate=16000, channels=1)
    feats = _decode_one(payload, "audio", real=True)
    assert feats["duration_ms"] == 250 and feats["n_frames"] == 4000
    assert feats["width"] is None and feats["height"] is None
    fake = _decode_one(payload, "audio", real=False)
    assert fake["duration_ms"] != 250  # md5-derived, not the true header value


# ---------------------------------------------------------------- AVI ----


def _encode_avi(
    width: int, height: int, n_frames: int, usec_per_frame: int
) -> bytes:
    """Minimal RIFF/AVI writer: LIST/hdrl with an avih main header (the
    only chunk decode_avi reads), plus an empty movi list for shape."""
    avih = struct.pack(
        "<10I", usec_per_frame, 0, 0, 0, n_frames, 0, 1, 0, width, height
    ) + bytes(16)  # dwReserved[4]
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = b"movi"
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_avi_golden_header():
    from discogs_etl_spark.multimodal import decode_avi

    # 640x480, 300 frames at 33,333 us/frame (~30 fps) -> 9,999 ms
    data = _encode_avi(640, 480, 300, 33333)
    assert decode_avi(data) == (640, 480, 300, 9999)


def test_decode_avi_rejects_malformed():
    from discogs_etl_spark.multimodal import decode_avi

    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")  # RIFF but not AVI
    good = _encode_avi(320, 240, 10, 40000)
    with pytest.raises(ValueError):
        decode_avi(good[:40])  # truncated inside the hdrl list
    zero_rate = bytearray(good)
    zero_rate[32:36] = b"\x00\x00\x00\x00"  # dwMicroSecPerFrame = 0
    with pytest.raises(ValueError):
        decode_avi(bytes(zero_rate))


def test_decode_one_real_avi_true_dimensions():
    payload = _encode_avi(1920, 1080, 240, 41666)
    feats = _decode_one(payload, "video", real=True)
    assert (feats["width"], feats["height"]) == (1920, 1080)
    assert feats["n_frames"] == 240 and feats["duration_ms"] == 9999
    fake = _decode_one(payload, "video", real=False)
    assert (fake["width"], fake["height"]) != (1920, 1080)


# ------------------------------------------------- inflate hardening ----


def test_decode_png_inflate_bomb_bounded():
    # IHDR promises 2x2 RGB but the IDAT inflates to ~10 MB: the decoder
    # must stop at the promised size + 1 and raise, never materialize it
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(bytes(10 * 1024 * 1024), 9)  # ~10 KB compressed
    data = PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", bomb) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(data)


def test_decode_png_hostile_ihdr_promise_capped_by_idat_size():
    # The converse bomb (ADVICE r6): a tiny IDAT with an IHDR promising
    # ~2^31 x 2^31 pixels.  The inflate bound derived from the IHDR is
    # then effectively unbounded, and zlib could legally expand the
    # input ~1032x before the length check fires.  The decoder must
    # reject the promise UP FRONT (expected > len(idat) * 1032 + slack)
    # without materializing anything.
    ihdr = struct.pack(">IIBBBBB", 2**31 - 1, 2**31 - 1, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(4096), 9)
    data = PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="IHDR promises more"):
        decode_png(data)


def test_decode_wav_20bit_extensible_block_align_ceil():
    # 20-bit EXTENSIBLE PCM packs each sample in ceil(20/8)=3 bytes, so
    # nBlockAlign = channels*3; the floor check (channels*(20//8)=2x)
    # rejected these valid files (ADVICE r6).
    data = _encode_wav(
        n_frames=1000, sample_rate=44100, channels=2, bits=20, tag=1, extensible=True
    )
    assert decode_wav(data) == (44100, 2, 1000, 22)


def test_decode_one_real_riff_non_wave_audio_env_gates():
    # RIFF container that is NOT WAVE (e.g. RIFF/RMID midi): must reach
    # the clearly-marked needs-ffmpeg NotImplementedError, not leak
    # decode_wav's ValueError (ADVICE r6) — mirroring the AVI gate.
    rmid = b"RIFF" + struct.pack("<I", 12) + b"RMIDdata" + bytes(4)
    with pytest.raises(NotImplementedError):
        _decode_one(rmid, "audio", real=True)
    # and a true WAVE still takes the real branch
    feats = _decode_one(_encode_wav(n_frames=80, sample_rate=8000), "audio", real=True)
    assert feats["duration_ms"] == 10


def test_decode_png_corrupt_idat_raises_valueerror_not_zlib_error():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    for idat in (b"", b"\xde\xad\xbe\xef not deflate"):
        data = (
            PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            decode_png(data)


def test_decode_features_real_path_mixed_media_via_conf(spark):
    """End-to-end real decode through the Spark stage with all THREE
    media types in one Arrow batch: PNG pixels, extensible-PCM WAV, and
    an AVI container header — true header values, not md5-derived."""
    png = _encode_png(_golden_pixels(5, 8, 4), [0, 1, 2, 3, 4])
    wav = _encode_wav(n_frames=8000, sample_rate=16000, channels=2, extensible=True)
    avi = _encode_avi(1280, 720, 120, 33333)
    df = spark.createDataFrame(
        [
            (1, bytearray(png), "image"),
            (2, bytearray(wav), "audio"),
            (3, bytearray(avi), "video"),
        ],
        "doc_id long, payload binary, media_type string",
    )
    rows = {r["doc_id"]: r for r in decode_features(df, real=True).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (8, 5)
    assert (rows[2]["duration_ms"], rows[2]["n_frames"]) == (500, 8000)
    assert rows[2]["width"] is None
    assert (rows[3]["width"], rows[3]["height"]) == (1280, 720)
    assert (rows[3]["n_frames"], rows[3]["duration_ms"]) == (120, 3999)


def test_decode_features_real_path_via_conf(spark):
    px = _golden_pixels(4, 6, 3)
    payload = _encode_png(px, [0, 1, 2, 3])
    df = spark.createDataFrame(
        [(1, bytearray(payload), "image")], "doc_id long, payload binary, media_type string"
    )
    row = decode_features(df, real=True).collect()[0]
    assert (row["width"], row["height"]) == (6, 4)
    # and the default stays on the deterministic fake
    fake_row = decode_features(df).collect()[0]
    assert (fake_row["width"], fake_row["height"]) != (6, 4)


def test_phash_max_bucket_skew_guard(spark):
    """The production skew guard (r15): a hot (band, sig) bucket is
    excluded from candidate generation under max_bucket, a near pair in
    a cold bucket survives, an EXACT-duplicate pair is never affected
    (the full-hash equi-join bypasses banding), and the dropped-bucket
    accounting names exactly the excluded bucket — the same contract as
    the MinHash max_bucket guard."""
    from discogs_etl_spark.multimodal import (
        phash_bucket_counts,
        phash_dropped_buckets,
        phash_near_dup_pairs,
    )

    rows = []
    # six hashes sharing band 1 (top byte 0xAB) but mutually far apart:
    # a hot bucket of width 6
    for i in range(6):
        hv = (0xAB << 56) | (i * 0x0101010101010101 & ((1 << 56) - 1))
        rows.append((i, hv - (1 << 64) if hv >= 1 << 63 else hv))
    rows.append((100, 0x1234567890ABCDEF))  # cold near pair, hamming 1
    rows.append((101, 0x1234567890ABCDEE))
    rows.append((200, 0x0F0F0F0F0F0F0F0F))  # exact-duplicate pair
    rows.append((201, 0x0F0F0F0F0F0F0F0F))
    hashes = spark.createDataFrame(rows, "doc_id long, hv long").localCheckpoint()

    uncapped = sorted(
        map(tuple, phash_near_dup_pairs(hashes).toPandas().values.tolist())
    )
    assert (100, 101, 1) in uncapped and (200, 201, 0) in uncapped
    assert sum(1 for a, b, h in uncapped if a < 100) == 7  # hot-bucket pairs

    capped = sorted(
        map(
            tuple,
            phash_near_dup_pairs(hashes, max_bucket=3).toPandas().values.tolist(),
        )
    )
    assert capped == [(100, 101, 1), (200, 201, 0)], capped

    dropped = phash_dropped_buckets(
        phash_bucket_counts(hashes), 3
    ).toPandas().values.tolist()
    assert dropped == [[1, 0xAB, 6]], dropped


def test_phash_hashes_accepts_raw_binary_payloads(spark):
    """Ninth r15 review pass, crash reproduced before the fix: the hash
    stage decoded payloads as UTF-8, so a REAL media payload (a PNG is
    not UTF-8) killed dedup_media's executor tasks.  Tokenization now
    splits the raw bytes on the explicit RE2 \\s class [\\t\\n\\f\\r ]
    (str.split() would additionally split unicode spaces the oracle
    does not; bytes.split() would additionally split \\v — r15 ADVICE
    #1).  Byte-identical binary payloads still collapse to one hash
    (the exact-duplicate path)."""
    from discogs_etl_spark.multimodal import phash_hashes

    rows = [
        (1, bytearray(b"\x89PNG\r\n\x1a\n\xff\xfe raw binary")),
        (2, bytearray(b"\x89PNG\r\n\x1a\n\xff\xfe raw binary")),
        (3, bytearray(b"\x89PNG\r\n\x1a\n\x00\x01 other binary")),
        (4, bytearray(b"")),  # empty payload: all-zero hash, no crash
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.hv for r in phash_hashes(df).collect()}
    assert got[1] == got[2]          # byte-dups share the hash
    assert got[1] != got[3]
    assert got[4] == 0               # empty payload -> all-zero bits


def test_ahash64_png_golden_buffers():
    """The REAL perceptual hash (r15 verdict task #5): decoded pixels ->
    8x8 NN sample -> mean threshold -> the SAME MSB-first row-major
    BIGINT packing as the deterministic stand-in.  Golden values are
    hand-derived: a left-dark/right-bright 16x16 image samples to rows
    of 00001111 (0x0F per byte); top-bright/bottom-dark sets exactly
    bits 63..32 (negative in two's complement); a constant image has no
    pixel above the mean (hv = 0)."""
    import numpy as np

    from discogs_etl_spark.multimodal import ahash64_png

    lr = np.full((16, 16, 3), 10, dtype=np.uint8)
    lr[:, 8:, :] = 240
    assert ahash64_png(_encode_png(lr, [0])) == 0x0F0F0F0F0F0F0F0F

    tb = np.full((16, 16, 1), 10, dtype=np.uint8)
    tb[:8, :, :] = 240
    assert ahash64_png(_encode_png(tb, [0])) == 0xFFFFFFFF00000000 - (1 << 64)

    flat = np.full((16, 16, 3), 77, dtype=np.uint8)
    assert ahash64_png(_encode_png(flat, [0])) == 0

    # alpha is excluded from the grayscale: RGBA with arbitrary alpha
    # hashes identically to its RGB projection
    rgba = np.dstack([lr, np.arange(256, dtype=np.uint8).reshape(16, 16)])
    assert ahash64_png(_encode_png(rgba, [0])) == 0x0F0F0F0F0F0F0F0F

    # near-duplicate: flipping ONE sampled cell moves Hamming by exactly 1
    near = lr.copy()
    near[0, 0, :] = 240  # grid cell (0,0) samples pixel (0,0) for 16x16
    a, b = ahash64_png(_encode_png(lr, [0])), ahash64_png(_encode_png(near, [0]))
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") == 1

    with pytest.raises(ValueError):
        ahash64_png(b"not a png at all")


def test_decode_png_rejects_zero_dimensions():
    """A zero-width/height IHDR is malformed per the PNG spec — found by
    an adversarial probe this round: decode_png accepted it, returned an
    empty pixel array, and the crash surfaced downstream as an executor
    IndexError (ahash64_png's NN sample over an axis of size 0) instead
    of the documented ValueError-at-decode contract."""
    import struct
    import zlib

    from discogs_etl_spark.multimodal import PNG_MAGIC, ahash64_png, decode_png
    from tests.test_multimodal_decode import _chunk

    for w, h in ((0, 4), (4, 0), (0, 0)):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            PNG_MAGIC
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 16))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="zero width or height"):
            decode_png(data)
        with pytest.raises(ValueError, match="zero width or height"):
            ahash64_png(data)


def test_phash_hashes_real_path_end_to_end(spark):
    """real=True routes the SAME Arrow-batched map stage through
    ahash64_png, and the whole dedup_media pipeline runs unchanged on
    pixel hashes: byte-identical PNGs collapse (exact-dup removal) while
    a structurally different image survives.  The executor-side values
    equal the driver-side ahash64_png of the same bytes."""
    import numpy as np

    from discogs_etl_spark.curation import dedup_media
    from discogs_etl_spark.multimodal import ahash64_png, phash_hashes

    lr = np.full((16, 16, 3), 10, dtype=np.uint8)
    lr[:, 8:, :] = 240
    tb = np.full((16, 16, 3), 10, dtype=np.uint8)
    tb[:8, :, :] = 240
    p1, p2 = _encode_png(lr, [0]), _encode_png(tb, [0])
    rows = [(1, bytearray(p1)), (2, bytearray(p1)), (3, bytearray(p2))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.hv for r in phash_hashes(df, real=True).collect()}
    assert got == {1: ahash64_png(p1), 2: ahash64_png(p1), 3: ahash64_png(p2)}
    surv, rep = dedup_media(spark, df, real=True)
    assert sorted(x.doc_id for x in surv.collect()) == [1, 3]
    assert rep.collect()[0].n_removed == 1


def test_phash_tokenizer_matches_re2_whitespace_class(spark):
    """r15 ADVICE #1: the oracle's string_split_regex(text, '\\s+') is
    RE2 \\s = [\\t\\n\\f\\r ], which does NOT split on vertical tab —
    bytes.split() did.  Pin the divergence shut relationally: \\v stays
    INSIDE a token (so 'a\\vb' hashes unlike 'a b'), while \\t and
    space are interchangeable delimiters and leading/trailing/repeated
    delimiters produce no empty tokens."""
    from discogs_etl_spark.multimodal import phash_hashes

    rows = [
        (1, bytearray(b"a\x0bb c")),       # \v is NOT a delimiter
        (2, bytearray(b"a\x0bb\tc")),      # \t and space are equivalent
        (3, bytearray(b"a b c")),          # would equal 1 under bytes.split()
        (4, bytearray(b"  a\x0bb \n c ")), # empty tokens filtered
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.hv for r in phash_hashes(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert got[4] == got[1]
