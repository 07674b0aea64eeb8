"""Property-based codec tests (hypothesis): lossless invariants hold
for ARBITRARY inputs, not just the example fixtures — any
counterexample shrinks to a minimal failing case."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from realestate_engine.flac import decode_flac, encode_flac
from realestate_engine.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_lossless,
    encode_jpeg_progressive,
)


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    channels=st.integers(1, 2),
    blocksize=st.sampled_from([64, 256, 1024]),
)
def test_flac_roundtrip_property(samples, channels, blocksize):
    if len(samples) % channels:
        samples = samples[: len(samples) - len(samples) % channels]
    if not samples:
        samples = [0] * channels
    dec = decode_flac(encode_flac(8000, channels, samples, blocksize=blocksize))
    assert dec["samples"] == samples
    assert dec["channels"] == channels


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    predictor=st.integers(1, 7),
    data=st.data(),
)
def test_lossless_jpeg_roundtrip_property(w, h, predictor, data):
    img = data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h))
    dec = decode_jpeg(encode_jpeg_lossless(w, h, img, predictor=predictor))
    assert dec["samples"] == img


@settings(max_examples=12, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 24),
    quality=st.sampled_from([25, 85, 95]),
    subsample=st.booleans(),
    data=st.data(),
)
def test_progressive_equals_baseline_property(w, h, quality, subsample, data):
    rgb = bytes(data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3)))
    base = decode_jpeg(encode_jpeg(w, h, rgb, quality, subsample=subsample))
    prog = decode_jpeg(encode_jpeg_progressive(w, h, rgb, quality, subsample=subsample))
    assert prog["rgb"] == base["rgb"]


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 48),
    h=st.integers(1, 32),
    nbits=st.integers(1, 8),
    interlace=st.booleans(),
    gif89=st.booleans(),
    data=st.data(),
)
def test_gif_roundtrip_property(w, h, nbits, interlace, gif89, data):
    from realestate_engine.gif import decode_gif, encode_gif

    n = 1 << nbits
    pal = [((i * 37) % 256, (i * 11) % 256, (i * 91) % 256) for i in range(n)]
    px = data.draw(st.lists(st.integers(0, n - 1), min_size=w * h, max_size=w * h))
    out = decode_gif(encode_gif(w, h, pal, px, interlace=interlace, gif89=gif89))
    assert out["pixels"] == px
    assert out["palette"] == pal
    assert out["interlaced"] == interlace and out["gif89"] == gif89


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 24),
    orientation=st.integers(1, 8),
    big_endian=st.booleans(),
    make=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24
    ),
    data=st.data(),
)
def test_tiff_roundtrip_property(w, h, orientation, big_endian, make, data):
    from realestate_engine.tiff import decode_tiff, encode_tiff

    px = bytes(data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)))
    out = decode_tiff(
        encode_tiff(w, h, px, orientation=orientation, make=make, big_endian=big_endian)
    )
    assert out["pixels"] == px
    assert (out["width"], out["height"], out["orientation"]) == (w, h, orientation)
    assert out["make"] == make and out["big_endian"] == big_endian


@settings(max_examples=15, deadline=None)
@given(
    w=st.sampled_from([8, 16, 24]),
    h=st.sampled_from([8, 16]),
    fps=st.integers(1, 60),
    n_frames=st.integers(1, 6),
)
def test_avi_container_bit_exact_property(w, h, fps, n_frames):
    from realestate_engine.avi import decode_avi_mjpeg, encode_avi_mjpeg
    from realestate_engine.jpeg import encode_jpeg

    frames = [
        encode_jpeg(
            w, h,
            bytes((x * 7 + y * 3 + f * 11) % 256 for y in range(h) for x in range(w) for _ in range(3)),
            quality=85,
        )
        for f in range(n_frames)
    ]
    out = decode_avi_mjpeg(encode_avi_mjpeg(w, h, fps, frames))
    assert out["frames"] == frames
    assert out["idx_consistent"]
    assert (out["n_frames"], out["fps"]) == (n_frames, fps)
    assert out["us_per_frame"] == 1_000_000 // fps


@settings(max_examples=25, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
    channels=st.integers(1, 2),
)
def test_flac_audit_property(samples, channels):
    """audit_flac_frames agrees with the strict decoder on clean
    streams, and checksum plants are detected at exactly the planted
    site — for ARBITRARY audio, not just the fixture gradients."""
    from realestate_engine.flac import audit_flac_frames

    if len(samples) % channels:
        samples = samples[: len(samples) - len(samples) % channels]
    if not samples:
        samples = [0] * channels
    blob = encode_flac(8000, channels, samples, blocksize=64)
    clean = audit_flac_frames(blob)
    n_frames = len(clean["frames"])
    assert n_frames == (len(samples) // channels + 63) // 64
    assert clean["md5_ok"]
    assert all(f["crc8_ok"] and f["crc16_ok"] for f in clean["frames"])
    assert sum(f["blocksize"] for f in clean["frames"]) == len(samples) // channels

    crc_plant = bytearray(blob)
    crc_plant[-1] ^= 0xFF  # last frame's stored CRC-16 low byte
    audited = audit_flac_frames(bytes(crc_plant))
    assert [f["crc16_ok"] for f in audited["frames"]] == [True] * (n_frames - 1) + [False]
    assert all(f["crc8_ok"] for f in audited["frames"])
    assert audited["md5_ok"]  # decoded samples untouched

    md5_plant = bytearray(blob)
    md5_plant[30] ^= 0x01  # one STREAMINFO MD5 byte
    audited2 = audit_flac_frames(bytes(md5_plant))
    assert not audited2["md5_ok"]
    assert all(f["crc8_ok"] and f["crc16_ok"] for f in audited2["frames"])


@given(
    w=st.integers(1, 17),
    h=st.integers(1, 9),
    topdown=st.booleans(),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_bmp_rgb24_roundtrip_property(w, h, topdown, data):
    from realestate_engine.bmp import decode_bmp, encode_bmp

    pixels = [
        tuple(data.draw(st.integers(0, 255)) for _ in range(3))
        for _ in range(w * h)
    ]
    dec = decode_bmp(encode_bmp(w, h, pixels, topdown=topdown))
    assert (dec["width"], dec["height"], dec["bpp"]) == (w, h, 24)
    assert dec["topdown"] == topdown and dec["compression"] == 0
    assert dec["pixels"] == pixels  # BGR order + stride padding + row flip


@given(w=st.integers(1, 17), h=st.integers(1, 9), data=st.data())
@settings(max_examples=25, deadline=None)
def test_bmp_rle8_roundtrip_property(w, h, data):
    from realestate_engine.bmp import decode_bmp, encode_bmp

    pal = [(i * 11 % 256, i * 7 % 256, i * 3 % 256) for i in range(16)]
    idx = [data.draw(st.integers(0, 15)) for _ in range(w * h)]
    dec = decode_bmp(encode_bmp(w, h, idx, palette=pal, rle8=True))
    assert (dec["width"], dec["height"], dec["bpp"]) == (w, h, 8)
    assert dec["compression"] == 1 and dec["n_palette"] == 16
    assert dec["pixels"] == [pal[i] for i in idx]


def test_bmp_rle8_decoder_absolute_and_delta_modes():
    """The encoder emits only encoded runs; the decoder must also
    handle ABSOLUTE mode (00 n literals, word-aligned) and DELTA
    (00 02 dx dy) per the DIB spec — exercised with a hand-built
    stream: 4x3 image, bottom-up file order."""
    from realestate_engine.bmp import _decode_rle8

    body = bytes(
        [
            0x00, 0x03, 5, 6, 7, 0x00,  # absolute: 3 literals + pad -> row0: 5 6 7 _
            0x01, 9,                    # run of 1 -> row0: 5 6 7 9
            0x00, 0x00,                 # end of line
            0x02, 4,                    # row1: 4 4 . .
            0x00, 0x02, 0x02, 0x01,     # delta: skip to x=4? no: +2 cols, +1 row
            0x00, 0x01,                 # end of bitmap (row2 rest stays 0)
        ]
    )
    grid = _decode_rle8(body, 4, 3)
    assert grid[0] == [5, 6, 7, 9]
    assert grid[1] == [4, 4, 0, 0]
    assert grid[2] == [0, 0, 0, 0]  # delta landed at (x=4,y=2): off-row, untouched


def test_bmp_rejects_malformed():
    import pytest as _pytest

    from realestate_engine.bmp import decode_bmp, encode_bmp

    blob = encode_bmp(2, 2, [(0, 0, 0)] * 4)
    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + blob[2:])  # wrong magic
    with _pytest.raises(ValueError):
        # RLE8 stream truncated before end-of-bitmap
        from realestate_engine.bmp import _decode_rle8

        _decode_rle8(bytes([0x02, 1, 0x00, 0x00]), 2, 2)
    with _pytest.raises(ValueError):
        encode_bmp(2, 2, [0] * 4, palette=[(0, 0, 0)], rle8=True, topdown=True)


def test_bmp_rle8_hostile_streams_raise_valueerror():
    """Bounds contract for untrusted lake BMPs (VERDICT r9 advice):
    every out-of-bounds write or cursor move raises the module's
    ValueError — never a silent row-growing slice assignment, never a
    bare IndexError."""
    import pytest as _pytest

    from realestate_engine.bmp import _decode_rle8

    # encoded run crossing the row end (width 4, run of 5)
    with _pytest.raises(ValueError, match="run crosses"):
        _decode_rle8(bytes([0x05, 7, 0x00, 0x01]), 4, 2)
    # absolute block crossing the row end
    with _pytest.raises(ValueError, match="absolute block crosses"):
        _decode_rle8(bytes([0x00, 0x05, 1, 2, 3, 4, 5, 0x00, 0x00, 0x01]), 4, 2)
    # absolute block truncated (declares 4 literals, supplies 2)
    with _pytest.raises(ValueError, match="absolute block truncated"):
        _decode_rle8(bytes([0x00, 0x04, 1, 2]), 4, 2)
    # run after the last row (two end-of-lines walk y past height)
    with _pytest.raises(ValueError, match="run crosses"):
        _decode_rle8(
            bytes([0x00, 0x00, 0x00, 0x00, 0x01, 7, 0x00, 0x01]), 4, 2
        )
    # delta jumping below the last row
    with _pytest.raises(ValueError, match="delta moves cursor"):
        _decode_rle8(bytes([0x00, 0x02, 0x00, 0x05, 0x00, 0x01]), 4, 2)
    # delta truncated mid-operands
    with _pytest.raises(ValueError, match="delta truncated"):
        _decode_rle8(bytes([0x00, 0x02, 0x01]), 4, 2)
    # well-formed stream still decodes exactly width*height values
    grid = _decode_rle8(bytes([0x04, 9, 0x00, 0x00, 0x04, 8, 0x00, 0x01]), 4, 2)
    assert [len(r) for r in grid] == [4, 4]
    assert grid[0] == [9, 9, 9, 9] and grid[1] == [8, 8, 8, 8]


def _byte_flips(blob: bytes):
    """Every copy of ``blob`` with one byte inverted, lowest bit flipped
    or highest bit flipped."""
    for i in range(len(blob)):
        for mask in (0xFF, 0x01, 0x80):
            b = bytearray(blob)
            b[i] ^= mask
            yield bytes(b)


def test_flac_byte_flips_raise_or_decode_exactly():
    """A corrupted FLAC stream either raises ValueError or (the flip
    hit a field the samples do not depend on, e.g. the sample rate)
    decodes to the original samples; the audit either raises ValueError
    or returns its record. No other exception escapes either walk."""
    from realestate_engine.flac import audit_flac_frames

    mono = [(i * 37) % 3001 - 1500 for i in range(300)]
    stereo = [(i * i) % 4001 - 2000 for i in range(400)]
    for channels, samples, blocksize in ((1, mono, 128), (2, stereo, 64)):
        for b in _byte_flips(encode_flac(8000, channels, samples, blocksize=blocksize)):
            try:
                assert decode_flac(b)["samples"] == samples
            except ValueError:
                pass
            try:
                audit_flac_frames(b)
            except ValueError:
                pass


def test_ogg_byte_flips_raise():
    """Every page is CRC-protected, so parse_ogg rejects any single-byte
    corruption with ValueError."""
    import pytest as _pytest

    from realestate_engine.ogg import encode_minimal_ogg_vorbis, parse_ogg

    blob = encode_minimal_ogg_vorbis(44100, 2, [("TITLE", "x"), ("ARTIST", "yy")], granule=1234)
    for b in _byte_flips(blob):
        with _pytest.raises(ValueError):
            parse_ogg(b)


def test_jpeg_byte_flips_raise_or_decode():
    """A corrupted JPEG either decodes or raises ValueError: every byte
    of a 16x16 baseline stream with a restart marker after each MCU, of
    a progressive stream and of a progressive 4:2:0 stream, inverted or
    with its lowest or highest bit flipped. No IndexError, KeyError,
    TypeError, StopIteration or struct.error escapes from a bad length,
    table id or component id, and no NotImplementedError from a
    progressive SOF2 read as a subsampled lossless SOF3: its scan's
    predictor 0 is checked first. A subsampled lossless frame with a
    legal predictor is still unsupported."""
    import pytest as _pytest

    from realestate_engine.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

    rgb = _pin_raster(16, 16)
    subsampled = encode_jpeg_progressive(16, 16, rgb, subsample=True)
    for blob in (encode_jpeg(16, 16, rgb, restart_interval=1), encode_jpeg_progressive(16, 16, rgb), subsampled):
        for b in _byte_flips(blob):
            try:
                decode_jpeg(b)
            except ValueError:
                pass

    lossless = bytearray(subsampled.replace(b"\xff\xc2", b"\xff\xc3", 1))
    with _pytest.raises(ValueError, match="predictor"):
        decode_jpeg(bytes(lossless))
    sos = lossless.index(b"\xff\xda")
    ns = lossless[sos + 4]
    lossless[sos + 5 + 2 * ns] = 1  # Ss: predictor 1
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(lossless))


def _pin_raster(w: int, h: int) -> bytes:
    return bytes(
        (x * 31 + y * 17 + c * 90 + (x * y) % 13) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )


def _pin_gray(w: int, h: int, scale: int) -> list[int]:
    return [((x * 29 + y * 11 + (x ^ y)) % 256) * scale for y in range(h) for x in range(w)]


# sha256 of the encoders' bytes, recorded before the baseline and
# progressive encoders shared their setup and header writer
_JPEG_PINS = [
    ("baseline-444-q85", lambda: encode_jpeg(24, 16, _pin_raster(24, 16), 85),
     "e8f52ba218e26d27bc70d50bfd2b0b9fbb77a46ba3fa53beb33be4b90e59d9fd"),
    ("baseline-420-q50", lambda: encode_jpeg(24, 16, _pin_raster(24, 16), 50, subsample=True),
     "46e611ec319bb5c364d335f1b883081e5c6a384ac967645d3f7ac87b14ec1763"),
    ("baseline-420-q85-rst2",
     lambda: encode_jpeg(17, 13, _pin_raster(17, 13), 85, subsample=True, restart_interval=2),
     "49629602c5ea589d5c033eedfa9839013574bf52ef27fc47a447e0be10ceb64d"),
    ("baseline-444-q10-rst1", lambda: encode_jpeg(9, 7, _pin_raster(9, 7), 10, restart_interval=1),
     "782945901fffe60a5d2589b2a0e9e62fae635ba36142e22ef4d3200cde43cec1"),
    ("progressive-444-q85", lambda: encode_jpeg_progressive(24, 16, _pin_raster(24, 16), 85),
     "a76b50a280fb64d5173f90ae41b5a3fe5d7a9366b774fabfaa0a862d155c4dd1"),
    ("progressive-420-q50",
     lambda: encode_jpeg_progressive(17, 13, _pin_raster(17, 13), 50, subsample=True),
     "8ded2ff1ac107bb9a0b8630b7ca193316889604f9f056ad16b5fa87887a202e6"),
    ("lossless-8bit", lambda: encode_jpeg_lossless(16, 16, _pin_gray(16, 16, 1)),
     "cc34fac08f047d14755534c3bb4ae7e8581106c1723fc25d605ca6401820fa3f"),
    ("lossless-12bit-pred7",
     lambda: encode_jpeg_lossless(13, 9, _pin_gray(13, 9, 16), precision=12, predictor=7),
     "bc2b925568a66ad4c6cf544d0b7a6ebe144d7a76e6c7efe34de2e9a494301634"),
]


@pytest.mark.parametrize(
    "encode, digest", [pytest.param(e, d, id=name) for name, e, d in _JPEG_PINS]
)
def test_jpeg_encoder_bytes_pinned(encode, digest):
    assert hashlib.sha256(encode()).hexdigest() == digest
