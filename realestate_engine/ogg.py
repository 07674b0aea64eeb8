"""Pure-stdlib Ogg page parser + minimal Vorbis header writer.

The audio-side counterpart of mp4.py: an Ogg physical stream is a
sequence of ``OggS`` pages (27-byte header + lacing table + payload),
each protected by the Ogg flavor of CRC-32 (poly 0x04c11db7, no
reflection, zero init/xorout — NOT zlib.crc32). Container-level
metadata — serial, page count, the Vorbis identification header's
sample rate/channels, the comment header's vendor + user tags, and
the last page's granule position (= total PCM frames, so duration
falls out without touching a single codebook) — needs no
psychoacoustics. This is the probe pass a 100 TB audio corpus runs
first: route/filter/dedup on container facts, decode samples
(stubbed here — Vorbis DSP isn't in this container) only for the
rows that survive.

Scope: page walk with CRC verification, BOS/EOS flags, packet
reassembly across lacing values, Vorbis identification (packet 0x01)
and comment (packet 0x03) headers. Malformed structure raises
``ValueError``; the setup header / audio packets raise
``NotImplementedError`` — the honest codec boundary.

Used by the ``mm_ogg_probe`` query, whose DuckDB oracle recomputes
every emitted field analytically from the generation parameters
(the same contract as mm_mp4_probe; reference repo has no media
surface at all — this is pure 100 TB corpus machinery).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

_CRC_TABLE: list[int] = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 else (_r << 1) & 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def ogg_crc(data: bytes) -> int:
    """Ogg's CRC-32: polynomial 0x04c11db7, unreflected, init 0, no
    final xor (distinct from zlib.crc32 on all three counts)."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def _page(serial: int, seq: int, granule: int, packets: list[bytes], header_type: int) -> bytes:
    """One Ogg page holding whole packets (each <255*255 bytes here, so
    lacing is the simple 255...rem form, remainder <255 terminating)."""
    lacing = bytearray()
    body = bytearray()
    for p in packets:
        n = len(p)
        while n >= 255:
            lacing.append(255)
            n -= 255
        lacing.append(n)  # final lacing value <255 terminates the packet
        body += p
    header = (
        b"OggS"
        + struct.pack("<BBqIII", 0, header_type, granule, serial, seq, 0)
        + bytes([len(lacing)])
        + bytes(lacing)
    )
    page = bytearray(header + bytes(body))
    crc = ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def encode_minimal_ogg_vorbis(
    sample_rate: int,
    channels: int,
    comments: list[tuple[str, str]],
    serial: int = 1,
    granule: int = 0,
    vendor: str = "realestate_engine",
) -> bytes:
    """Minimal-but-valid Ogg Vorbis header stream: page 0 (BOS) carries
    the identification header, page 1 the comment header, page 2 (EOS)
    an empty audio page whose granule position records total frames."""
    ident = (
        b"\x01vorbis"
        + struct.pack("<IBI", 0, channels, sample_rate)
        + struct.pack("<iii", 0, 128_000, 0)
        + bytes([0x88])  # blocksizes 2^8 / 2^8
        + b"\x01"  # framing bit
    )
    vb = vendor.encode()
    comm = b"\x03vorbis" + struct.pack("<I", len(vb)) + vb + struct.pack("<I", len(comments))
    for k, v in comments:
        kv = f"{k}={v}".encode()
        comm += struct.pack("<I", len(kv)) + kv
    comm += b"\x01"  # framing bit
    return (
        _page(serial, 0, 0, [ident], 0x02)
        + _page(serial, 1, 0, [comm], 0x00)
        + _page(serial, 2, granule, [], 0x04)
    )


def _pages(payload: bytes) -> Iterator[dict]:
    """The one Ogg page walk behind parse_ogg and audit_ogg_pages: yields
    one dict per page — {"version", "header_type", "granule", "serial",
    "seq", "lacing", "body", "crc_ok"} — with the CRC recomputed over
    the page (its CRC field zeroed). A CRC mismatch is recorded, not
    raised; structure errors (no capture pattern, lost sync,
    truncation) raise ValueError, because a stream whose lacing walk is
    broken has no well-defined page sequence."""
    if payload[:4] != b"OggS":
        raise ValueError("not an Ogg stream (no OggS capture pattern)")
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError(f"lost page sync at byte {pos}")
        if pos + 27 > len(payload):
            raise ValueError("truncated page header")
        version, htype, gpos, serial, seq, crc = struct.unpack_from("<BBqIII", payload, pos + 4)
        nseg = payload[pos + 26]
        lacing = payload[pos + 27 : pos + 27 + nseg]
        if len(lacing) < nseg:
            raise ValueError("truncated lacing table")
        body_at = pos + 27 + nseg
        page_end = body_at + sum(lacing)
        if page_end > len(payload):
            raise ValueError("page body overruns stream")
        check = bytearray(payload[pos:page_end])
        check[22:26] = b"\x00\x00\x00\x00"
        yield {
            "version": version,
            "header_type": htype,
            "granule": gpos,
            "serial": serial,
            "seq": seq,
            "lacing": lacing,
            "body": payload[body_at:page_end],
            "crc_ok": ogg_crc(bytes(check)) == crc,
        }
        pos = page_end


def parse_ogg(payload: bytes) -> dict:
    """Walk an Ogg physical stream, verifying every page CRC; parse the
    Vorbis identification + comment headers. Returns ``{"serial",
    "n_pages", "sample_rate", "channels", "vendor", "n_comments",
    "comments", "granule", "duration_ms"}``."""
    n_pages, serial = 0, None
    granule = 0
    packets: list[bytes] = []
    partial = b""
    for page in _pages(payload):
        if page["version"] != 0:
            raise ValueError(f"Ogg stream structure version {page['version']} unknown")
        if not page["crc_ok"]:
            raise ValueError(f"page {n_pages} CRC mismatch")
        serial = page["serial"] if serial is None else serial
        if page["serial"] != serial:
            raise ValueError("multiplexed streams not supported")
        if page["granule"] >= 0:
            granule = page["granule"]
        at = 0
        for lv in page["lacing"]:
            partial += page["body"][at : at + lv]
            at += lv
            if lv < 255:  # packet terminates
                packets.append(partial)
                partial = b""
        n_pages += 1
    if partial:
        raise ValueError("stream ends mid-packet")
    if not packets or packets[0][:7] != b"\x01vorbis":
        raise ValueError("first packet is not a Vorbis identification header")
    ident = packets[0]
    _vver, channels, sample_rate = struct.unpack_from("<IBI", ident, 7)
    if ident[-1] & 0x01 != 1:
        raise ValueError("identification header framing bit unset")
    out = {
        "serial": serial,
        "n_pages": n_pages,
        "sample_rate": sample_rate,
        "channels": channels,
        "vendor": None,
        "n_comments": 0,
        "comments": {},
        "granule": granule,
        "duration_ms": granule * 1000 // sample_rate if sample_rate else 0,
    }
    if len(packets) > 1:
        comm = packets[1]
        if comm[:7] != b"\x03vorbis":
            raise ValueError("second packet is not a Vorbis comment header")
        at = 7
        (vlen,) = struct.unpack_from("<I", comm, at)
        at += 4
        out["vendor"] = comm[at : at + vlen].decode("utf-8")
        at += vlen
        (nc,) = struct.unpack_from("<I", comm, at)
        at += 4
        out["n_comments"] = nc
        for _ in range(nc):
            (clen,) = struct.unpack_from("<I", comm, at)
            at += 4
            k, _, v = comm[at : at + clen].decode("utf-8").partition("=")
            out["comments"][k.upper()] = v
            at += clen
        if comm[at] & 0x01 != 1:
            raise ValueError("comment header framing bit unset")
    if len(packets) > 2:
        raise NotImplementedError("Vorbis setup/audio packets (DSP) are stubbed in this environment")
    return out


def audit_ogg_pages(payload: bytes) -> list[dict]:
    """Structural page walk that RECORDS per-page CRC validity instead
    of raising (the integrity-audit counterpart of parse_ogg, which
    rejects the stream at the first bad page): returns one dict per
    page — {"seq", "header_type", "granule", "body_bytes", "crc_ok"}.
    Structure errors (lost sync, truncation) still raise: a stream
    whose lacing walk is broken has no well-defined page census, while
    a bit-flipped body is exactly what the CRC exists to catch."""
    return [
        {
            "seq": page["seq"],
            "header_type": page["header_type"],
            "granule": page["granule"],
            "body_bytes": len(page["body"]),
            "crc_ok": page["crc_ok"],
        }
        for page in _pages(payload)
    ]
