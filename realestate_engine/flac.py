"""Pure-stdlib FLAC codec (encode + decode).

Closes the *entropy-coded* audio stub for the lossless case: FLAC is
rice-coded linear prediction over a bit-packed framing layer — all
integer arithmetic, no DSP libraries needed, so gating it behind
``NotImplementedError`` (multimodal.decode_audio_stub before this
round) was a wider boundary than necessary. Perceptual codecs
(MP3/Ogg-Vorbis) stay honestly stubbed — those need MDCT +
psychoacoustic models, i.e. real codec libraries this container lacks.

Encoder scope (a valid subset any conforming decoder reads): 16-bit
PCM, 1-2 channels, fixed predictors (orders 0-4, chosen per subframe
by residual cost), CONSTANT subframes, stereo decorrelation
(independent / left-side / right-side / mid-side, chosen per frame by
cost), single-partition Rice coding with escape, proper CRC-8 frame
headers, CRC-16 frame footers, and the STREAMINFO MD5 of the
unencoded audio. Decoder scope: everything the format allows for
8/16/24-bit fixed-blocksize streams — CONSTANT, VERBATIM, FIXED and
LPC subframes, wasted bits, all four channel assignments, Rice
partitions of any order with escapes — with CRC-8/CRC-16/MD5
verification (``ValueError`` on corruption).

Used by ``multimodal.decode_audio_stub`` (fLaC payloads now decode
for real) and the ``mm_flac_roundtrip`` query, whose headline boolean
is sample-exactness: FLAC is lossless, so decode(encode(x)) == x.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TABLE[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TABLE[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.buf.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.put(0, 8 - self.nbits)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0


def _utf8_number(w: _BitWriter, value: int) -> None:
    """Frame numbers use UTF-8-style coding (T.81 of the FLAC spec)."""
    if value < 0x80:
        w.put(value, 8)
        return
    for nbytes, lead, lead_bits in ((2, 0b110, 3), (3, 0b1110, 4), (4, 0b11110, 5), (5, 0b111110, 6), (6, 0b1111110, 7)):
        payload_bits = 8 - lead_bits - 1 + 6 * (nbytes - 1)
        if value < (1 << payload_bits):
            w.put(lead, lead_bits)
            w.put(value >> (6 * (nbytes - 1)), 8 - lead_bits - 1 + 1)
            for i in range(nbytes - 2, -1, -1):
                w.put(0b10, 2)
                w.put((value >> (6 * i)) & 0x3F, 6)
            return
    raise ValueError("frame number too large")


def _read_utf8_number(r: _BitReader) -> int:
    first = r.bits(8)
    if first < 0x80:
        return first
    n = 0
    probe = first
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n == 0:
        raise ValueError("bad UTF-8 frame number")
    value = first & (0x3F >> n)
    for _ in range(n):
        b = r.bits(8)
        if (b >> 6) != 0b10:
            raise ValueError("bad UTF-8 continuation")
        value = (value << 6) | (b & 0x3F)
    return value


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: list[int], order: int) -> list[int]:
    coefs = _FIXED_COEFS[order]
    return [
        x[i] - sum(c * x[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(x))
    ]


def _rice_cost(res: list[int], k: int) -> int:
    return sum(((r << 1) ^ (r >> 63) if r >= 0 else ((-r) << 1) - 1) >> k for r in res) + len(res) * (k + 1)


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else ((-r) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _write_residuals(w: _BitWriter, res: list[int], bps_raw: int) -> None:
    """Single-partition Rice coding (method 0, partition order 0) with
    the 0b1111 escape to raw bits when Rice would be wasteful."""
    w.put(0, 2)  # residual coding method: 4-bit rice params
    w.put(0, 4)  # partition order 0 -> one partition
    best_k, best_cost = 0, None
    for k in range(15):
        cost = sum(_zigzag(r) >> k for r in res) + len(res) * (k + 1)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
    raw_cost = len(res) * bps_raw
    if best_cost is not None and best_cost > raw_cost:
        w.put(0b1111, 4)  # escape: raw residuals
        w.put(bps_raw, 5)
        for r in res:
            w.put(r & ((1 << bps_raw) - 1), bps_raw)
        return
    w.put(best_k, 4)
    for r in res:
        u = _zigzag(r)
        w.put_unary(u >> best_k)
        if best_k:
            w.put(u & ((1 << best_k) - 1), best_k)


def _read_residuals(r: _BitReader, n: int, predictor_order: int, blocksize: int) -> list[int]:
    method = r.bits(2)
    if method not in (0, 1):
        raise ValueError(f"unknown residual coding method {method}")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    porder = r.bits(4)
    out: list[int] = []
    nparts = 1 << porder
    for part in range(nparts):
        count = blocksize >> porder
        if part == 0:
            count -= predictor_order
        param = r.bits(param_bits)
        if param == escape:
            raw = r.bits(5)
            out.extend(r.signed(raw) if raw else 0 for _ in range(count))
        else:
            for _ in range(count):
                u = (r.unary() << param) | (r.bits(param) if param else 0)
                out.append(_unzigzag(u))
    if len(out) != n:
        raise ValueError("residual count mismatch")
    return out


def _write_subframe(w: _BitWriter, x: list[int], bps: int) -> None:
    """CONSTANT if flat, else the best FIXED order 0-4 by Rice cost."""
    w.put(0, 1)  # zero pad bit
    if all(v == x[0] for v in x):
        w.put(0b000000, 6)
        w.put(0, 1)  # no wasted bits
        w.put(x[0] & ((1 << bps) - 1), bps)
        return
    best_order, best_res, best_cost = 0, x, None
    for order in range(5):
        if order >= len(x):
            break
        res = _fixed_residual(x, order)
        cost = min(_rice_cost(res, k) for k in range(15)) + order * bps
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    if best_cost is not None and best_cost > len(x) * bps:
        w.put(0b000001, 6)  # VERBATIM beats prediction on noise
        w.put(0, 1)
        for v in x:
            w.put(v & ((1 << bps) - 1), bps)
        return
    w.put(0b001000 | best_order, 6)
    w.put(0, 1)  # no wasted bits
    for i in range(best_order):
        w.put(x[i] & ((1 << bps) - 1), bps)
    _write_residuals(w, best_res, bps)


def _read_subframe(r: _BitReader, blocksize: int, bps: int) -> list[int]:
    if r.bits(1) != 0:
        raise ValueError("bad subframe pad bit")
    stype = r.bits(6)
    wasted = 0
    if r.bits(1):
        wasted = r.unary() + 1
        bps -= wasted
    if stype == 0b000000:  # CONSTANT
        v = r.signed(bps)
        x = [v] * blocksize
    elif stype == 0b000001:  # VERBATIM
        x = [r.signed(bps) for _ in range(blocksize)]
    elif (stype & 0b111000) == 0b001000 and (stype & 0b000111) <= 4:  # FIXED
        order = stype & 0b000111
        x = [r.signed(bps) for _ in range(order)]
        res = _read_residuals(r, blocksize - order, order, blocksize)
        coefs = _FIXED_COEFS[order]
        for i, e in enumerate(res):
            x.append(e + sum(c * x[order + i - 1 - j] for j, c in enumerate(coefs)))
    elif stype & 0b100000:  # LPC
        order = (stype & 0b011111) + 1
        x = [r.signed(bps) for _ in range(order)]
        precision = r.bits(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision")
        shift = r.signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.signed(precision) for _ in range(order)]
        res = _read_residuals(r, blocksize - order, order, blocksize)
        for i, e in enumerate(res):
            pred = sum(c * x[order + i - 1 - j] for j, c in enumerate(coefs)) >> shift
            x.append(e + pred)
    else:
        raise ValueError(f"reserved subframe type {stype:06b}")
    if wasted:
        x = [v << wasted for v in x]
    return x


def encode_flac(
    sample_rate: int,
    channels: int,
    samples: list[int],
    blocksize: int = 1024,
) -> bytes:
    """Encode interleaved signed 16-bit samples (frame-major, like
    encode_wav) as a FLAC stream: STREAMINFO + fixed-blocksize frames,
    per-frame stereo-decorrelation choice, per-subframe fixed-predictor
    choice, Rice-coded residuals, CRC-8/CRC-16, audio MD5."""
    bps = 16
    if not 1 <= channels <= 2:
        raise NotImplementedError("FLAC encode supports 1-2 channels")
    if len(samples) % channels:
        raise ValueError("sample count is not a whole number of frames")
    if any(not -32768 <= s <= 32767 for s in samples):
        raise ValueError("sample out of 16-bit range")
    n_frames_total = len(samples) // channels

    md5 = hashlib.md5(struct.pack(f"<{len(samples)}h", *samples)).digest()

    # STREAMINFO
    info = _BitWriter()
    info.put(blocksize, 16)  # min blocksize
    info.put(blocksize, 16)  # max blocksize
    info.put(0, 24)  # min framesize unknown
    info.put(0, 24)  # max framesize unknown
    info.put(sample_rate, 20)
    info.put(channels - 1, 3)
    info.put(bps - 1, 5)
    info.put(n_frames_total, 36)
    streaminfo = bytes(info.buf) + md5

    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo  # last block

    frame_no = 0
    for start in range(0, n_frames_total, blocksize):
        nb = min(blocksize, n_frames_total - start)
        chans = [
            samples[(start + i) * channels + c]
            for c in range(channels)
            for i in range(nb)
        ]
        planes = [chans[c * nb : (c + 1) * nb] for c in range(channels)]

        # channel assignment: cost-pick among independent / L-S / R-S / M-S
        assignment = channels - 1
        sub_planes = planes
        sub_bps = [bps] * channels
        if channels == 2:
            left, right = planes
            side = [left[i] - right[i] for i in range(nb)]
            mid = [(left[i] + right[i]) >> 1 for i in range(nb)]

            def cost(p: list[int]) -> int:
                return sum(abs(_fixed_residual(p, min(2, len(p) - 1))[i]) for i in range(len(p) - min(2, len(p) - 1))) if len(p) > 1 else abs(p[0])

            options = [
                (cost(left) + cost(right), 1, [left, right], [bps, bps]),
                (cost(left) + cost(side), 8, [left, side], [bps, bps + 1]),
                (cost(right) + cost(side), 9, [side, right], [bps + 1, bps]),
                (cost(mid) + cost(side), 10, [mid, side], [bps, bps + 1]),
            ]
            _, assignment, sub_planes, sub_bps = min(options, key=lambda o: o[0])

        w = _BitWriter()
        w.put(0b11111111111110, 14)  # sync
        w.put(0, 1)  # reserved
        w.put(0, 1)  # fixed blocksize stream
        w.put(0b0111, 4)  # blocksize: 16 bits at header end
        w.put(0b0000, 4)  # sample rate: from STREAMINFO
        w.put(assignment, 4)
        w.put(0b100, 3)  # 16 bps
        w.put(0, 1)  # reserved
        _utf8_number(w, frame_no)
        w.put(nb - 1, 16)
        w.align()
        header = bytes(w.buf)
        w.put(_crc8(header), 8)

        for plane, pbps in zip(sub_planes, sub_bps):
            _write_subframe(w, plane, pbps)
        w.align()
        body = bytes(w.buf)
        out += body + struct.pack(">H", _crc16(body))
        frame_no += 1
    return bytes(out)


def _walk(payload: bytes) -> Iterator:
    """The one FLAC stream walk behind decode_flac and
    audit_flac_frames: metadata blocks, STREAMINFO, then every frame's
    header, subframes and stereo decorrelation.

    It first yields the stream dict — sample_rate, channels, bits and
    total from STREAMINFO, plus a ``frames`` list — which it fills in
    as it goes: one ``{"blocksize", "crc8_ok", "crc16_ok"}`` entry per
    frame, then ``n_frames``, the interleaved ``samples`` and
    ``md5_ok``. After that it yields one ``(message, ok)`` pair per
    integrity check, in stream order: each frame's header CRC-8 (before
    its subframes are read) and CRC-16, the frame count against
    STREAMINFO, and the audio MD5. The stored checksums are read but
    are not inputs to the bit-level parse, so a mismatch does not stop
    the walk. Structural faults (bad magic, no STREAMINFO, lost sync,
    reserved codes, truncation) raise ValueError from the walk."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        if btype == 0:
            streaminfo = payload[pos + 4 : pos + 4 + blen]
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing STREAMINFO")
    r = _BitReader(streaminfo)
    r.bits(16)  # min blocksize
    r.bits(16)  # max blocksize
    r.bits(24)
    r.bits(24)
    sample_rate = r.bits(20)
    channels = r.bits(3) + 1
    bps = r.bits(5) + 1
    total = r.bits(36)
    md5_expect = streaminfo[18:34]
    stream = {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": bps,
        "total": total,
        "frames": [],
    }
    yield stream

    out: list[list[int]] = [[] for _ in range(channels)]
    while pos < len(payload):
        frame_start = pos
        r = _BitReader(payload, pos)
        if r.bits(14) != 0b11111111111110:
            raise ValueError("lost frame sync")
        r.bits(1)  # reserved
        r.bits(1)  # blocking strategy
        bs_code = r.bits(4)
        sr_code = r.bits(4)
        assignment = r.bits(4)
        ss_code = r.bits(3)
        r.bits(1)
        _read_utf8_number(r)
        if bs_code == 0b0110:
            nb = r.bits(8) + 1
        elif bs_code == 0b0111:
            nb = r.bits(16) + 1
        elif bs_code == 0b0001:
            nb = 192
        elif 0b0010 <= bs_code <= 0b0101:
            nb = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            nb = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved blocksize code")
        if sr_code in (0b1100,):
            r.bits(8)
        elif sr_code in (0b1101, 0b1110):
            r.bits(16)
        frame_bps = {0b100: 16, 0b001: 8, 0b010: 12, 0b101: 20, 0b110: 24}.get(ss_code, bps)
        r.align()
        header_crc = _crc8(payload[frame_start : r.pos])
        frame = {"blocksize": nb, "crc8_ok": r.bits(8) == header_crc}
        stream["frames"].append(frame)
        yield "frame header CRC-8 mismatch", frame["crc8_ok"]

        if assignment <= 7:
            planes = [_read_subframe(r, nb, frame_bps) for _ in range(assignment + 1)]
        elif assignment == 8:  # left/side
            left = _read_subframe(r, nb, frame_bps)
            side = _read_subframe(r, nb, frame_bps + 1)
            planes = [left, [left[i] - side[i] for i in range(nb)]]
        elif assignment == 9:  # right/side (side stored first)
            side = _read_subframe(r, nb, frame_bps + 1)
            right = _read_subframe(r, nb, frame_bps)
            planes = [[right[i] + side[i] for i in range(nb)], right]
        elif assignment == 10:  # mid/side
            mid = _read_subframe(r, nb, frame_bps)
            side = _read_subframe(r, nb, frame_bps + 1)
            planes = [[0] * nb, [0] * nb]
            for i in range(nb):
                m = (mid[i] << 1) | (side[i] & 1)
                planes[0][i] = (m + side[i]) >> 1
                planes[1][i] = (m - side[i]) >> 1
        else:
            raise ValueError(f"reserved channel assignment {assignment}")
        if len(planes) != channels:
            raise ValueError("frame channel count != STREAMINFO")
        r.align()
        frame_crc = _crc16(payload[frame_start : r.pos])
        frame["crc16_ok"] = r.bits(16) == frame_crc
        pos = r.pos
        for c in range(channels):
            out[c].extend(planes[c])
        yield "frame CRC-16 mismatch", frame["crc16_ok"]

    n_frames = min(len(p) for p in out) if out else 0
    stream["n_frames"] = n_frames
    stream["samples"] = samples = [out[c][i] for i in range(n_frames) for c in range(channels)]
    yield "decoded frame count != STREAMINFO total", not total or n_frames == total
    stream["md5_ok"] = (
        bps != 16 or md5_expect == b"\x00" * 16 or _pcm16_md5(samples) == md5_expect
    )
    yield "audio MD5 mismatch", stream["md5_ok"]


def _pcm16_md5(samples: list[int]) -> bytes | None:
    """MD5 of the samples as little-endian 16-bit PCM, or None when a
    sample does not fit 16 bits (then it cannot be the encoded audio)."""
    try:
        return hashlib.md5(struct.pack(f"<{len(samples)}h", *samples)).digest()
    except struct.error:
        return None


def decode_flac(payload: bytes) -> dict:
    """Decode a FLAC stream into params + interleaved signed samples
    (same dict shape as decode_wav). Verifies frame-header CRC-8,
    frame CRC-16, the STREAMINFO frame count and the audio MD5, and
    raises ValueError at the first failed check in stream order — a
    flipped bit anywhere raises instead of returning wrong samples."""
    walk = _walk(payload)
    stream = next(walk)
    for message, ok in walk:
        if not ok:
            raise ValueError(message)
    return {k: stream[k] for k in ("sample_rate", "channels", "bits", "n_frames", "samples")}


def audit_flac_frames(payload: bytes) -> dict:
    """Frame walk that RECORDS integrity (per-frame header CRC-8 and
    frame CRC-16, plus the STREAMINFO audio MD5 over the decoded
    samples) instead of raising — the audio-codec counterpart of
    multimodal.audit_png_chunks / ogg.audit_ogg_pages. Structural errors
    (bad magic, lost sync, truncation) still raise: a stream the
    walker cannot even traverse is quarantine-on-sight, while a
    checksum mismatch is exactly what the audit exists to report.

    The walk stays structurally sound under checksum corruption
    because the STORED checksums (one byte after the aligned header,
    two bytes after the aligned frame body) are not inputs to the
    bit-level parse — unlike a residual bit flip, which would desync
    the Rice decoder; callers planting corruption must target the
    checksum bytes or the STREAMINFO MD5 (see mm_flac_crc_audit)."""
    walk = _walk(payload)
    stream = next(walk)
    for _check in walk:
        pass
    return {k: stream[k] for k in ("sample_rate", "channels", "total", "frames", "md5_ok")}
