"""Pure-python FLAC codec (subset): CONSTANT / VERBATIM / FIXED
subframes with Rice-coded residuals, mono 16-bit.

Implements the public FLAC format spec (RFC 9639 / xiph.org format.html)
from scratch — the multimodal fixture's audio rows can ship REAL .flac
payloads and the Spark decode path walks genuine frames, mirroring the
PNG (RFC 2083) codec in this package. FLAC is lossless, so round-trips
are asserted bit-exact.

Supported on decode: mono streams, 8/16/24-bit samples, CONSTANT,
VERBATIM and FIXED(0-4) subframes, any Rice partition order, both 4- and
5-bit Rice parameter widths, escape partitions, wasted bits; frame CRC-8
/ CRC-16 and the STREAMINFO sample-MD5 are verified. LPC subframes and
multichannel raise ValueError (honest refusal -> corrupt routing).

The reference never decodes media; this implements SURVEY §2.11's
multimodal-column surface (decode stage of the binary-payload contract).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_MAGIC = b"fLaC"
_BLOCK = 4096


# ---------------------------------------------------------------------------
# bit I/O (MSB-first, like the spec)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, val: int, n: int) -> None:
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 24:
            self.write(0, 24)
            q -= 24
        self.write(1, q + 1)          # q zeros then the terminating 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.bytepos = pos
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.bytepos >= len(self.d):
                raise ValueError("FLAC truncated mid-frame")
            self.acc = (self.acc << 8) | self.d[self.bytepos]
            self.bytepos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC runaway unary code")
        return q

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0


# ---------------------------------------------------------------------------
# CRCs [spec: CRC-8 poly x^8+x^2+x+1, CRC-16 poly x^16+x^15+x^2+1]
# ---------------------------------------------------------------------------


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _utf8_encode(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (7 - nbytes + 6 * (nbytes - 1))) and nbytes < 7:
        nbytes += 1
    for i in range(nbytes - 1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    lead = (0xFF << (8 - nbytes)) & 0xFF
    out.append(lead | (n >> (6 * (nbytes - 1))))
    return bytes(reversed(out))


def _utf8_decode(rd: _BitReader) -> int:
    b0 = rd.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad FLAC coded number")
    n = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = rd.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded number continuation")
        n = (n << 6) | (b & 0x3F)
    return n


# ---------------------------------------------------------------------------
# fixed predictors: residual = order-k finite difference of the signal
# [spec §9.2.1: the four fixed polynomial predictors]
# ---------------------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v << 1, (-v << 1) - 1).astype(np.int64)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _undiff(res: np.ndarray, warm: np.ndarray, order: int) -> np.ndarray:
    """Invert the order-k difference: k cumulative sums seeded from the
    warmup samples' difference pyramid."""
    if order == 0:
        return res
    levels = [warm.astype(np.int64)]
    for _ in range(order):
        levels.append(np.diff(levels[-1]))
    out = res.astype(np.int64)
    for j in range(order, 0, -1):
        seed = levels[j - 1][-1]
        out = seed + np.cumsum(out)
    return np.concatenate([warm.astype(np.int64), out])


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _encode_residual(w: _BitWriter, res: np.ndarray) -> None:
    """Rice coding, method 00 (4-bit params), partition order 0."""
    w.write(0, 2)                      # coding method: rice (4-bit)
    w.write(0, 4)                      # partition order 0
    u = _zigzag(res)
    mean = float(u.mean()) if len(u) else 0.0
    p = 0
    while (1 << (p + 1)) < mean + 1 and p < 14:
        p += 1
    w.write(p, 4)
    for uu in u.tolist():
        w.write_unary(uu >> p)
        if p:
            w.write(uu & ((1 << p) - 1), p)


def _rice_cost(res: np.ndarray) -> int:
    u = _zigzag(res)
    mean = float(u.mean()) if len(u) else 0.0
    p = 0
    while (1 << (p + 1)) < mean + 1 and p < 14:
        p += 1
    return int((u >> p).sum()) + len(u) * (1 + p) + 10


def encode_flac(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 mono samples as a REAL FLAC stream (fixed 4096-sample
    blocks; per-block best of CONSTANT / FIXED(0-2) / VERBATIM)."""
    s = np.asarray(samples, dtype=np.int64)
    if s.size == 0:
        raise ValueError("FLAC needs at least one sample")
    out = bytearray(_MAGIC)
    info = _BitWriter()
    info.write(_BLOCK, 16)             # min block
    info.write(_BLOCK, 16)             # max block
    info.write(0, 24)                  # min frame size (unknown)
    info.write(0, 24)                  # max frame size (unknown)
    info.write(sample_rate, 20)
    info.write(0, 3)                   # channels - 1 (mono)
    info.write(15, 5)                  # bits per sample - 1 (16)
    info.write(len(s), 36)
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    out += b"\x80" + struct.pack(">I", 34)[1:]   # last-block flag, type 0
    out += info.bytes() + md5

    for fi, start in enumerate(range(0, len(s), _BLOCK)):
        block = s[start:start + _BLOCK]
        bs = len(block)
        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)                # reserved
        hdr.write(0, 1)                # fixed-blocksize strategy
        hdr.write(0b0111, 4)           # blocksize: 16 bits at end
        hdr.write(0b0000, 4)           # sample rate: from STREAMINFO
        hdr.write(0b0000, 4)           # channels: mono
        hdr.write(0b100, 3)            # sample size: 16
        hdr.write(0, 1)                # reserved
        hb = hdr.bytes() + _utf8_encode(fi) + struct.pack(">H", bs - 1)
        body = _BitWriter()
        for b in hb:
            body.write(b, 8)
        body.write(_crc8(hb), 8)

        if np.all(block == block[0]):
            body.write(0, 1)
            body.write(0b000000, 6)    # CONSTANT
            body.write(0, 1)
            body.write(int(block[0]), 16)
        else:
            best, cost = None, bs * 16
            for order in range(0, 3):
                if bs <= order:
                    continue
                res = np.diff(block, n=order)
                c = _rice_cost(res) + order * 16
                if c < cost:
                    best, cost = (order, res), c
            if best is None:           # VERBATIM
                body.write(0, 1)
                body.write(0b000001, 6)
                body.write(0, 1)
                for v in block.tolist():
                    body.write(int(v), 16)
            else:
                order, res = best
                body.write(0, 1)
                body.write(0b001000 | order, 6)   # FIXED
                body.write(0, 1)
                for v in block[:order].tolist():
                    body.write(int(v), 16)
                _encode_residual(body, res)
        body.align()
        fb = body.bytes()
        out += fb + struct.pack(">H", _crc16(fb))
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a mono FLAC stream; returns (int samples, sample_rate).
    Raises ValueError on multichannel / LPC / corrupt input."""
    if payload[:4] != _MAGIC:
        raise ValueError("not a FLAC")
    pos = 4
    sample_rate = bps = total = None
    md5 = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC truncated in metadata")
        last = payload[pos] & 0x80
        btype = payload[pos] & 0x7F
        ln = int.from_bytes(payload[pos + 1:pos + 4], "big")
        if btype == 0:
            rd = _BitReader(payload, pos + 4)
            rd.read(16)                          # min block
            rd.read(16)                          # max block
            rd.read(24)
            rd.read(24)
            sample_rate = rd.read(20)
            nch = rd.read(3) + 1
            bps = rd.read(5) + 1
            total = rd.read(36)
            if nch != 1:
                raise ValueError(
                    f"unsupported FLAC ({nch} channels; need mono)")
            if bps not in (8, 16, 24):
                raise ValueError(f"unsupported FLAC bit depth {bps}")
            md5 = payload[pos + 4 + 18:pos + 4 + 34]
        pos += 4 + ln
        if last:
            break
    if sample_rate is None:
        raise ValueError("FLAC missing STREAMINFO")
    if not total:
        # total_samples=0 is the spec's "unknown length" marker
        # (streamed encoders); refusing beats silently returning zero
        # samples with ok=True
        raise ValueError("unsupported FLAC (unknown total_samples)")

    out: list[np.ndarray] = []
    got = 0
    while got < total and pos < len(payload):
        frame_start = pos
        rd = _BitReader(payload, pos)
        if rd.read(14) != 0b11111111111110:
            raise ValueError("bad FLAC frame sync")
        rd.read(1)
        rd.read(1)                                # blocking strategy
        bs_code = rd.read(4)
        sr_code = rd.read(4)
        ch_code = rd.read(4)
        ss_code = rd.read(3)
        rd.read(1)
        if ch_code != 0:
            raise ValueError("unsupported FLAC (not mono frame)")
        _utf8_decode(rd)
        if bs_code == 0b0110:
            bs = rd.read(8) + 1
        elif bs_code == 0b0111:
            bs = rd.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved FLAC blocksize code")
        if sr_code == 0b1100:
            rd.read(8)
        elif sr_code in (0b1101, 0b1110):
            rd.read(16)
        stored_crc8 = rd.read(8)
        if _crc8(payload[frame_start:rd.bytepos - 1]) != stored_crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if ss_code in (3, 7):
            # 0b011 reserved / 0b111 (32-bit) unsupported here: decoding
            # with a guessed bit depth would be silently wrong — take the
            # codec's honest-refusal path instead of relying on the frame
            # CRC to catch it incidentally (round-4 advice)
            raise ValueError(f"unsupported FLAC sample-size code {ss_code}")
        fbps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}.get(ss_code, bps)

        # subframe (mono: exactly one)
        if rd.read(1) != 0:
            raise ValueError("bad FLAC subframe padding bit")
        stype = rd.read(6)
        wasted = 0
        if rd.read(1):
            wasted = rd.read_unary() + 1
        eff = fbps - wasted
        if stype == 0:                             # CONSTANT
            block = np.full(bs, rd.read_signed(eff), np.int64)
        elif stype == 1:                           # VERBATIM
            block = np.array([rd.read_signed(eff) for _ in range(bs)],
                             np.int64)
        elif 8 <= stype <= 12:                     # FIXED order 0-4
            order = stype - 8
            warm = np.array([rd.read_signed(eff) for _ in range(order)],
                            np.int64)
            method = rd.read(2)
            if method > 1:
                raise ValueError("reserved FLAC residual method")
            pbits = 4 if method == 0 else 5
            escape = (1 << pbits) - 1
            po = rd.read(4)
            nparts = 1 << po
            if bs % nparts or (bs >> po) <= order and po:
                raise ValueError("bad FLAC partition order")
            res: list[int] = []
            for pi in range(nparts):
                cnt = (bs >> po) - (order if pi == 0 else 0)
                p = rd.read(pbits)
                if p == escape:
                    raw = rd.read(5)
                    res.extend(rd.read_signed(raw) if raw else 0
                               for _ in range(cnt))
                else:
                    for _ in range(cnt):
                        q = rd.read_unary()
                        u = (q << p) | (rd.read(p) if p else 0)
                        res.append(_unzigzag(u))
            block = _undiff(np.array(res, np.int64), warm, order)
        elif stype >= 32:
            raise ValueError("unsupported FLAC (LPC subframe)")
        else:
            raise ValueError("reserved FLAC subframe type")
        if wasted:
            block = block << wasted
        rd.align()
        end = rd.bytepos
        if end + 2 > len(payload):
            raise ValueError("FLAC truncated at frame CRC")
        stored = struct.unpack_from(">H", payload, end)[0]
        if _crc16(payload[frame_start:end]) != stored:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = end + 2
        out.append(block)
        got += bs

    samples = np.concatenate(out) if out else np.zeros(0, np.int64)
    if len(samples) < (total or 0):
        raise ValueError("FLAC truncated (fewer samples than STREAMINFO)")
    samples = samples[:total]
    if md5 and md5 != b"\0" * 16 and bps == 16:
        if hashlib.md5(samples.astype("<i2").tobytes()).digest() != md5:
            raise ValueError("FLAC MD5 mismatch (corrupt stream)")
    return samples, sample_rate
