"""FLAC codec — pure numpy + stdlib, no soundfile/ffmpeg.

Public-knowledge implementation from the FLAC format specification
(RFC 9639 / the public flac format documents at xiph.org):

- :func:`encode_flac` — 16-bit PCM, mono or independent-channel stereo,
  fixed blocking strategy, per-block best fixed predictor (orders 0-4) or
  constant subframe, Rice-coded residuals (partition order 0, coding
  method chosen by parameter size), STREAMINFO with the real MD5 of the
  unencoded PCM.
- :func:`decode_flac` — full subframe coverage (constant, verbatim,
  fixed 0-4, LPC), Rice methods 0 and 1 incl. the escape-to-verbatim
  code, any residual partition order, wasted bits, all four stereo
  channel assignments (independent, left/side, right/side, mid/side),
  UTF-8-coded frame numbers, header CRC-8 + frame CRC-16 verification,
  and the STREAMINFO MD5 check (lossless => decoded PCM must hash back).

Vectorization: Rice encode builds each partition's bit array with
whole-array numpy ops (terminator scatter + k broadcast bit columns);
fixed-predictor reconstruction inverts the o-th difference with o
cumulative sums (no per-sample loop). The Rice *decode* quotient walk and
LPC reconstruction are inherently sequential (each step depends on the
previous) and stay Python loops over samples — the same split as the JPEG
Huffman loop (functions/jpeg.py): in the multimodal pipeline parallelism
comes from Arrow batches across partitions, not from within one payload.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

# ---------------------------------------------------------------------------
# CRCs (FLAC spec: CRC-8 poly 0x07 init 0 over the frame header; CRC-16
# poly 0x8005 init 0 over the whole frame)
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> np.ndarray:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = np.empty(256, np.uint32)
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        tbl[b] = r
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    r = 0
    for b in data:
        r = int(_CRC8_TBL[r ^ b])
    return r


def _crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = int(_CRC16_TBL[((r >> 8) ^ b) & 0xFF]) ^ ((r << 8) & 0xFFFF)
    return r


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class _BitWriter:
    """MSB-first bit accumulator; bulk appends are numpy uint8 bit arrays."""

    def __init__(self) -> None:
        self._chunks: list[np.ndarray] = []

    def write(self, value: int, nbits: int) -> None:
        if nbits:
            shifts = np.arange(nbits - 1, -1, -1, dtype=np.uint64)
            self._chunks.append(
                ((int(value) & ((1 << nbits) - 1)) >> shifts & 1).astype(np.uint8)
            )

    def write_bits(self, bits: np.ndarray) -> None:
        self._chunks.append(bits.astype(np.uint8, copy=False))

    def nbits(self) -> int:
        return sum(c.size for c in self._chunks)

    def tobytes(self) -> bytes:
        if not self._chunks:
            return b""
        bits = np.concatenate(self._chunks)
        return np.packbits(bits).tobytes()  # packbits zero-pads the tail


class _BitReader:
    """MSB-first reader over the whole payload, with a precomputed set-bit
    index so Rice quotient scans are a searchsorted, not a bit loop."""

    def __init__(self, data: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(data, np.uint8))
        self.ones = np.flatnonzero(self.bits)
        self.pos = 0

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        p = self.pos
        if p + nbits > self.bits.size:
            raise ValueError("flac: bitstream truncated")
        sl = self.bits[p : p + nbits]
        self.pos = p + nbits
        # packbits right-pads the final byte with zeros: shift them off
        return int.from_bytes(np.packbits(sl).tobytes(), "big") >> (-nbits % 8)

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        """count of 0 bits before the next 1 bit (which is consumed)."""
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= self.ones.size:
            raise ValueError("flac: unary run past end of stream")
        term = int(self.ones[i])
        q = term - self.pos
        self.pos = term + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def read_bytes(self, n: int) -> bytes:
        self.align()
        byte_pos = self.pos >> 3
        out = np.packbits(self.bits[self.pos : self.pos + 8 * n]).tobytes()
        if len(out) < n:
            raise ValueError("flac: truncated")
        self.pos += 8 * n
        return out


# ---------------------------------------------------------------------------
# UTF-8-style coded number (frame header sample/frame number)
# ---------------------------------------------------------------------------


def _utf8_encode(val: int) -> bytes:
    if val < 0x80:
        return bytes([val])
    for nbytes, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8), (6, 0xFC), (7, 0xFE)):
        if val < (1 << (nbytes == 7 and 36 or (6 * (nbytes - 1) + (7 - nbytes)))):
            out = bytearray(nbytes)
            for i in range(nbytes - 1, 0, -1):
                out[i] = 0x80 | (val & 0x3F)
                val >>= 6
            out[0] = lead | val
            return bytes(out)
    raise ValueError("frame number too large")


def _utf8_decode(r: "_BitReader") -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    for n_try, lead, mask in (
        (1, 0xC0, 0x1F), (2, 0xE0, 0x0F), (3, 0xF0, 0x07),
        (4, 0xF8, 0x03), (5, 0xFC, 0x01), (6, 0xFE, 0x00),
    ):
        if (b0 & ~mask & 0xFF) == lead if mask else b0 == lead:
            n, val = n_try, b0 & mask
            break
    else:
        raise ValueError("flac: bad UTF-8 coded number")
    for _ in range(n):
        b = r.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("flac: bad UTF-8 continuation")
        val = (val << 6) | (b & 0x3F)
    return val


# ---------------------------------------------------------------------------
# Rice coding
# ---------------------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _best_rice_k(u: np.ndarray, kmax: int = 30) -> tuple[int, int]:
    """(k, total_bits) minimizing sum(u >> k) + n*(k+1), exact."""
    ks = np.arange(kmax + 1, dtype=np.uint64)
    cost = (u[None, :] >> ks[:, None]).sum(axis=1) + u.size * (ks + 1)
    k = int(np.argmin(cost))
    return k, int(cost[k])


def _rice_encode_bits(u: np.ndarray, k: int) -> np.ndarray:
    """Bit array for Rice(k) over zigzagged values: q zeros, a 1, k LSBs."""
    q = (u >> np.uint64(k)).astype(np.int64)
    lengths = q + 1 + k
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    total = int(lengths.sum())
    bits = np.zeros(total, np.uint8)
    term = starts + q
    bits[term] = 1
    if k:
        rem = u & np.uint64((1 << k) - 1)
        for j in range(k):  # loop over k (<=30), vectorized over samples
            bits[term + 1 + j] = ((rem >> np.uint64(k - 1 - j)) & np.uint64(1)).astype(
                np.uint8
            )
    return bits


def _rice_decode(r: "_BitReader", n: int, k: int) -> np.ndarray:
    out = np.empty(n, np.int64)
    kmask = (1 << k) - 1
    for i in range(n):
        q = r.read_unary()
        u = (q << k) | (r.read(k) if k else 0)
        out[i] = (u >> 1) ^ -(u & 1)
    return out


# ---------------------------------------------------------------------------
# fixed predictors
# ---------------------------------------------------------------------------


def _fixed_residual(sig: np.ndarray, order: int) -> np.ndarray:
    return np.diff(sig, n=order) if order else sig.copy()


def _fixed_restore(warmup: np.ndarray, res: np.ndarray, order: int) -> np.ndarray:
    """Invert o-th differencing: o cumulative integrations seeded from the
    warmup's forward differences; no per-sample loop."""
    if order == 0:
        return res
    cur = res
    for j in range(order - 1, -1, -1):
        seed = int(np.diff(warmup, n=j)[0]) if j else int(warmup[0])
        cur = np.cumsum(np.concatenate(([seed], cur)))
    return cur


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

_BLOCKSIZE = 4096


def _encode_subframe(w: "_BitWriter", sig: np.ndarray, bps: int) -> None:
    if np.all(sig == sig[0]):
        w.write(0, 1)          # pad
        w.write(0b000000, 6)   # constant
        w.write(0, 1)          # no wasted bits
        w.write(int(sig[0]) & ((1 << bps) - 1), bps)
        return
    # pick best fixed order by exact rice cost (partition order 0)
    best = None
    for order in range(min(4, sig.size - 1) + 1):
        res = _fixed_residual(sig, order)
        u = _zigzag(res)
        k, bits = _best_rice_k(u)
        cost = bits + order * bps
        if best is None or cost < best[0]:
            best = (cost, order, k, u)
    _cost, order, k, u = best
    w.write(0, 1)
    w.write(0b001000 | order, 6)  # fixed, order
    w.write(0, 1)                 # no wasted bits
    mask = (1 << bps) - 1
    for v in sig[:order].tolist():
        w.write(int(v) & mask, bps)
    method = 0 if k <= 14 else 1
    w.write(method, 2)
    w.write(0, 4)                 # partition order 0
    w.write(k, 4 if method == 0 else 5)
    w.write_bits(_rice_encode_bits(u, k))


def encode_flac(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """FLAC stream from float32 samples in [-1, 1] (mono) or an
    (n, 2) float array (stereo, independent channels), 16-bit.

    Quantization is byte-identical to :func:`encode_wav_pcm16`
    (round then clip), so WAV and FLAC of the same float signal decode to
    the same int16 PCM — the multimodal ground-truth contract."""
    x = np.asarray(samples)
    if x.ndim == 1:
        x = x[:, None]
    n, channels = x.shape
    if not 1 <= channels <= 2:
        raise ValueError("encode_flac supports 1 or 2 channels")
    pcm = np.clip(np.round(x.astype(np.float64) * 32768.0), -32768, 32767).astype(
        np.int64
    )
    md5 = hashlib.md5(pcm.astype("<i2").tobytes()).digest()  # interleaved LE

    out = bytearray(b"fLaC")
    # STREAMINFO (type 0, last metadata block), 34 bytes
    si = _BitWriter()
    si.write(_BLOCKSIZE, 16)  # min blocksize
    si.write(_BLOCKSIZE, 16)  # max blocksize
    si.write(0, 24)           # min framesize unknown
    si.write(0, 24)           # max framesize unknown
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(16 - 1, 5)
    si.write(n, 36)
    body = si.tobytes() + md5
    out += struct.pack(">B", 0x80) + struct.pack(">I", len(body))[1:] + body

    for frame_no, start in enumerate(range(0, max(n, 1), _BLOCKSIZE)):
        block = pcm[start : start + _BLOCKSIZE]
        bs = len(block)
        if bs == 0:
            break
        hdr = bytearray()
        hdr += struct.pack(">H", 0b11111111111110_0_0)  # sync + reserved + fixed
        hdr.append((0b0111 << 4) | 0b1101)  # 16-bit blocksize-1; 16-bit Hz rate
        ch_assign = 0 if channels == 1 else 1  # independent
        hdr.append((ch_assign << 4) | (0b100 << 1) | 0)  # 16-bit samples
        hdr += _utf8_encode(frame_no)
        hdr += struct.pack(">H", bs - 1)
        hdr += struct.pack(">H", rate)
        hdr.append(_crc8(bytes(hdr)))

        w = _BitWriter()
        for c in range(channels):
            _encode_subframe(w, block[:, c], 16)
        frame = bytes(hdr) + w.tobytes()
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_BLOCKSIZE_TBL = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                  8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                  13: 8192, 14: 16384, 15: 32768}
_RATE_TBL = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
             7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_BPS_TBL = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _decode_residual(r: "_BitReader", blocksize: int, order: int) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.read(4)
    nparts = 1 << po
    if blocksize % nparts or blocksize >> po <= order and nparts > 1:
        raise ValueError("flac: bad partition order")
    chunks = []
    for p in range(nparts):
        cnt = (blocksize >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("flac: bad partition order")
        k = r.read(pbits)
        if k == escape:
            ebps = r.read(5)
            if ebps == 0:
                chunks.append(np.zeros(cnt, np.int64))
            else:
                chunks.append(
                    np.array([r.read_signed(ebps) for _ in range(cnt)], np.int64)
                )
        else:
            chunks.append(_rice_decode(r, cnt, k))
    return np.concatenate(chunks) if chunks else np.empty(0, np.int64)


def _decode_subframe(r: "_BitReader", blocksize: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
    if stype == 0b000000:  # constant
        sig = np.full(blocksize, r.read_signed(bps), np.int64)
    elif stype == 0b000001:  # verbatim
        sig = np.array([r.read_signed(bps) for _ in range(blocksize)], np.int64)
    elif 0b001000 <= stype <= 0b001100:  # fixed order 0-4
        order = stype & 0x07
        warm = np.array([r.read_signed(bps) for _ in range(order)], np.int64)
        res = _decode_residual(r, blocksize, order)
        sig = _fixed_restore(warm, res, order)
    elif stype >= 0b100000:  # LPC, order 1-32
        order = (stype & 0x1F) + 1
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid LPC precision")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        sig = np.empty(blocksize, np.int64)
        sig[:order] = warm
        s = list(warm)  # true IIR recursion: Python loop (see module doc)
        for i in range(order, blocksize):
            acc = 0
            for j in range(order):
                acc += coefs[j] * s[i - 1 - j]
            v = (acc >> shift) + int(res[i - order])
            s.append(v)
        sig = np.array(s, np.int64)
    else:
        raise ValueError(f"flac: reserved subframe type {stype:#08b}")
    return sig << wasted if wasted else sig


def decode_flac(payload: bytes, verify_md5: bool = True) -> tuple[np.ndarray, int]:
    """(float32 mono samples in [-1, 1], sample_rate). Multi-channel input
    is decorrelated per the frame's channel assignment then averaged to
    mono — the same convention as :func:`decode_wav_pcm16`."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    r = _BitReader(payload)
    r.pos = 32
    # metadata blocks
    si = None
    while True:
        last = r.read(1)
        btype = r.read(7)
        length = r.read(24)
        body = r.read_bytes(length)
        if btype == 0:
            si = body
        if last:
            break
    if si is None or len(si) < 34:
        raise ValueError("flac: missing STREAMINFO")
    sr_ch_bps = int.from_bytes(si[10:14], "big")
    si_rate = sr_ch_bps >> 12
    si_channels = ((sr_ch_bps >> 9) & 0x7) + 1
    si_bps = ((sr_ch_bps >> 4) & 0x1F) + 1
    total = ((sr_ch_bps & 0xF) << 32) | int.from_bytes(si[14:18], "big")
    md5_expect = si[18:34]

    frames = []
    rate = si_rate
    while r.pos + 16 <= r.bits.size:
        frame_start_byte = r.pos >> 3
        sync = r.read(14)
        if sync != 0b11111111111110:
            raise ValueError("flac: lost frame sync")
        if r.read(1):
            raise ValueError("flac: reserved sync bit")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        ch_assign = r.read(4)
        bps_code = r.read(3)
        if r.read(1):
            raise ValueError("flac: reserved header bit")
        _utf8_decode(r)
        if bs_code == 0:
            raise ValueError("flac: reserved blocksize code")
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_TBL[bs_code]
        if rate_code == 0:
            rate = si_rate
        elif rate_code == 12:
            rate = r.read(8) * 1000
        elif rate_code == 13:
            rate = r.read(16)
        elif rate_code == 14:
            rate = r.read(16) * 10
        elif rate_code == 15:
            raise ValueError("flac: invalid sample rate code")
        else:
            rate = _RATE_TBL[rate_code]
        bps = si_bps if bps_code == 0 else _BPS_TBL.get(bps_code)
        if bps is None:
            raise ValueError("flac: reserved sample size code")
        hdr_bytes = payload[frame_start_byte : r.pos >> 3]
        if r.read(8) != _crc8(hdr_bytes):
            raise ValueError("flac: frame header CRC-8 mismatch")

        if ch_assign <= 7:
            nch = ch_assign + 1
            chans = [_decode_subframe(r, blocksize, bps) for _ in range(nch)]
        elif ch_assign in (8, 9, 10):
            # stereo decorrelation: the side channel carries +1 bit
            if ch_assign == 8:  # left/side
                left = _decode_subframe(r, blocksize, bps)
                side = _decode_subframe(r, blocksize, bps + 1)
                chans = [left, left - side]
            elif ch_assign == 9:  # right/side
                side = _decode_subframe(r, blocksize, bps + 1)
                right = _decode_subframe(r, blocksize, bps)
                chans = [right + side, right]
            else:  # mid/side
                mid = _decode_subframe(r, blocksize, bps)
                side = _decode_subframe(r, blocksize, bps + 1)
                left = (((mid << 1) | (side & 1)) + side) >> 1
                chans = [left, left - side]
        else:
            raise ValueError("flac: reserved channel assignment")
        r.align()
        frame_bytes = payload[frame_start_byte : r.pos >> 3]
        if r.read(16) != _crc16(frame_bytes):
            raise ValueError("flac: frame CRC-16 mismatch")
        frames.append(np.stack(chans, axis=1))

    if not frames:
        pcm = np.empty((0, si_channels), np.int64)
    else:
        pcm = np.concatenate(frames)
    if total and pcm.shape[0] > total:
        pcm = pcm[:total]
    if verify_md5 and md5_expect != b"\x00" * 16:
        got = hashlib.md5(
            pcm.astype("<i8").astype(f"<i{max(1, (si_bps + 7) // 8)}").tobytes()
        ).digest()
        if got != md5_expect:
            raise ValueError("flac: decoded PCM fails STREAMINFO MD5")
    scale = np.float32(1 << (si_bps - 1))
    mono = pcm.astype(np.float32).mean(axis=1) if pcm.shape[1] > 1 else pcm[
        :, 0
    ].astype(np.float32)
    return mono / scale, rate
