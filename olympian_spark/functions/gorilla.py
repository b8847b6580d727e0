"""Gorilla-style time-series block codec, byte-aligned for vectorized decode.

Semantics follow Gorilla (Pelkonen et al., VLDB 2015): timestamps are
delta-of-delta coded, float stat streams are XOR-with-previous coded, one
block per conversation-bucket. The *bit layout* departs from the paper:
instead of variable-length prefix codes (which force a sequential
bit-cursor decode — measured 140-650k pts/s in Python, the asymptotic cost
of coarse-tier refresh), each value gets a 2-bit class tag in a packed tag
array and a byte-aligned payload in a per-class section, the control/data
split popularized by Stream VByte (Lemire, Kurz & Rupp, 2017). Decode is
then pure numpy: unpack tags -> bincount -> per-class frombuffer ->
masked scatter -> cumsum (timestamps) / bitwise_xor.accumulate (floats),
with no per-point Python. Measured >20M pts/s, ~100x the bit-cursor path.

Per-block layout (all little-endian, sections byte-aligned):

    magic 'OG2' | u8 n_streams | u32 n_points
    u32 ts_nbytes  | ts section
    per stream: u32 nbytes | float section

ts section:        ts0 i64 | d0 i64 (n>=2) | tags 2b/dod (n>=3)
                   | class-1 payload i8[] | class-2 i16[] | class-3 i64[]
  dod classes: 0 -> dod==0, 1 -> int8 range, 2 -> int16 range, 3 -> raw i64.
float section:     v0 u32 raw | tags 2b/xor (n>=2)
                   | class-1 u16[] | class-2 u16[] | class-3 u32[]
  xor classes: 0 -> xor==0, 1 -> xor < 2^16 (low window),
               2 -> xor & 0xFFFF == 0 (high window, stored >>16), 3 -> raw.

NULL/gap is carried as f32 NaN (bit pattern 0x7fc00000) — the quantile
kernel drops non-finite values exactly like the reference (sct.rs:71-75),
so blocks are directly the exact-p95 source.

Compression on the engine's streams matches the bit-packed predecessor
within ~15% (regular cadence: 2 bits/pt vs 1; full-entropy float xor:
34 bits vs ~42) and decodes two orders of magnitude faster.

Lossless roundtrip is property-tested (hypothesis) for arbitrary
non-decreasing int64 timestamps and arbitrary f32 payloads incl. NaN/Inf.

Two encoders write the layout. :func:`encode_blocks` is the production
one: the tier kernels and the q24 driver query encode whole Arrow batches
with it. :func:`encode_block` packs one block point by point in plain
Python; it shares no code with ``encode_blocks`` and is the test reference
that ``encode_blocks`` must match byte for byte.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"OG2"


def _unpack_tags(buf: bytes, m: int) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty((b.size, 4), dtype=np.uint8)
    out[:, 0] = b >> 6
    out[:, 1] = (b >> 4) & 3
    out[:, 2] = (b >> 2) & 3
    out[:, 3] = b & 3
    return out.reshape(-1)[:m]


# ---------------------------------------------------------------------------
# timestamps: delta-of-delta, classed payloads
# ---------------------------------------------------------------------------


def _encode_ts(ts: np.ndarray) -> bytes:
    """One block's ts section in plain Python (the reference encoder)."""
    n = ts.size
    t = ts.tolist()
    if n == 0:
        return b""
    out = [struct.pack("<q", t[0])]
    if n == 1:
        return out[0]
    out.append(struct.pack("<q", t[1] - t[0]))
    tags = []
    p1, p2, p3 = [], [], []
    prev_delta = t[1] - t[0]
    for i in range(2, n):
        delta = t[i] - t[i - 1]
        dod = delta - prev_delta
        prev_delta = delta
        if dod == 0:
            tags.append(0)
        elif -128 <= dod <= 127:
            tags.append(1)
            p1.append(dod & 0xFF)
        elif -32768 <= dod <= 32767:
            tags.append(2)
            p2.append(struct.pack("<h", dod))
        else:
            tags.append(3)
            p3.append(struct.pack("<q", dod))
    tags += [0] * ((-len(tags)) % 4)
    tb = bytes(
        (tags[j] << 6) | (tags[j + 1] << 4) | (tags[j + 2] << 2) | tags[j + 3]
        for j in range(0, len(tags), 4)
    )
    return b"".join(out) + tb + bytes(p1) + b"".join(p2) + b"".join(p3)


def _decode_ts(buf: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = struct.unpack_from("<q", buf, 0)[0]
    if n == 1:
        return out
    d0 = struct.unpack_from("<q", buf, 8)[0]
    if n == 2:
        out[1] = out[0] + d0
        return out
    m = n - 2
    tb = (m + 3) // 4
    tags = _unpack_tags(buf[16 : 16 + tb], m)
    cnt = np.bincount(tags, minlength=4)
    p1 = 16 + tb
    p2 = p1 + int(cnt[1])
    p3 = p2 + 2 * int(cnt[2])
    end = p3 + 8 * int(cnt[3])
    dod = np.zeros(m, dtype=np.int64)
    if cnt[1]:
        dod[tags == 1] = np.frombuffer(buf[p1:p2], dtype=np.int8)
    if cnt[2]:
        dod[tags == 2] = np.frombuffer(buf[p2:p3], dtype="<i2")
    if cnt[3]:
        dod[tags == 3] = np.frombuffer(buf[p3:end], dtype="<i8")
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = d0
    np.cumsum(dod, out=deltas[1:])
    deltas[1:] += d0
    out[1:] = np.cumsum(deltas)
    out[1:] += out[0]
    return out


# ---------------------------------------------------------------------------
# float32 streams: XOR-with-previous, classed payloads
# ---------------------------------------------------------------------------


def _encode_floats(vals: np.ndarray) -> bytes:
    """One float stream section in plain Python (the reference encoder)."""
    n = vals.size
    if n == 0:
        return b""
    bits = vals.view(np.uint32).tolist()
    out = struct.pack("<I", bits[0])
    if n == 1:
        return out
    tags = []
    p1, p2, p3 = [], [], []
    prev = bits[0]
    for cur in bits[1:]:
        x = prev ^ cur
        prev = cur
        if x == 0:
            tags.append(0)
        elif x < (1 << 16):
            tags.append(1)
            p1.append(struct.pack("<H", x))
        elif (x & 0xFFFF) == 0:
            tags.append(2)
            p2.append(struct.pack("<H", x >> 16))
        else:
            tags.append(3)
            p3.append(struct.pack("<I", x))
    tags += [0] * ((-len(tags)) % 4)
    tb = bytes(
        (tags[j] << 6) | (tags[j + 1] << 4) | (tags[j + 2] << 2) | tags[j + 3]
        for j in range(0, len(tags), 4)
    )
    return out + tb + b"".join(p1) + b"".join(p2) + b"".join(p3)


def _decode_floats(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.float32)
    v0 = np.frombuffer(buf[:4], dtype="<u4")[0]
    if n == 1:
        return np.array([v0], dtype=np.uint32).view(np.float32)
    m = n - 1
    tb = (m + 3) // 4
    tags = _unpack_tags(buf[4 : 4 + tb], m)
    cnt = np.bincount(tags, minlength=4)
    p1 = 4 + tb
    p2 = p1 + 2 * int(cnt[1])
    p3 = p2 + 2 * int(cnt[2])
    end = p3 + 4 * int(cnt[3])
    x = np.zeros(n, dtype=np.uint32)
    x[0] = v0
    xs = x[1:]
    if cnt[1]:
        xs[tags == 1] = np.frombuffer(buf[p1:p2], dtype="<u2")
    if cnt[2]:
        xs[tags == 2] = np.frombuffer(buf[p2:p3], dtype="<u2").astype(np.uint32) << np.uint32(16)
    if cnt[3]:
        xs[tags == 3] = np.frombuffer(buf[p3:end], dtype="<u4")
    return np.bitwise_xor.accumulate(x).view(np.float32)


# ---------------------------------------------------------------------------
# block assembly
# ---------------------------------------------------------------------------


def _seg_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... — within-segment positions, fully vectorized
    (zero-length segments contribute nothing)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64)
    starts_flat = np.concatenate(([0], np.cumsum(counts)[:-1].astype(np.int64)))
    return np.arange(total, dtype=np.int64) - np.repeat(starts_flat, counts)


def encode_blocks(
    ts_us: np.ndarray, streams: list[np.ndarray], starts: np.ndarray
) -> "pa.Array":
    """The production encoder: one OG2 block per ``starts`` segment,
    byte-identical to the reference ``encode_block`` over each slice
    (property-tested), returned as a zero-copy pyarrow binary array (one
    data buffer + offsets).

    This removes the dominant per-bucket Python cost of the tier kernels:
    classing, tag packing and payload scatter run once over the whole batch
    with per-segment boundaries, instead of ~10 numpy calls per block.
    """
    import pyarrow as pa

    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    nb = starts.size - 1
    counts = np.diff(starts).astype(np.int64)
    n_rows = ts.size
    bucket_of = np.repeat(np.arange(nb, dtype=np.int64), counts)
    pos = _seg_arange(counts)

    sections: list[tuple] = []  # per section: (sec_len[nb], filler(buf, sec_base))

    # ---- timestamp section ------------------------------------------------
    # deltas/dods with per-segment validity
    has1 = counts >= 1
    has2 = counts >= 2
    d = np.zeros(n_rows, np.int64)
    if n_rows > 1:
        d[1:] = ts[1:] - ts[:-1]
    dod_mask = pos >= 2
    dod_rows = np.flatnonzero(dod_mask)
    dod = (d[dod_rows] - d[dod_rows - 1]) if dod_rows.size else np.empty(0, np.int64)
    dod_bucket = bucket_of[dod_rows]
    m_ts = np.maximum(counts - 2, 0)

    nz = dod != 0
    in8 = nz & (dod >= -128) & (dod <= 127)
    in16 = nz & ~in8 & (dod >= -32768) & (dod <= 32767)
    big = nz & ~in8 & ~in16
    cls_ts = np.zeros(dod.size, np.uint8)
    cls_ts[in8] = 1
    cls_ts[in16] = 2
    cls_ts[big] = 3

    def _sec_counts(mask: np.ndarray, seg_of: np.ndarray) -> np.ndarray:
        c = np.zeros(nb, np.int64)
        if mask.any():
            np.add.at(c, seg_of[mask], 1)
        return c

    c1 = _sec_counts(in8, dod_bucket)
    c2 = _sec_counts(in16, dod_bucket)
    c3 = _sec_counts(big, dod_bucket)
    tagb_ts = (m_ts + 3) // 4
    ts_len = 8 * has1.astype(np.int64) + 8 * has2.astype(np.int64)
    ts_len += np.where(m_ts > 0, tagb_ts + c1 + 2 * c2 + 8 * c3, 0)

    def _pack_tags_multi(cls: np.ndarray, m: np.ndarray,
                         tagb: np.ndarray) -> np.ndarray:
        """Per-segment 2-bit tag packing with per-segment zero padding;
        returns the concatenated tag bytes (segment-contiguous)."""
        padded = 4 * tagb
        tot = int(padded.sum())
        if tot == 0:
            return np.empty(0, np.uint8)
        pstart = np.concatenate(([0], np.cumsum(padded)))[:-1]
        flat = np.zeros(tot, np.uint8)
        if cls.size:
            # cls is segment-contiguous; position within segment via m
            flat[np.repeat(pstart, m) + _seg_arange(m)] = cls
        q = flat.reshape(-1, 4)
        return ((q[:, 0] << 6) | (q[:, 1] << 4) | (q[:, 2] << 2) | q[:, 3]).astype(np.uint8)

    tagbytes_ts = _pack_tags_multi(cls_ts, m_ts, tagb_ts)

    def _fill_ts(buf: np.ndarray, base: np.ndarray) -> None:
        # base: per-bucket absolute offset of the ts section payload
        b1 = np.flatnonzero(has1)
        _scatter_fixed(buf, base[b1], ts[starts[:-1][b1]], 8)
        b2 = np.flatnonzero(has2)
        s2 = starts[:-1][b2]
        _scatter_fixed(buf, base[b2] + 8, ts[s2 + 1] - ts[s2], 8)
        # tag bytes: segment-contiguous array scattered to base+16
        _scatter_var(buf, base + 16, tagb_ts, tagbytes_ts)
        # payloads
        p1_off = base + 16 + tagb_ts
        p2_off = p1_off + c1
        p3_off = p2_off + 2 * c2
        _scatter_class(buf, p1_off, dod_bucket, in8,
                       dod[in8].astype(np.int8).view(np.uint8), 1)
        _scatter_class(buf, p2_off, dod_bucket, in16,
                       dod[in16].astype("<i2").view(np.uint8), 2)
        _scatter_class(buf, p3_off, dod_bucket, big,
                       dod[big].astype("<i8").view(np.uint8), 8)

    sections.append((ts_len, _fill_ts))

    # ---- float stream sections -------------------------------------------
    for s in streams:
        sv = np.ascontiguousarray(s, dtype=np.float32)
        bits = sv.view(np.uint32)
        x_mask = pos >= 1
        x_rows = np.flatnonzero(x_mask)
        x = (bits[x_rows] ^ bits[x_rows - 1]) if x_rows.size else np.empty(0, np.uint32)
        x_bucket = bucket_of[x_rows]
        m_f = np.maximum(counts - 1, 0)
        nzf = x != 0
        lo = nzf & (x < (1 << 16))
        hi = nzf & ~lo & ((x & np.uint32(0xFFFF)) == 0)
        full = nzf & ~lo & ~hi
        cls_f = np.zeros(x.size, np.uint8)
        cls_f[lo] = 1
        cls_f[hi] = 2
        cls_f[full] = 3
        f1 = _sec_counts(lo, x_bucket)
        f2 = _sec_counts(hi, x_bucket)
        f3 = _sec_counts(full, x_bucket)
        tagb_f = (m_f + 3) // 4
        s_len = 4 * has1.astype(np.int64)
        s_len += np.where(m_f > 0, tagb_f + 2 * f1 + 2 * f2 + 4 * f3, 0)
        tagbytes_f = _pack_tags_multi(cls_f, m_f, tagb_f)

        def _fill_f(buf: np.ndarray, base: np.ndarray, *, bits=bits, tagb_f=tagb_f,
                    tagbytes_f=tagbytes_f, f1=f1, f2=f2, x_bucket=x_bucket,
                    lo=lo, hi=hi, full=full, x=x) -> None:
            b1 = np.flatnonzero(has1)
            _scatter_fixed(buf, base[b1], bits[starts[:-1][b1]], 4)
            _scatter_var(buf, base + 4, tagb_f, tagbytes_f)
            p1_off = base + 4 + tagb_f
            p2_off = p1_off + 2 * f1
            p3_off = p2_off + 2 * f2
            _scatter_class(buf, p1_off, x_bucket, lo,
                           x[lo].astype("<u2").view(np.uint8), 2)
            _scatter_class(buf, p2_off, x_bucket, hi,
                           (x[hi] >> np.uint32(16)).astype("<u2").view(np.uint8), 2)
            _scatter_class(buf, p3_off, x_bucket, full,
                           x[full].astype("<u4").view(np.uint8), 4)

        sections.append((s_len, _fill_f))

    # ---- assembly ---------------------------------------------------------
    k = len(streams)
    block_len = np.full(nb, 8, np.int64)
    for sec_len, _ in sections:
        block_len += 4 + sec_len
    offsets = np.concatenate(([0], np.cumsum(block_len)))
    tot = int(offsets[-1])
    if tot >= (1 << 31):
        raise ValueError("encode_blocks batch exceeds 2 GiB; reduce batch size")
    buf = np.zeros(tot, np.uint8)
    bo = offsets[:-1]
    buf[bo] = 0x4F  # 'O'
    buf[bo + 1] = 0x47  # 'G'
    buf[bo + 2] = 0x32  # '2'
    buf[bo + 3] = np.uint8(k)
    _scatter_fixed(buf, bo + 4, counts.astype(np.uint32), 4)
    sec_base = bo + 8
    for sec_len, fill in sections:
        _scatter_fixed(buf, sec_base, sec_len.astype(np.uint32), 4)
        fill(buf, sec_base + 4)
        sec_base = sec_base + 4 + sec_len

    return pa.Array.from_buffers(
        pa.binary(), nb,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def _scatter_fixed(buf: np.ndarray, dest: np.ndarray, vals: np.ndarray, width: int) -> None:
    """Write little-endian fixed-width values at per-element byte offsets."""
    if dest.size == 0:
        return
    vb = np.ascontiguousarray(vals).astype(
        {8: "<i8", 4: "<u4"}[width] if vals.dtype.kind in "iu" else vals.dtype
    ).view(np.uint8).reshape(-1, width)
    buf[dest[:, None] + np.arange(width)] = vb


def _scatter_var(buf: np.ndarray, dest_start: np.ndarray, lens: np.ndarray,
                 payload: np.ndarray) -> None:
    """Scatter a segment-contiguous byte payload to per-segment offsets."""
    if payload.size == 0:
        return
    dest = np.repeat(dest_start, lens) + _seg_arange(lens)
    buf[dest] = payload


def _scatter_class(buf: np.ndarray, sec_off: np.ndarray, seg_of: np.ndarray,
                   mask: np.ndarray, payload_u8: np.ndarray, width: int) -> None:
    """Scatter one class's packed values: element i of the class goes to
    sec_off[segment] + rank_within_segment * width. The selection is
    segment-ordered, so within-segment ranks come from a segmented arange
    over the per-segment run lengths."""
    if not mask.any():
        return
    seg = seg_of[mask]
    change = np.flatnonzero(np.diff(seg) != 0) + 1
    starts_idx = np.concatenate(([0], change, [seg.size]))
    within = _seg_arange(np.diff(starts_idx))
    dest = sec_off[seg] + within * width
    vb = payload_u8.reshape(-1, width)
    buf[dest[:, None] + np.arange(width)] = vb


def encode_block(ts_us: np.ndarray, streams: list[np.ndarray]) -> bytes:
    """Encode one block: int64 µs timestamps + k float32 stat streams
    (NaN = gap). All streams must have len(ts_us).

    The test reference for :func:`encode_blocks`: a point-by-point
    plain-Python packer, slow on long blocks, that nothing in production
    calls."""
    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    n = ts.size
    parts = [MAGIC, struct.pack("<BI", len(streams), n)]
    tsb = _encode_ts(ts)
    parts.append(struct.pack("<I", len(tsb)))
    parts.append(tsb)
    for s in streams:
        s = np.ascontiguousarray(s, dtype=np.float32)
        if s.size != n:
            raise ValueError("stream length mismatch")
        sb = _encode_floats(s)
        parts.append(struct.pack("<I", len(sb)))
        parts.append(sb)
    return b"".join(parts)


def decode_block(buf: bytes) -> tuple[np.ndarray, list[np.ndarray]]:
    if buf[:3] != MAGIC:
        if buf[:3] == b"OG1":
            # Format migration note: OG2 (byte-aligned class tags) replaced
            # the bit-packed OG1 layout in round 2 with no read-back path.
            # Catalogs written before that change hold OG1 blocks that this
            # decoder cannot read — rebuild them (full refresh regenerates
            # every block from turn history; see plans/refresh.py).
            raise ValueError(
                "OG1 block: catalog written by a pre-OG2 version; run a full "
                "refresh to rebuild its tier tables before reading"
            )
        raise ValueError("bad block magic")
    k, n = struct.unpack_from("<BI", buf, 3)
    off = 3 + 5
    (ts_len,) = struct.unpack_from("<I", buf, off)
    off += 4
    ts = _decode_ts(buf[off : off + ts_len], n)
    off += ts_len
    streams = []
    for _ in range(k):
        (sl,) = struct.unpack_from("<I", buf, off)
        off += 4
        streams.append(_decode_floats(buf[off : off + sl], n))
        off += sl
    return ts, streams
