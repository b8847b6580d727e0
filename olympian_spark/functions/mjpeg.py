"""Motion-JPEG in an AVI (RIFF) container — pure numpy + stdlib.

Public-knowledge implementation from the public AVI RIFF file format
reference (Microsoft AVI / OpenDML documents) with the per-frame codec
delegated to the baseline JPEG implementation in functions/jpeg.py:

- :func:`encode_avi_mjpeg` — 'RIFF AVI ' container: LIST hdrl (avih main
  header + one 'vids'/'MJPG' stream with strh/strf), LIST movi of
  '00dc' chunks (one baseline JPEG per frame), and a conformant idx1.
- :func:`decode_avi_mjpeg` — tolerant RIFF chunk walk: reads fps from
  strh (rate/scale), collects '00dc'/'00db' frame chunks (direct or
  inside LIST movi/rec), decodes each frame with decode_jpeg.

This gives the multimodal pipeline a genuinely decodable video codec:
decode verification and feature extraction run real pixel math instead of the
keyed-hash fallback (which remains for h264 — an external-library codec).
"""

from __future__ import annotations

import struct

import numpy as np

from olympian_spark.functions.jpeg import decode_jpeg, encode_jpeg


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""  # RIFF chunks are word-aligned
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(fourcc: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + body)


def encode_avi_mjpeg(
    frames: np.ndarray, fps: int = 10, quality: int = 90
) -> bytes:
    """AVI/MJPG from an (n, h, w, 3) uint8 frame stack."""
    frames = np.asarray(frames)
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError("frames must be (n, h, w, 3)")
    n, h, w, _ = frames.shape
    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    max_size = max((len(p) for p in payloads), default=0)

    # MainAVIHeader: usec/frame, maxbytes/sec, padding, flags(HASINDEX),
    # frames, initial, streams, sugg buffer, w, h, reserved[4]
    avih = struct.pack(
        "<10I4I",
        1_000_000 // max(fps, 1), max_size * fps, 0, 0x10,
        n, 0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    # AVIStreamHeader (56 bytes): fccType, fccHandler, dwFlags,
    # wPriority, wLanguage, dwInitialFrames, dwScale, dwRate, dwStart,
    # dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize, rcFrame
    strh = struct.pack(
        "<4s4sI2H8I4h",
        b"vids", b"MJPG", 0, 0, 0,
        0, 1, fps, 0, n, max_size, 0, 0,
        0, 0, w, h,
    )
    # BITMAPINFOHEADER with biCompression = 'MJPG'
    strf = struct.pack(
        "<I2i2H4sI2i2I", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_chunks = [_chunk(b"00dc", p) for p in payloads]
    movi = _list(b"movi", b"".join(movi_chunks))
    # idx1 offsets are relative to the start of the 'movi' fourcc
    idx, off = [], 4
    for p in payloads:
        idx.append(struct.pack("<4s3I", b"00dc", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) & 1)
    idx1 = _chunk(b"idx1", b"".join(idx))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi_mjpeg(payload: bytes) -> tuple[np.ndarray, float]:
    """((n, h, w, 3) uint8 frames, fps). Raises ValueError on a broken
    container and NotImplementedError for non-MJPEG video streams."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    fps = 0.0
    handler = None
    frames: list[np.ndarray] = []

    def walk(data: bytes) -> None:
        nonlocal fps, handler
        pos = 0
        while pos + 8 <= len(data):
            cid, size = struct.unpack_from("<4sI", data, pos)
            body = data[pos + 8 : pos + 8 + size]
            if len(body) < size:
                raise ValueError("avi: truncated chunk")
            if cid == b"LIST":
                walk(body[4:])  # recurse past the list type fourcc
            elif cid == b"strh" and len(body) >= 28:
                fcc_type, fcc_handler = struct.unpack_from("<4s4s", body, 0)
                if fcc_type == b"vids":
                    handler = fcc_handler
                    scale, rate = struct.unpack_from("<II", body, 20)
                    if scale:
                        fps = rate / scale
            elif cid[2:] in (b"dc", b"db") and size:
                if handler not in (None, b"MJPG", b"mjpg"):
                    raise NotImplementedError(
                        f"AVI video handler {handler!r} needs ffmpeg"
                    )
                frames.append(decode_jpeg(bytes(body)))
            pos += 8 + size + (size & 1)

    walk(payload[12:])
    if not frames:
        raise ValueError("avi: no video frames found")
    shapes = {f.shape for f in frames}
    if len(shapes) != 1:
        raise ValueError("avi: inconsistent frame shapes")
    return np.stack(frames), fps
