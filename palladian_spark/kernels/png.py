"""Pure-stdlib PNG codec (zlib + struct): enough of RFC 2083 to encode and
decode 8-bit grayscale/RGB/RGBA images without any imaging library.

Used by the multimodal operators as the real decode path in containers
without PIL; interop is proven against PNGs produced by an independent
implementation (Java ImageIO fixture, tests/fixtures/reference/java_*.png).
Decode supports all five scanline filter types; encode writes filter 0.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


def is_png(data: bytes) -> bool:
    return data[: len(_SIGNATURE)] == _SIGNATURE


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 array (h, w) / (h, w, 3) / (h, w, 4) -> PNG bytes."""
    if img.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if img.ndim == 2:
        color_type, channels = 0, 1
        img = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    elif img.ndim == 3 and img.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    for row in img.reshape(h, w * channels):
        raw.append(0)  # filter type 0 (None)
        raw.extend(row.tobytes())
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (h, w, channels). Supports bit depth 8,
    color types 0/2/4/6, no interlacing, multiple IDAT chunks."""
    if not is_png(data):
        raise ValueError("not a PNG")
    pos = len(_SIGNATURE)
    width = height = None
    color_type = bit_depth = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8:
                raise ValueError(f"unsupported bit depth {bit_depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    channels = _CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("truncated pixel data")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        offset = y * (stride + 1)
        ftype = raw[offset]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=offset + 1).copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: a per-channel running sum, mod 256
            run = np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.int64)
            line = (run % 256).astype(np.uint8).ravel()
        elif ftype == 2:  # Up
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = int(line[x - bpp]) if x >= bpp else 0
                up_left = int(prev[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + _paeth(left, int(prev[x]), up_left)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(height, width, channels)
