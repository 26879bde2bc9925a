"""Pure-stdlib PNG codec: round-trips, filter decoding, and interop with
an independent encoder (Java ImageIO fixture)."""

import os
import struct
import zlib

import numpy as np
import pytest

from palladian_spark.kernels.png import decode_png, encode_png, is_png

JAVA_PNG = os.path.join(
    os.path.dirname(__file__), "fixtures", "reference", "java_gradient.png"
)


@pytest.mark.parametrize("shape", [(5, 7), (5, 7, 3), (5, 7, 4)], ids=["gray", "rgb", "rgba"])
def test_round_trip(shape):
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    decoded = decode_png(encode_png(img))
    expected = img[:, :, None] if img.ndim == 2 else img
    assert np.array_equal(decoded, expected)


def _encode_with_filter(img: np.ndarray, ftype: int) -> bytes:
    """Hand-roll an RGB PNG using the given filter type on every scanline,
    so decode exercises Sub/Up/Average/Paeth reconstruction."""
    h, w, _ = img.shape
    bpp = 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int16)
        filt = np.empty_like(line)
        for x in range(len(line)):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (line[x] - pred) % 256
        raw.append(ftype)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4], ids=["none", "sub", "up", "avg", "paeth"])
def test_all_filter_types(ftype):
    rng = np.random.default_rng(ftype)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(_encode_with_filter(img, ftype)), img)


def test_java_imageio_interop():
    """Decode a PNG written by the JDK's encoder (independent
    implementation; see tools/reference_harness PngFixture generator) and
    check every pixel against the generator's formula."""
    with open(JAVA_PNG, "rb") as f:
        data = f.read()
    assert is_png(data)
    img = decode_png(data)
    assert img.shape == (23, 37, 3)
    for y in range(23):
        for x in range(37):
            assert tuple(int(v) for v in img[y, x]) == (
                (x * 7 + y * 13) % 256,
                (x * x + y) % 256,
                (255 - x * 3 + y * y) % 256,
            )


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
