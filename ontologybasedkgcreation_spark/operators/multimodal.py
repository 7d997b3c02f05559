"""PNG codec, standard library + numpy only.

``decode_png`` implements the public PNG spec for the common web shapes
(zlib-inflate IDAT, per-scanline unfiltering, 8-bit gray/RGB/RGBA);
``encode_png`` writes filter-0 rows and is the deterministic fixture
generator for it.  The ``media_decode`` driver query round-trips a PNG
per document through both.  The engine's KG stages treat media as opaque
``binary`` payloads; baseline JPEG lives in ``jpeg.py`` and the AVI
container in ``avi.py``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (8-bit depth supported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 array, standard library only.

    Implements the public spec for the common web shapes: 8-bit depth,
    color types gray / RGB / gray+alpha / RGBA, non-interlaced; IDAT
    chunks are concatenated, zlib-inflated, and the five scanline filters
    (None/Sub/Up/Average/Paeth) are reversed row by row (vectorized per
    row except the inherently sequential Sub/Paeth carry)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} interlace={interlace} "
                    "outside the supported 8-bit non-interlaced subset"
                )
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    img = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:  # Sub: left carry, sequential per pixel-sample lag
            cur = line.copy()
            for x in range(ch, stride):
                cur[x] = (int(cur[x]) + int(cur[x - ch])) & 0xFF
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                cur[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        img[y] = cur
        prev = cur
    return img.reshape(height, width, ch)


def encode_png(img: np.ndarray) -> bytes:
    """(H, W, C) uint8 -> PNG bytes (filter 0 rows) — the deterministic
    fixture generator for :func:`decode_png`."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
