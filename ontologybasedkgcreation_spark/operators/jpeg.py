"""Baseline sequential JPEG codec, standard library + numpy only.

Baseline JPEG is implementable from the public spec without codec
packages.  This module is a clean-room implementation of ITU-T T.81
baseline sequential DCT (SOF0): Huffman entropy coding with the Annex K.3
typical tables, Annex K.1/K.2 quantization tables, 8x8 forward/inverse
DCT as an orthonormal matrix product, JFIF YCbCr<->RGB color transform,
4:4:4 encoding, and decoding of 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling
plus restart markers.  Progressive (SOF2), arithmetic coding, and 12-bit
precision raise ``NotImplementedError`` — they are outside baseline.

Like the PNG codec in ``multimodal.py``, the encoder exists to generate
deterministic fixtures for the decoder (no installed codec package can
produce a JPEG); the ``media_decode_jpeg`` driver query round-trips a JPEG
per document, and ``avi.decode_avi`` decodes MJPEG frames with it.

Scale note: decode runs per payload inside an Arrow batch stage — the
entropy decode is an inherently sequential bitstream walk (the spec's data
dependency, same as PNG's Paeth carry), so throughput comes from payload
parallelism across tasks, not from vectorizing inside one image.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# constants from the public spec
# ---------------------------------------------------------------------------

# zig-zag scan order (T.81 figure 5): zigzag index -> natural (row-major) index
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.1 / K.2 typical quantization tables (natural order via zigzag)
_QT_LUMA_ZZ = np.array([
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
], dtype=np.int32)
_QT_CHROMA_ZZ = np.array([
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8x8 DCT-II matrix: spatial = T.T @ coeff @ T, coeff = T @ spatial @ T.T
_T = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _T[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0)
_T *= 0.5
_T[0, :] *= 1.0 / np.sqrt(2.0)


def _build_huffman_codes(bits: List[int], huffval: List[int]) -> Dict[int, Tuple[int, int]]:
    """T.81 Annex C code generation: symbol -> (code, length)."""
    codes: Dict[int, Tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huffman_lookup(bits: List[int], huffval: List[int]) -> Dict[Tuple[int, int], int]:
    """(length, code) -> symbol, for the decoder's bit walk."""
    return {
        (ln, code): sym
        for sym, (code, ln) in _build_huffman_codes(bits, huffval).items()
    }


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table (public libjpeg formula)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((qt * s + 50) // 100, 1, 255).astype(np.int32)


def _magnitude(v: int) -> Tuple[int, int]:
    """DC/AC magnitude category + the value bits (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-padding per spec

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (markers are written raw, unstuffed)."""
        self.align()
        self.out += bytes([0xFF, 0xD0 + (n % 8)])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # set when a non-stuffed marker is hit

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG bitstream truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                # feed zero bits past the marker (spec: segment ended)
                self.acc = (self.acc << 8)
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Skip to the next marker byte pair (for RSTn): returns marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                m = d[self.pos + 1]
                self.pos += 2
                self.marker = None
                return m
            self.pos += 1
        raise ValueError("expected restart marker, hit end of data")

    def decode_symbol(self, lookup: Dict[Tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


# ---------------------------------------------------------------------------
# encoder (4:4:4 baseline; fixture generator for the decoder)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _encode_blocks(
    plane: np.ndarray,
    qt: np.ndarray,
    dc_codes: Dict[int, Tuple[int, int]],
    ac_codes: Dict[int, Tuple[int, int]],
    writer: _BitWriter,
    pred: int,
) -> int:
    h, w = plane.shape
    qt_nat = np.empty(64, dtype=np.float64)
    qt_nat[ZIGZAG] = qt  # zigzag table -> natural order
    qt2d = qt_nat.reshape(8, 8)
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            block = plane[by:by + 8, bx:bx + 8].astype(np.float64) - 128.0
            coeff = _T @ block @ _T.T
            q = np.round(coeff / qt2d).astype(np.int64)
            zz = q.reshape(-1)[ZIGZAG]
            # DC
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            size, bits = _magnitude(diff)
            code, ln = dc_codes[size]
            writer.write(code, ln)
            if size:
                writer.write(bits, size)
            # AC run-length
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]  # ZRL
                    writer.write(code, ln)
                    run -= 16
                size, bits = _magnitude(v)
                code, ln = ac_codes[(run << 4) | size]
                writer.write(code, ln)
                writer.write(bits, size)
                run = 0
            if run:
                code, ln = ac_codes[0x00]  # EOB
                writer.write(code, ln)
    return pred


# the encoder's IJG quality: at 95 the luma DC step divides flat blocks
# exactly, so flat images round-trip losslessly (the oracles hash that)
JPEG_QUALITY = 95


def encode_jpeg(
    img: np.ndarray,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) RGB or (H, W) / (H, W, 1) grayscale uint8 -> baseline
    sequential JFIF bytes at JPEG_QUALITY.  ``subsampling``: '444' (no chroma
    subsampling), '422' (horizontal-only 2x1 box-averaged chroma) or
    '420' (2x2 — the dominant web shape); both subsampled modes exercise
    the decoder's upsampling path.  ``restart_interval``: emit a
    DRI segment and RSTn markers every N MCUs (0 = none) — exercises the
    decoder's restart/DC-reset path."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2 or img.shape[2] == 1
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[..., 0]
    h, w = img.shape[:2]
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    if gray:
        lh = lv = 1
    else:
        lh = 2 if subsampling in ("422", "420") else 1
        lv = 2 if subsampling == "420" else 1
    mcu_w, mcu_h = 8 * lh, 8 * lv
    ph, pw = -(-h // mcu_h) * mcu_h, -(-w // mcu_w) * mcu_w

    qt_l = _quality_scale(_QT_LUMA_ZZ, JPEG_QUALITY)
    qt_c = _quality_scale(_QT_CHROMA_ZZ, JPEG_QUALITY)

    def pad(plane: np.ndarray) -> np.ndarray:
        return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")

    if gray:
        planes = [pad(img.astype(np.float64))]
        factors = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(img)
        planes = [pad(ycc[..., c]) for c in range(3)]
        factors = [(lh, lv), (1, 1), (1, 1)]
        if lh > 1 or lv > 1:
            # box-average the chroma planes down by (lv, lh)
            for ci in (1, 2):
                p = planes[ci]
                planes[ci] = (
                    p.reshape(ph // lv, lv, pw // lh, lh).mean(axis=(1, 3))
                )

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # APP0/JFIF: version 1.1, aspect-ratio units, 1:1 density, no thumbnail
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HHBB", 1, 1, 0, 0)

    def dqt(tid: int, qt: np.ndarray) -> bytes:
        return b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(x) for x in qt
        )

    out += dqt(0, qt_l)
    if not gray:
        out += dqt(1, qt_c)

    ncomp = 1 if gray else 3
    sof = struct.pack(">BHH B", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        tq = 0 if cid == 1 else 1
        ch, cv = factors[cid - 1]
        sof += struct.pack(">BBB", cid, (ch << 4) | cv, tq)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tclass: int, tid: int, table) -> bytes:
        bits, vals = table
        body = bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_LUMA)
    if not gray:
        out += dht(0, 1, _DC_CHROMA) + dht(1, 1, _AC_CHROMA)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    sos = struct.pack(">B", ncomp)
    for cid in range(1, ncomp + 1):
        td_ta = 0x00 if cid == 1 else 0x11
        sos += struct.pack(">BB", cid, td_ta)
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l = _build_huffman_codes(*_DC_LUMA)
    ac_l = _build_huffman_codes(*_AC_LUMA)
    dc_c = _build_huffman_codes(*_DC_CHROMA)
    ac_c = _build_huffman_codes(*_AC_CHROMA)

    writer = _BitWriter()
    preds = [0] * ncomp
    mcu_count = 0
    # interleaved MCUs: per component, v x h 8x8 blocks per MCU
    for my in range(ph // mcu_h):
        for mx in range(pw // mcu_w):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.restart(mcu_count // restart_interval - 1)
                preds = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                qt = qt_l if ci == 0 else qt_c
                dc = dc_l if ci == 0 else dc_c
                ac = ac_l if ci == 0 else ac_c
                ch, cv = factors[ci]
                for by in range(cv):
                    for bx in range(ch):
                        py = (my * cv + by) * 8
                        px = (mx * ch + bx) * 8
                        sub = planes[ci][py:py + 8, px:px + 8]
                        preds[ci] = _encode_blocks(
                            sub, qt, dc, ac, writer, preds[ci]
                        )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder (baseline sequential; 4:4:4 / 4:2:2 / 4:2:0; DRI/RSTn)
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (H, W, 3) RGB or (H, W, 1) grayscale uint8."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: Dict[int, np.ndarray] = {}
    huff: Dict[Tuple[int, int], Dict[Tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        seg = payload[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen

        if marker == 0xDB:  # DQT
            s = 0
            while s < len(seg):
                pq, tq = seg[s] >> 4, seg[s] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables: not baseline-typical")
                zz = np.frombuffer(seg[s + 1:s + 65], dtype=np.uint8).astype(np.float64)
                nat = np.empty(64)
                nat[ZIGZAG] = zz
                qts[tq] = nat.reshape(8, 8)
                s += 65
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                tc, th = seg[s] >> 4, seg[s] & 0x0F
                bits = list(seg[s + 1:s + 17])
                n = sum(bits)
                vals = list(seg[s + 17:s + 17 + n])
                huff[(tc, th)] = _build_huffman_lookup(bits, vals)
                s += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci], seg[7 + 3 * ci], seg[8 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF marker 0x{marker:02X}: progressive/arithmetic/"
                "hierarchical JPEG is outside baseline sequential"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            return _decode_scan(
                payload, pos, frame, scan, qts, huff, restart_interval
            )
        # APPn/COM/etc: skipped
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(payload, pos, frame, scan, qts, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)

    planes = {}
    for comp, _, _ in scan:
        pw = mcus_x * comp["h"] * 8
        ph = mcus_y * comp["v"] * 8
        planes[comp["id"]] = np.zeros((ph, pw), dtype=np.float64)

    reader = _BitReader(payload, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    mcu_count = 0

    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError(f"expected RSTn, got 0x{m:02X}")
                preds = {comp["id"]: 0 for comp, _, _ in scan}
            for comp, td, ta in scan:
                qt = qts[comp["tq"]]
                dc_lut = huff[(0, td)]
                ac_lut = huff[(1, ta)]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        size = reader.decode_symbol(dc_lut)
                        diff = _extend(reader.read_bits(size), size)
                        preds[comp["id"]] += diff
                        zz[0] = preds[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_lut)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        nat = np.zeros(64)
                        nat[ZIGZAG] = zz
                        coeff = nat.reshape(8, 8) * qt
                        block = _T.T @ coeff @ _T + 128.0
                        py = (my * comp["v"] + by) * 8
                        px = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][py:py + 8, px:px + 8] = block
            mcu_count += 1

    comps = [c for c, _, _ in scan]
    if len(comps) == 1:
        y = np.clip(np.round(planes[comps[0]["id"]][:h, :w]), 0, 255)
        return y.astype(np.uint8)[..., None]

    def upsampled(comp) -> np.ndarray:
        p = planes[comp["id"]]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        return p[:h, :w]

    y = upsampled(comps[0])
    cb = upsampled(comps[1])
    cr = upsampled(comps[2])
    return _ycbcr_to_rgb(y, cb, cr)
