"""Clean-room AVI container codec (public Microsoft RIFF/AVI spec) for the
two codec-free video families: Motion-JPEG and uncompressed BI_RGB DIB.

The engine's KG stages treat media as opaque ``binary`` payloads (the
reference has no video path at all).  AVI is a length-prefixed RIFF chunk
tree parseable with ``struct``; each ``00dc`` MJPEG frame chunk is a
complete baseline JPEG, which :mod:`.jpeg` encodes and decodes from the
T.81 spec, and each ``00db`` chunk is a raw bottom-up BGR bitmap.
Codec-compressed video (H.264/VP9/AV1) is not implementable here: its
entropy coders need a codec library, so :func:`decode_avi` rejects it.

Layout written (and accepted) — the minimal standard-conform shape:

    RIFF <size> 'AVI '
      LIST 'hdrl'
        'avih' (56-byte MainAVIHeader)
        LIST 'strl'
          'strh' (56-byte AVIStreamHeader, fccType 'vids', handler 'MJPG')
          'strf' (40-byte BITMAPINFOHEADER, biCompression 'MJPG')
      LIST 'movi'
        '00dc' <jpeg bytes> ...   (word-aligned, as the spec requires)
      'idx1' (16-byte entries, AVIIF_KEYFRAME)

Scale shape: container parsing is header-walking over offsets — frame
PAYLOAD extraction never decodes pixels, so ``decode_avi(indices=...)``
decodes ONLY the sampled frames (the ``media_decode_video`` driver query
samples frames 0 and 2 of 3).
"""

from __future__ import annotations

import struct
from typing import List, Optional

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg

# the frame rates the two encoders stamp into the AVI header
MJPEG_FPS = 10
RAW_FPS = 4

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One RIFF chunk, word-aligned (odd-length payloads get a pad byte
    that is NOT counted in the stored size — per the RIFF spec)."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def _frame_to_dib(f: np.ndarray) -> bytes:
    """One uint8 frame -> uncompressed DIB pixel payload: bottom-up rows,
    BGR byte order, each row padded to a 4-byte boundary (the BI_RGB
    bitmap layout from the public BITMAPINFOHEADER spec).  Gray frames
    are stored as r=g=b."""
    if f.ndim == 2:
        f = np.repeat(f[:, :, None], 3, axis=2)
    if f.ndim != 3 or f.shape[2] != 3:
        raise ValueError("raw AVI frames must be (H, W) gray or (H, W, 3) RGB")
    h, w = f.shape[:2]
    bgr = f[::-1, :, ::-1].astype(np.uint8)  # bottom-up + RGB->BGR
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    if pad:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        return rows.tobytes()
    return bgr.tobytes()


def _dib_to_frame(payload: bytes, w: int, h: int) -> np.ndarray:
    """Inverse of :func:`_frame_to_dib` -> (H, W, 3) RGB uint8."""
    stride = (w * 3 + 3) & ~3
    if len(payload) < stride * h:
        raise ValueError("truncated DIB frame payload")
    rows = np.frombuffer(payload[: stride * h], dtype=np.uint8).reshape(
        h, stride
    )
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    return bgr[::-1, :, ::-1].copy()


def encode_avi_mjpeg(
    frames: List[np.ndarray], subsampling: str = "444"
) -> bytes:
    """uint8 frames (all the same (H, W[, C]) shape) -> MJPEG AVI bytes at
    MJPEG_FPS.

    Each frame is JPEG-encoded via :func:`.jpeg.encode_jpeg` (so the
    flat-gray q95 exactness proof carries over frame-by-frame) and laid
    into ``00dc`` chunks with a standard ``idx1`` index."""
    return _encode_avi(
        frames,
        MJPEG_FPS,
        codec="MJPG",
        encode_frame=lambda f: encode_jpeg(f, subsampling=subsampling),
    )


def encode_avi_raw(frames: List[np.ndarray]) -> bytes:
    """uint8 frames -> UNCOMPRESSED (BI_RGB 24-bit DIB) AVI bytes at
    RAW_FPS — the
    raw-video container path: no entropy coder anywhere, so decode is
    pure offset arithmetic + a byte shuffle.  Round-trips pixel-exactly
    for any RGB content (gray input comes back as r=g=b)."""
    return _encode_avi(frames, RAW_FPS, codec="DIB ", encode_frame=_frame_to_dib)


def _encode_avi(
    frames: List[np.ndarray], fps: int, codec: str, encode_frame
) -> bytes:
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share one (H, W) shape")
        payloads.append(encode_frame(f))
    max_bytes = max(len(p) for p in payloads)
    is_raw = codec == "DIB "
    # BI_RGB (0) for raw DIB; the handler fourcc otherwise
    bi_compression = b"\x00\x00\x00\x00" if is_raw else codec.encode("ascii")
    chunk_id = b"00db" if is_raw else b"00dc"

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,          # dwMicroSecPerFrame
        max_bytes * fps,           # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        _AVIF_HASINDEX,            # dwFlags
        len(payloads),             # dwTotalFrames
        0,                         # dwInitialFrames
        1,                         # dwStreams
        max_bytes,                 # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + codec.encode("ascii")
        + struct.pack(
            "<IHHIIIIIII",
            0, 0, 0,               # dwFlags, wPriority, wLanguage
            0,                     # dwInitialFrames
            1, fps,                # dwScale / dwRate -> fps
            0,                     # dwStart
            len(payloads),         # dwLength (in frames)
            max_bytes,             # dwSuggestedBufferSize
            0xFFFFFFFF,            # dwQuality (default)
        )
        # dwSampleSize: fixed frame size for raw DIB, 0 (variable) for MJPG
        + struct.pack("<I", max_bytes if is_raw else 0)
        + struct.pack("<4h", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, bi_compression, max_bytes, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_body = b"movi"
    idx_entries = []
    for p in payloads:
        # idx1 offsets are measured from the 'movi' fourcc per convention
        idx_entries.append(
            chunk_id
            + struct.pack("<III", _AVIIF_KEYFRAME, len(movi_body), len(p))
        )
        movi_body += _chunk(chunk_id, p)
    movi = _chunk(b"LIST", movi_body)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))

    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def is_avi(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"AVI "
    )


def _walk_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_len) over a chunk run,
    tolerating truncation (a short final chunk is clipped, not fatal —
    web-crawled media is routinely cut off mid-transfer)."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        start = pos + 8
        yield fourcc, start, min(size, end - start)
        pos = start + size + (size % 2)


def avi_metadata(payload: bytes) -> dict:
    """Header-only probe: width/height/fps/n_frames/duration_ms without
    touching (or decoding) any frame data."""
    if not is_avi(payload):
        raise ValueError("not a RIFF/AVI payload")
    meta = {"width": 0, "height": 0, "fps": 0.0, "n_frames": 0,
            "duration_ms": 0, "handler": "", "compression": "",
            "bit_count": 0}
    usec_per_frame = 0
    vids_stream = False
    for fourcc, start, size in _walk_chunks(payload, 12, len(payload)):
        if fourcc != b"LIST" or payload[start : start + 4] != b"hdrl":
            continue
        for f2, s2, z2 in _walk_chunks(payload, start + 4, start + size):
            if f2 == b"avih" and z2 >= 40:
                vals = struct.unpack_from("<10I", payload, s2)
                usec_per_frame = vals[0]
                meta["n_frames"] = vals[4]
                meta["width"], meta["height"] = vals[8], vals[9]
            elif f2 == b"LIST" and payload[s2 : s2 + 4] == b"strl":
                vids_stream = False
                for f3, s3, z3 in _walk_chunks(payload, s2 + 4, s2 + z2):
                    if f3 == b"strh" and z3 >= 36:
                        vids_stream = payload[s3 : s3 + 4] == b"vids"
                        if not vids_stream:
                            continue
                        meta["handler"] = payload[s3 + 4 : s3 + 8].decode(
                            "ascii", "replace"
                        )
                        scale, rate = struct.unpack_from("<II", payload, s3 + 20)
                        if scale:
                            meta["fps"] = rate / scale
                    elif f3 == b"strf" and z3 >= 20 and vids_stream:
                        # BITMAPINFOHEADER: biBitCount @14, biCompression
                        # @16 (0 = BI_RGB raw DIB, else a codec fourcc)
                        (meta["bit_count"],) = struct.unpack_from(
                            "<H", payload, s3 + 14
                        )
                        comp = payload[s3 + 16 : s3 + 20]
                        meta["compression"] = (
                            "BI_RGB"
                            if comp == b"\x00\x00\x00\x00"
                            else comp.decode("ascii", "replace")
                        )
    if not meta["fps"] and usec_per_frame:
        meta["fps"] = 1_000_000 / usec_per_frame
    if meta["fps"]:
        meta["duration_ms"] = int(round(meta["n_frames"] * 1000 / meta["fps"]))
    return meta


def avi_frame_payloads(
    payload: bytes, indices: Optional[List[int]]
) -> List[bytes]:
    """The raw JPEG bytes of each video frame chunk (``00dc``/``00db``),
    in stream order — NO pixel decoding.  ``indices`` restricts the
    result to those frame numbers (the frame-sampling fast path: the
    container walk is O(chunks), decode cost is O(len(indices)))."""
    if not is_avi(payload):
        raise ValueError("not a RIFF/AVI payload")
    want = set(indices) if indices is not None else None
    out = []
    n = 0
    for fourcc, start, size in _walk_chunks(payload, 12, len(payload)):
        if fourcc != b"LIST" or payload[start : start + 4] != b"movi":
            continue
        for f2, s2, z2 in _walk_chunks(payload, start + 4, start + size):
            if f2[2:4] in (b"dc", b"db") and f2[:2].isdigit():
                if want is None or n in want:
                    out.append(payload[s2 : s2 + z2])
                n += 1
    return out


def decode_avi(payload: bytes, indices: Optional[List[int]] = None) -> dict:
    """AVI -> {'frames': [uint8 arrays], ...metadata} dispatched on the
    strf compression: 'MJPG' frames decode through the T.81 baseline
    decoder, BI_RGB (raw 24-bit DIB) frames through pure offset/byte
    arithmetic.  Any other codec (H.264/VP9/AV1 fourccs) raises
    ``ValueError``.  ``indices`` decodes only those frames (sampling
    path)."""
    meta = avi_metadata(payload)
    raw_payloads = avi_frame_payloads(payload, indices)
    if meta["compression"] == "MJPG":
        frames = [decode_jpeg(p) for p in raw_payloads]
    elif meta["compression"] == "BI_RGB":
        if meta["bit_count"] != 24:
            raise ValueError(
                f"raw DIB decode supports 24-bit BI_RGB only, "
                f"got bit_count={meta['bit_count']}"
            )
        frames = [
            _dib_to_frame(p, meta["width"], meta["height"])
            for p in raw_payloads
        ]
    else:
        raise ValueError(
            f"unsupported AVI codec {meta['compression']!r}: only MJPG "
            "and BI_RGB decode without a codec library"
        )
    return {"frames": frames, **meta}

