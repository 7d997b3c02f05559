"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction / resize / frame-sampling are
``mapInPandas`` stages whose Spark-side contract (schema, batch shape,
partitioning) is real and tested here.

Decoders (rounds 4-5): the container has no codec *packages*, but PNG, BMP,
WAV and baseline JPEG are decodable with stdlib+numpy alone —
``decode_png`` implements the public PNG spec (zlib-inflate IDAT,
per-scanline unfiltering, 8-bit gray/RGB/RGBA), ``decode_bmp`` the
uncompressed 24-bit BMP layout, ``decode_wav`` uses the stdlib ``wave``
reader, and ``jpeg.decode_jpeg`` implements ITU-T T.81 baseline
sequential DCT (Huffman + dequant + IDCT, 4:4:4/4:2:2/4:2:0, restart
markers) — so ``decoder='real'`` performs ACTUAL media decode
end-to-end, plus ``resize_nearest`` for real downsampling.  Round 5 adds
REAL video for the one codec-free container: MJPEG-in-AVI (``avi.py`` —
RIFF chunk walking + per-frame T.81 JPEG), with
``frame_sample_features`` decoding ONLY the sampled frames.
Codec-compressed video (H.264/VP9/AV1 — entropy coders not
stdlib-implementable) remains the ``NotImplementedError``
``decode_stub`` integration point; ``decoder='fake'`` remains the
deterministic byte-histogram double for shape tests.

At 100 TB the payload column dominates I/O: keep it in its own parquet column
(column pruning skips it unless a decode stage runs), partition by content
bucket, and size ``spark.sql.files.maxPartitionBytes`` so one task holds a
few hundred payloads, not gigabytes.
"""

from __future__ import annotations

import io
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA_DDL = (
    "media_id long, kind string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURES_SCHEMA = "media_id long, kind string, n_bytes long, features array<float>"


def decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """Integration point for formats needing external codecs
    (codec-compressed video: H.264/VP9/AV1 inter-frame entropy coders are
    not stdlib-implementable).  PNG/BMP/WAV, baseline JPEG, and
    MJPEG-in-AVI video decode is REAL (decode_png / decode_bmp /
    decode_wav / jpeg.decode_jpeg / avi.decode_avi_mjpeg)."""
    raise NotImplementedError(
        "decoding this format requires codecs not present in this "
        "environment (compressed video: plug pyav / torchvision in "
        "here); PNG, BMP, WAV, baseline JPEG and MJPEG AVI payloads are "
        "decoded natively by decoder='real'"
    )


# ---------------------------------------------------------------------------
# real stdlib decoders (public format specs; no external packages)
# ---------------------------------------------------------------------------

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
    fixture generator for the real decoder's tests."""
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


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP bytes -> (H, W, 3) uint8 RGB, stdlib only
    (BITMAPINFOHEADER; rows are bottom-up and 4-byte padded, pixels BGR)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", payload[10:14])
    hdr_size, width, height = struct.unpack("<IiI", payload[14:26])
    planes, bpp, compression = struct.unpack("<HHI", payload[26:34])
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression} outside the "
            "uncompressed 24-bit subset"
        )
    stride = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        off = data_off + y * stride
        row = np.frombuffer(payload, dtype=np.uint8, count=width * 3, offset=off)
        rows.append(row.reshape(width, 3)[:, ::-1])  # BGR -> RGB
    return np.stack(rows[::-1])  # bottom-up -> top-down


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> uncompressed 24-bit BMP bytes — fixture
    generator for the decoder's tests."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = img[y][:, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    data_off = 54
    return (
        b"BM"
        + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
        + struct.pack("<IiIHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
        + bytes(body)
    )


def decode_wav(payload: bytes) -> dict:
    """WAV bytes -> {samples int16 (n, channels), rate, channels,
    duration_ms} via the stdlib ``wave`` reader (16-bit PCM)."""
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        n, ch, rate = wf.getnframes(), wf.getnchannels(), wf.getframerate()
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").reshape(-1, ch)
    return {
        "samples": samples,
        "rate": rate,
        "channels": ch,
        "duration_ms": int(round(1000 * n / rate)) if rate else 0,
    }


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 (n,) or (n, ch) -> WAV bytes — fixture generator."""
    import wave

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(s.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(s.tobytes())
    return buf.getvalue()


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W, C) array — the real resize
    stage (pure numpy index maps, no codec needed)."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return img[ys[:, None], xs[None, :]]


def _image_features(img: np.ndarray) -> np.ndarray:
    """(H, W, C) uint8 -> the 16-dim image feature vector (mean/std per
    up-to-4 channels scaled 0-1, then an L1-normalized 8-bin luminance
    histogram) — shared by the still-image and video-frame paths."""
    out = np.zeros(16, dtype=np.float32)
    img = img.astype(np.float32)
    if img.ndim == 2:
        img = img[..., None]
    ch = img.shape[2]
    for c in range(min(ch, 4)):
        out[c] = img[..., c].mean() / 255.0
        out[4 + c] = img[..., c].std() / 255.0
    lum = img[..., : min(ch, 3)].mean(axis=2)
    hist = np.histogram(lum, bins=8, range=(0.0, 256.0))[0].astype(np.float32)
    out[8:16] = hist / max(hist.sum(), 1.0)
    return out


def decode_real(payload: bytes, kind: str) -> np.ndarray:
    """REAL decode -> 16-dim float32 feature vector.

    - PNG/BMP/JPEG image: [mean/std per up-to-4 channels (scaled 0-1),
      then an 8-bin luminance histogram (L1-normalized)];
    - MJPEG AVI video: the image features of the FIRST frame (the
      thumbnail convention; per-frame features come from
      ``frame_sample_features``, which decodes only sampled frames);
    - WAV audio: [rms, zero-crossing rate, duration_s (capped 1), channels/8,
      then an 8-bin absolute-amplitude histogram, then 4 zeros];
    - anything else: the documented NotImplementedError integration point.
    """
    out = np.zeros(16, dtype=np.float32)
    if (
        payload[:8] == _PNG_MAGIC
        or payload[:2] == b"BM"
        or payload[:2] == b"\xff\xd8"
    ):
        if payload[:8] == _PNG_MAGIC:
            img = decode_png(payload)
        elif payload[:2] == b"BM":
            img = decode_bmp(payload)
        else:
            from .jpeg import decode_jpeg

            img = decode_jpeg(payload)
        return _image_features(img)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from .avi import decode_avi

        # codec dispatch: MJPG via T.81, BI_RGB raw DIB via byte
        # arithmetic; H.264-class codecs raise (decode_stub boundary)
        frames = decode_avi(payload, indices=[0])["frames"]
        return _image_features(frames[0]) if frames else out
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        wav = decode_wav(payload)
        s = wav["samples"].astype(np.float32) / 32768.0
        mono = s.mean(axis=1)
        out[0] = float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0
        if len(mono) > 1:
            out[1] = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        out[2] = min(wav["duration_ms"] / 1000.0, 1.0)
        out[3] = wav["channels"] / 8.0
        hist = np.histogram(np.abs(mono), bins=8, range=(0.0, 1.0))[0].astype(
            np.float32
        )
        out[8:16] = hist / max(hist.sum(), 1.0)
        return out
    return decode_stub(payload, kind)


def decode_fake(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic fake decode: 16-bin byte histogram, L1-normalized —
    exercises the exact batch shape a real decoder would produce."""
    if not payload:
        return np.zeros(16, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16).astype(np.float32)
    return hist / max(hist.sum(), 1.0)


def extract_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """payload -> feature vector, Arrow-batched.  ``decoder='real'`` runs
    the stdlib PNG/WAV decoders (unsupported formats raise at the
    ``decode_stub`` integration point); ``'stub'`` raises for everything
    (documents the integration point); ``'fake'`` is the deterministic
    byte-histogram double."""
    fn = {"stub": decode_stub, "fake": decode_fake, "real": decode_real}[
        decoder
    ]

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                fn(p, k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(
        _feat, schema=FEATURES_SCHEMA
    )


def frame_sample_features(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling: for each MJPEG-AVI payload, decode ONE
    frame per ``every_ms`` of media time and emit its image features —
    (media_id, frame_ts_ms, features array<float>).

    Scale shape: the container walk (`avi.avi_frame_payloads`) extracts
    the sampled frames' JPEG bytes by chunk-offset arithmetic, so decode
    cost is O(sampled frames), never O(all frames) — at 100 TB of video
    this is the whole ballgame.  One Arrow stage; a task holds a batch
    of payloads, so size ``spark.sql.files.maxPartitionBytes`` for a few
    hundred payloads per task (module docstring)."""
    from .avi import avi_metadata, decode_avi

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tss, feats = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload or b"")
                meta = avi_metadata(payload)
                fps = meta["fps"]
                if not fps or not meta["n_frames"]:
                    continue
                step = max(int(round(every_ms * fps / 1000.0)), 1)
                idx = list(range(0, meta["n_frames"], step))
                frames = decode_avi(payload, indices=idx)["frames"]
                for i, img in zip(idx, frames):
                    ids.append(mid)
                    tss.append(int(round(i * 1000.0 / fps)))
                    feats.append(_image_features(img).tolist())
            yield pd.DataFrame(
                {"media_id": ids, "frame_ts_ms": tss, "features": feats}
            )

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(
            _sample,
            schema="media_id long, frame_ts_ms long, features array<float>",
        )
    )
