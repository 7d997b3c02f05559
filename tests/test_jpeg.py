"""Baseline JPEG codec (operators/jpeg.py) — round-4 verdict item 7.

Clean-room ITU-T T.81 baseline sequential DCT with the Annex K tables;
the encoder is the deterministic fixture generator (no installed codec
package can produce a JPEG), the decoder is what the media_decode_jpeg
driver query and avi.decode_avi's MJPEG frames run.
"""

from __future__ import annotations

import numpy as np
import pytest

from ontologybasedkgcreation_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def _gradient(h=40, w=56):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=-1
    ).astype(np.uint8)


def test_flat_color_roundtrip_is_pixel_exact():
    """Flat blocks carry only a DC coefficient; at q95 the luma DC quant
    step (2) divides 8*(v-128) exactly, so the roundtrip is lossless —
    the same invariant the media_decode_jpeg oracle hashes."""
    img = np.full((16, 24, 3), (200, 64, 110), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (16, 24, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) == 0


def test_gray_flat_quadrants_exact_all_values():
    """Every gray value survives the flat-block roundtrip exactly (the
    oracle's provable-exactness claim, checked exhaustively)."""
    vals = np.arange(256, dtype=np.uint8)
    img = np.repeat(np.repeat(vals.reshape(16, 16), 8, 0), 8, 1)
    out = decode_jpeg(encode_jpeg(img))
    assert np.array_equal(out[..., 0], img)


def test_gradient_roundtrip_within_quantization_error():
    img = _gradient()
    out = decode_jpeg(encode_jpeg(img))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() < 1.0


def test_nonmultiple_of_8_dims_and_grayscale(monkeypatch):
    from ontologybasedkgcreation_spark.operators import jpeg

    monkeypatch.setattr(jpeg, "JPEG_QUALITY", 92)
    img = ((np.mgrid[0:23, 0:19][0] * 7) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (23, 19, 1)
    err = np.abs(out[..., 0].astype(int) - img.astype(int))
    assert err.max() <= 2


def test_420_subsampling_and_restart_markers():
    """The decoder's chroma-upsampling and RSTn/DC-reset paths, driven by
    the encoder's 4:2:0 and restart-interval modes; restart markers must
    not change the decoded image."""
    img = _gradient()
    base = decode_jpeg(encode_jpeg(img, subsampling="420"))
    rst = decode_jpeg(
        encode_jpeg(img, subsampling="420", restart_interval=3)
    )
    assert np.array_equal(base, rst)
    err = np.abs(base.astype(int) - img.astype(int))
    assert err.max() <= 8 and err.mean() < 2.0  # chroma box-average loss
    # flat color is still exact under 4:2:0 (constant chroma)
    flat = np.full((30, 18, 3), (90, 140, 33), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(flat, subsampling="420"))
    assert np.array_equal(out, flat)


def test_422_subsampling_roundtrip():
    """Horizontal-only chroma subsampling (h=2, v=1) — the third common
    web shape; the decoder's asymmetric upsampling path."""
    img = _gradient(24, 40)
    out = decode_jpeg(encode_jpeg(img, subsampling="422"))
    err = np.abs(out.astype(int) - img.astype(int))
    assert out.shape == img.shape
    assert err.max() <= 8 and err.mean() < 2.0
    flat = np.full((12, 20, 3), (10, 250, 77), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(flat, subsampling="422")), flat
    )


def test_encoder_is_deterministic():
    img = _gradient()
    assert encode_jpeg(img) == encode_jpeg(img)


def test_progressive_and_garbage_rejected():
    img = _gradient(8, 8)
    payload = bytearray(encode_jpeg(img))
    # flip SOF0 (FFC0) to SOF2 (FFC2): progressive must raise, not garble
    i = bytes(payload).find(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")

