"""Stdlib baseline JPEG codec (kernels/jpeg.py): real Huffman + DCT round
trips, the DC-only closed form that backs the media_video_frames oracle,
the flat-MCU YCbCr construction that makes the color path exact,
lossy-bound checks on arbitrary images, and quarantine on out-of-scope
shapes (progressive / 4:2:2 / truncated)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from deepdoctection_spark.kernels.jpeg import (
    QTABLE,
    QTABLE_C,
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_color,
    jpeg_encode_ycbcr,
    rgb_to_ycbcr,
    ycbcr_to_rgb,
)


def _flat_block_img(mid: int, even: bool = True):
    """Piecewise-flat per-8x8-block image; even deltas → exactly lossless."""
    bw, bh = 2 + mid % 3, 2 + mid % 2
    step = 2 if even else 1
    vals = step * ((mid % 256 + 17 * np.arange(bh * bw)) % (256 // step))
    return np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1).astype(
        np.uint8
    )


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 4, 5, 17, 100, 255])
def test_flat_blocks_exactly_lossless(mid):
    img = _flat_block_img(mid)
    np.testing.assert_array_equal(jpeg_decode(jpeg_encode(img)), img)


def test_dc_closed_form_matches_oracle_algebra():
    """decoded = clamp(round(round(8(c-128)/Q00)*Q00/8)+128) — the formula
    the DuckDB oracle relies on (module docstring). With Q00=16 the DC
    quotient is (c-128)/2: EVEN levels are integer quotients (no rounding
    boundary → exactly lossless, the oracle's construction); ODD levels sit
    exactly on x.5 where float jitter may round either way → decoded is
    c±1. The test pins both regimes."""
    q00 = int(QTABLE[0, 0])
    assert q00 == 16  # Annex K.1 — the even-delta oracle algebra assumes it
    for c in range(0, 256, 2):  # even: exact
        out = jpeg_decode(jpeg_encode(np.full((8, 8), c, dtype=np.uint8)))
        assert (out == c).all(), (c, out[0, 0])
    for c in [1, 7, 77, 129, 255]:  # odd: half-boundary, one step either way
        out = jpeg_decode(jpeg_encode(np.full((8, 8), c, dtype=np.uint8)))
        v = int(out[0, 0])
        assert (out == v).all() and v in (max(c - 1, 0), min(c + 1, 255)), (
            c, v)


def test_lossy_roundtrip_bounded_error():
    # smooth gradient: baseline JPEG at Annex-K quality keeps error small
    x = np.linspace(0, 255, 64)
    img = ((x[None, :] + x[:, None]) / 2).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(img))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 24
    assert abs(float(out.mean()) - float(img.mean())) < 2.0


def test_non_multiple_of_8_dims_edge_padding():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(13, 21), dtype=np.uint8)
    out = jpeg_decode(jpeg_encode(img))
    assert out.shape == (13, 21)  # decoder crops the padded block grid


def test_ac_coefficients_exercised():
    """A non-flat block must emit real AC codes (ZRL/EOB paths), not just
    DC — guard that the scan isn't degenerate."""
    img = np.zeros((8, 8), dtype=np.uint8)
    img[0, 0] = 255
    raw = jpeg_encode(img)
    out = jpeg_decode(raw)
    # energy concentrates where it started; decode is a real IDCT result
    assert out[0, 0] > out[7, 7]
    assert out.std() > 0


def test_out_of_scope_quarantines():
    with pytest.raises(ValueError, match="signature"):
        jpeg_decode(b"NOTAJPEG" + b"\x00" * 16)
    raw = bytearray(jpeg_encode(_flat_block_img(3)))
    sof = raw.find(b"\xff\xc0")
    assert sof > 0
    raw2 = bytes(raw[:sof]) + b"\xff\xc2" + bytes(raw[sof + 2:])
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg_decode(raw2)
    with pytest.raises((ValueError, IndexError)):
        jpeg_decode(bytes(raw[: len(raw) // 2]))


def _flat_mcu_ycbcr(mid: int):
    """The exact color construction: flat per 16x16 MCU, Y even,
    Cb/Cr = 128 mod 17 — exactly lossless through the 4:2:0 chain."""
    seed = mid % 256
    bw, bh = 1 + mid % 3, 1 + mid % 2
    b = np.arange(bh * bw)
    up = lambda v: np.repeat(  # noqa: E731
        np.repeat(v.reshape(bh, bw), 16, 0), 16, 1
    ).astype(np.uint8)
    y = up(2 * ((seed + 17 * b) % 128))
    cb = up(128 + 17 * (((seed + 3 * b) % 15) - 7))
    cr = up(128 + 17 * (((seed + 5 * b) % 15) - 7))
    return y, cb, cr


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 5, 17, 100, 255])
def test_color_flat_mcu_exactly_lossless(mid):
    """Real interleaved 4:2:0 scan decode equals the closed-form oracle
    pixel values (decode = ycbcr_to_rgb of the synthesized planes)."""
    y, cb, cr = _flat_mcu_ycbcr(mid)
    dec = jpeg_decode(jpeg_encode_ycbcr(y, cb, cr))
    assert dec.shape == (y.shape[0], y.shape[1], 3)
    np.testing.assert_array_equal(dec, ycbcr_to_rgb(y, cb, cr))


def test_color_444_path():
    y, cb, cr = _flat_mcu_ycbcr(7)
    dec = jpeg_decode(jpeg_encode_ycbcr(y, cb, cr, subsample=False))
    np.testing.assert_array_equal(dec, ycbcr_to_rgb(y, cb, cr))


def test_chroma_exactness_algebra():
    """Q00(chroma)=17 and gcd(8,17)=1 force Cb/Cr = 128 (mod 17) for DC
    exactness — the residue condition the color oracle's construction uses."""
    assert int(QTABLE_C[0, 0]) == 17  # Annex K.2
    for c in (9, 26, 128, 145, 247):  # 128 + 17k: survives exactly
        assert (8 * (c - 128)) % 17 == 0
    assert (8 * (129 - 128)) % 17 != 0  # off-residue would quantize lossily


def test_color_rgb_roundtrip_bounded_error():
    """Smooth RGB image through the real lossy chain (BT.601 both ways +
    4:2:0): bounded error, exact shape, odd dims crop correctly."""
    x = np.linspace(0, 255, 37)
    base = ((x[None, :] + x[:, None]) / 2).astype(np.uint8)
    rgb = np.stack([base, 255 - base, base // 2 + 64], axis=2)
    out = jpeg_decode(jpeg_encode_color(rgb))
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 40
    assert abs(float(out.mean()) - float(rgb.mean())) < 3.0


def test_rgb_ycbcr_conversion_pair():
    """Conversion matrices are mutual inverses up to rounding (±2/channel)."""
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    back = ycbcr_to_rgb(*rgb_to_ycbcr(rgb))
    assert np.abs(back.astype(int) - rgb.astype(int)).max() <= 2


def test_unsupported_sampling_rejected():
    # patch the Y sampling byte of a real color JPEG to 4:2:2 (0x21) →
    # stdlib scope rejects it
    y, cb, cr = _flat_mcu_ycbcr(4)
    raw = bytearray(jpeg_encode_ycbcr(y, cb, cr))
    sof = raw.find(b"\xff\xc0")
    assert raw[sof + 11] == 0x22  # Y sampling (2,2)
    raw[sof + 11] = 0x21
    with pytest.raises(ValueError, match="4:2:0"):
        jpeg_decode(bytes(raw))


def test_color_restores_component_count():
    # 4-component (CMYK-style) SOF is out of scope
    y, cb, cr = _flat_mcu_ycbcr(4)
    raw = bytearray(jpeg_encode_ycbcr(y, cb, cr))
    sof = raw.find(b"\xff\xc0")
    raw[sof + 9] = 4  # ncomp byte
    with pytest.raises(ValueError, match="stdlib scope"):
        jpeg_decode(bytes(raw))


def test_header_fields():
    img = _flat_block_img(2)
    raw = jpeg_encode(img)
    assert raw[:2] == b"\xff\xd8" and raw[-2:] == b"\xff\xd9"
    sof = raw.find(b"\xff\xc0")
    h, w = struct.unpack(">HH", raw[sof + 5:sof + 9])
    assert (h, w) == img.shape


def test_byte_stuffing_roundtrip():
    """Scan data containing 0xFF bytes must be stuffed/unstuffed; sweep many
    flat levels so some Huffman streams hit 0xFF alignment."""
    for mid in range(40):
        img = _flat_block_img(mid, even=False)
        out = jpeg_decode(jpeg_encode(img))
        assert out.shape == img.shape
