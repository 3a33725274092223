"""Pure-stdlib baseline JPEG codec (grayscale + YCbCr 4:2:0 color), no Pillow.

The frame codec of the MJPEG-in-AVI video path (kernels/avi.py,
`media_video_frames`). Lossy transform coding — the
decoder implements the REAL baseline pipeline (marker parse, DQT/DHT/SOF0/
SOS, Huffman entropy decode with byte-unstuffing and RST handling, per-
component DC prediction, interleaved-MCU raster, dezigzag, dequantize,
orthonormal 2-D IDCT, level shift+clamp, chroma upsample, YCbCr→RGB)
and the encoder the inverse. Tables are the public Annex K defaults
(K.1/K.2 quant, K.3-K.6 Huffman).

Oracle design (media_video_frames): JPEG is lossy, so a general image can't be
SQL-recomputed — but a PIECEWISE-FLAT image (each 8×8 block one constant c)
has a DC-only spectrum: DC = 8·(c−128), every AC exactly 0. The full lossy
chain then collapses to closed-form integer arithmetic

    decoded = clamp(round(round(8·(c−128)/Q₀₀) · Q₀₀ / 8) + 128, 0, 255)

which DuckDB reproduces exactly — while Spark actually Huffman-decodes real
scan bytes and runs the real IDCT. Encoding floats leave ACs at ~1e-13,
quantizing to 0, so the equality is exact, not approximate.

The color path extends the trick per channel (tests/test_jpeg.py):
images flat per 16×16 MCU in YCbCr with Y even (exact under luma Q₀₀=16:
8·ΔY divisible by 16) and Cb/Cr ≡ 128 (mod 17) (exact under chroma Q₀₀=17:
gcd(8,17)=1 forces the residue condition), so Y/Cb/Cr survive the lossy
chain bit-exactly; 4:2:0 subsampling of an MCU-flat plane is also exact.
The only remaining arithmetic is the decoder's fixed BT.601 conversion
(round-half-even on IEEE doubles), which DuckDB reproduces with
round_even() — exact agreement, channel by channel.

Scope (quarantine-on-miss): baseline sequential (SOF0), 8-bit, 1 component
(grayscale) or 3 components YCbCr with 4:4:4 or 4:2:0 sampling.
Progressive / 4:2:2 / 12-bit / CMYK raise ValueError → row quarantine.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# standard chrominance quantization table (Annex K.2), row-major
QTABLE_C = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# standard luminance quantization table (Annex K.1), row-major
QTABLE = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.3: luminance DC — BITS (codes per length 1..16) and values
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
# Annex K.5: luminance AC
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# Annex K.4: chrominance DC
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
# Annex K.6: chrominance AC
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length) per the canonical JPEG code assignment."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            c = math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)
            m[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


_DCT = _dct_matrix()
_DC_ENC = _huff_codes(DC_BITS, DC_VALS)
_AC_ENC = _huff_codes(AC_BITS, AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(
    wr: _BitWriter,
    block: np.ndarray,  # (8,8) float64, already level-shifted
    qtable: np.ndarray,
    dc_enc: dict,
    ac_enc: dict,
    prev_dc: int,
) -> int:
    """FDCT + quantize + entropy-code one block; returns the new DC
    predictor."""
    coef = _DCT @ block @ _DCT.T
    q = np.round(coef / qtable).astype(np.int32).reshape(-1)[ZIGZAG]
    # DC: difference coding
    dc = int(q[0])
    diff = dc - prev_dc
    cat = _category(diff) if diff else 0
    code, ln = dc_enc[cat]
    wr.put(code, ln)
    if cat:
        amp = diff if diff > 0 else diff + (1 << cat) - 1
        wr.put(amp, cat)
    # AC: run-length of zeros + category
    run = 0
    for k in range(1, 64):
        v = int(q[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_enc[0xF0]  # ZRL
            wr.put(zc, zl)
            run -= 16
        cat = _category(v)
        code, ln = ac_enc[(run << 4) | cat]
        wr.put(code, ln)
        amp = v if v > 0 else v + (1 << cat) - 1
        wr.put(amp, cat)
        run = 0
    if run:
        ec, el = ac_enc[0x00]  # EOB
        wr.put(ec, el)
    return dc


def _pad_to_blocks(a: np.ndarray, bs: int = 8) -> np.ndarray:
    h, w = a.shape
    return np.pad(
        a, ((0, -h % bs), (0, -w % bs)), mode="edge"  # spec-recommended
    )


def jpeg_encode(gray: np.ndarray) -> bytes:
    """(h, w) uint8 grayscale → baseline JPEG bytes (Annex K tables, no
    subsampling question — single component). Edge blocks pad by
    replication, the spec-recommended choice."""
    a = np.ascontiguousarray(gray, dtype=np.uint8)
    h, w = a.shape
    padded = _pad_to_blocks(a)
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8

    wr = _BitWriter()
    prev_dc = 0
    shifted = padded.astype(np.float64) - 128.0
    for by in range(bh):
        for bx in range(bw):
            prev_dc = _encode_block(
                wr,
                shifted[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8],
                QTABLE, _DC_ENC, _AC_ENC, prev_dc,
            )
    scan = wr.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)  # APP0 (1:1 aspect, no thumbnail)
    qz = QTABLE.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + qz  # DQT id 0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
        + bytes([1, 0x11, 0])  # SOF0: comp 1, 1x1 sampling, qtable 0
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(DC_VALS), 0x00) \
        + bytes(DC_BITS) + bytes(DC_VALS)  # DHT DC class0 id0
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(AC_VALS), 0x10) \
        + bytes(AC_BITS) + bytes(AC_VALS)  # DHT AC class1 id0
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# color (YCbCr, 4:2:0)
# ---------------------------------------------------------------------------

_DC_ENC_C = _huff_codes(DC_BITS_C, DC_VALS_C)
_AC_ENC_C = _huff_codes(AC_BITS_C, AC_VALS_C)


def rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 RGB → three (h, w) uint8 planes (JFIF full-range)."""
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    clip = lambda p: np.clip(np.round(p), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Three (h, w) uint8 planes → (h, w, 3) uint8 RGB. IEEE-double math +
    round-half-even, reproducible as SQL round_even() — the oracle contract."""
    yf = y.astype(np.float64)
    cbd = cb.astype(np.float64) - 128.0
    crd = cr.astype(np.float64) - 128.0
    r = np.clip(np.round(yf + 1.402 * crd), 0, 255)
    g = np.clip(np.round(yf - 0.344136 * cbd - 0.714136 * crd), 0, 255)
    b = np.clip(np.round(yf + 1.772 * cbd), 0, 255)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def _subsample_420(plane: np.ndarray) -> np.ndarray:
    """2×2 box-average (the canonical 4:2:0 downsample); odd dims pad by
    edge replication first so every 2×2 cell is full."""
    p = plane.astype(np.float64)
    p = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
    avg = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
    return np.clip(np.round(avg), 0, 255).astype(np.uint8)


def jpeg_encode_ycbcr(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray, subsample: bool = True
) -> bytes:
    """Full-resolution (h, w) uint8 Y/Cb/Cr planes → baseline color JPEG
    (interleaved single scan; 4:2:0 when ``subsample`` else 4:4:4).
    Luma uses Annex K.1/K.3/K.5 tables (ids 0), chroma K.2/K.4/K.6 (ids 1)."""
    if not (y.shape == cb.shape == cr.shape):
        raise ValueError("Y/Cb/Cr planes must share a shape")
    h, w = y.shape
    if subsample:
        cb_s, cr_s = _subsample_420(cb), _subsample_420(cr)
        hy, vy = 2, 2
    else:
        cb_s, cr_s = cb, cr
        hy, vy = 1, 1
    # pad each plane to whole MCUs (luma MCU = 8·hy × 8·vy; chroma 8×8)
    ys = _pad_to_blocks(np.ascontiguousarray(y, np.uint8), 8 * hy)
    cbs = _pad_to_blocks(cb_s, 8)
    crs = _pad_to_blocks(cr_s, 8)
    mcux, mcuy = cbs.shape[1] // 8, cbs.shape[0] // 8
    # luma padding above used its own dims; re-pad to the chroma MCU grid
    # (they can disagree by one block row/col when h or w is odd)
    ys = np.pad(
        ys,
        ((0, mcuy * 8 * vy - ys.shape[0]), (0, mcux * 8 * hy - ys.shape[1])),
        mode="edge",
    )
    yf = ys.astype(np.float64) - 128.0
    cbf = cbs.astype(np.float64) - 128.0
    crf = crs.astype(np.float64) - 128.0

    dc_enc_c, ac_enc_c = _DC_ENC_C, _AC_ENC_C
    wr = _BitWriter()
    dcs = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for v in range(vy):  # luma blocks, raster order within the MCU
                for hh in range(hy):
                    by, bx = my * vy + v, mx * hy + hh
                    dcs[0] = _encode_block(
                        wr,
                        yf[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8],
                        QTABLE, _DC_ENC, _AC_ENC, dcs[0],
                    )
            dcs[1] = _encode_block(
                wr, cbf[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8],
                QTABLE_C, dc_enc_c, ac_enc_c, dcs[1],
            )
            dcs[2] = _encode_block(
                wr, crf[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8],
                QTABLE_C, dc_enc_c, ac_enc_c, dcs[2],
            )
    scan = wr.flush()

    samp = (hy << 4) | vy
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    qz0 = QTABLE.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    qz1 = QTABLE_C.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + qz0  # DQT id 0 (luma)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 1) + qz1  # DQT id 1 (chroma)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3) \
        + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1])  # SOF0: Y, Cb, Cr
    for cls_id, bits, vals in (
        (0x00, DC_BITS, DC_VALS), (0x10, AC_BITS, AC_VALS),
        (0x01, DC_BITS_C, DC_VALS_C), (0x11, AC_BITS_C, AC_VALS_C),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(vals), cls_id) \
            + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3) \
        + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def jpeg_encode_color(rgb: np.ndarray, subsample: bool = True) -> bytes:
    """(h, w, 3) uint8 RGB → baseline color JPEG (real BT.601 conversion +
    4:2:0). The lossy entry point; exactness-preserving callers (the oracle
    synth) construct YCbCr planes directly via jpeg_encode_ycbcr."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB")
    y, cb, cr = rgb_to_ycbcr(np.ascontiguousarray(rgb, np.uint8))
    return jpeg_encode_ycbcr(y, cb, cr, subsample=subsample)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing
    and RSTn awareness (reset() is called by the block loop)."""

    def __init__(self, data: bytes, start: int) -> None:
        self.data = data
        self.pos = start
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RST marker reached mid-read
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xff{nxt:02x} in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_and_skip_rst(self) -> None:
        self.acc = 0
        self.n = 0
        # consume the RST marker bytes
        if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _huff_decoder(bits: list[int], vals: list[int]):
    """(code, length) → value lookup as nested dict keyed by (length, code)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huff(r: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _decode_block(r: _BitReader, dct: dict, act: dict, prev_dc: int,
                  q: np.ndarray) -> tuple[np.ndarray, int]:
    """Entropy-decode one block → ((8,8) uint8 pixels, new DC predictor)."""
    coeffs = np.zeros(64, dtype=np.int32)
    try:
        cat = _read_huff(r, dct)
        diff = _extend(r.bits(cat), cat) if cat else 0
        prev_dc += diff
        coeffs[0] = prev_dc
        k = 1
        while k < 64:
            rs = _read_huff(r, act)
            run, size = rs >> 4, rs & 0x0F
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC index overrun")
            coeffs[k] = _extend(r.bits(size), size)
            k += 1
    except _RestartMarker:
        raise ValueError("unexpected restart marker (DRI mismatch)")
    block = np.zeros(64, dtype=np.int32)
    block[ZIGZAG] = coeffs
    deq = block.reshape(8, 8) * q
    pix = _DCT.T @ deq.astype(np.float64) @ _DCT
    return np.clip(np.round(pix) + 128, 0, 255).astype(np.uint8), prev_dc


def jpeg_decode(raw: bytes) -> np.ndarray:
    """Baseline JPEG bytes → (h, w) uint8 for grayscale, (h, w, 3) uint8 RGB
    for 3-component YCbCr (4:4:4 or 4:2:0, single interleaved scan).
    Raises ValueError on shapes outside the declared scope (progressive,
    4:2:2, 12-bit, CMYK) — the callers' row quarantine."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    h = w = 0
    comps: list[tuple[int, int, int, int]] = []  # (id, h_i, v_i, tq)
    scan_tables: dict[int, tuple[int, int]] = {}  # comp id → (dc id, ac id)
    scan_order: list[int] = []
    restart_interval = 0
    scan_start = -1
    while pos < len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = raw[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seg_len,) = struct.unpack(">H", raw[pos:pos + 2])
        seg = raw[pos + 2:pos + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                z = np.frombuffer(seg, np.uint8, 64, i + 1).astype(np.int32)
                tbl = np.zeros(64, np.int32)
                tbl[ZIGZAG] = z
                qtables[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17:i + 17 + nv])
                (dc_tables if tc == 0 else ac_tables)[th] = _huff_decoder(bits, vals)
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if precision != 8:
                raise ValueError("only 8-bit baseline supported")
            if ncomp not in (1, 3):
                raise ValueError(
                    "only 1-component (grayscale) or 3-component (YCbCr) "
                    "JPEG in stdlib scope")
            for ci in range(ncomp):
                cid = seg[6 + 3 * ci]
                samp = seg[7 + 3 * ci]
                comps.append((cid, samp >> 4, samp & 0x0F, seg[8 + 3 * ci]))
            if ncomp == 1:
                if comps[0][1:3] != (1, 1):
                    raise ValueError("subsampled grayscale unsupported")
            else:
                ysamp = comps[0][1:3]
                if ysamp not in ((1, 1), (2, 2)) or any(
                    c[1:3] != (1, 1) for c in comps[1:]
                ):
                    raise ValueError(
                        "only 4:4:4 or 4:2:0 sampling in stdlib scope")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF 0x{marker:02x} unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            if ns != len(comps) or ns == 0:
                raise ValueError("scan must cover all frame components "
                                 "(progressive scans unsupported)")
            for si in range(ns):
                cid = seg[1 + 2 * si]
                tsel = seg[2 + 2 * si]
                scan_tables[cid] = (tsel >> 4, tsel & 0x0F)
                scan_order.append(cid)
            scan_start = pos + seg_len
            break
        pos += seg_len
    if scan_start < 0 or h == 0:
        raise ValueError("truncated JPEG: no SOS/SOF")
    if scan_order != [c[0] for c in comps]:
        raise ValueError("scan component order must match SOF order")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes: list[np.ndarray] = [
        np.empty((mcuy * 8 * c[2], mcux * 8 * c[1]), dtype=np.uint8)
        for c in comps
    ]
    qs = [qtables[c[3]] for c in comps]
    dcts = [dc_tables[scan_tables[c[0]][0]] for c in comps]
    acts = [ac_tables[scan_tables[c[0]][1]] for c in comps]

    r = _BitReader(raw, scan_start)
    prev = [0] * len(comps)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                r.align_and_skip_rst()
                prev = [0] * len(comps)
            mcu += 1
            for ci, (_cid, hi, vi, _tq) in enumerate(comps):
                for v in range(vi):
                    for hh in range(hi):
                        pix, prev[ci] = _decode_block(
                            r, dcts[ci], acts[ci], prev[ci], qs[ci]
                        )
                        by, bx = my * vi + v, mx * hi + hh
                        planes[ci][by * 8:(by + 1) * 8,
                                   bx * 8:(bx + 1) * 8] = pix
    if len(comps) == 1:
        return planes[0][:h, :w]
    # upsample chroma to luma resolution (sample replication), crop, convert
    full = []
    for ci, (_cid, hi, vi, _tq) in enumerate(comps):
        p = planes[ci]
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:h, :w])
    return ycbcr_to_rgb(full[0], full[1], full[2])
