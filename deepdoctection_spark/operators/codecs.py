"""Codec adapter seams: pluggable decode behind a magic-byte registry.

The reference consumes media through predictor-shaped adapters
(`ObjectDetector.predict(np_img)`, `PdfMiner.predict(bytes)`,
/root/reference/deepdoctection/extern/base.py:118-439) so a user can swap
backends without touching the pipeline. This module is that seam for the
Spark engine: every production decode path (operators/multimodal.py) calls
the registry, which dispatches on the payload's leading magic bytes:

- built-in fake codecs (FIMG/FPCM/FVID) — always available, fully
  oracle-checked (the sandbox path);
- PNG via a pure-stdlib decoder/encoder (zlib + struct + numpy unfilter) —
  a REAL image codec on the oracle-checked path, no Pillow needed;
- PDF text + positioned runs via a pure-stdlib parser (kernels/pdf.py:
  object scan, FlateDecode, page tree, BT/ET text machine) — a REAL
  document codec on the oracle-checked path; pypdf/pdfplumber, when
  installed, override it for shapes outside the stdlib scope;
- real codecs gated behind import-try: JPEG via Pillow (absent in this
  container — its contract test is skip-marked, the dispatch plumbing
  is not);
- WAV via the stdlib ``wave`` module — a REAL codec that works everywhere,
  exercised unskipped;
- user plug-ins via register_image_decoder / register_audio_decoder — the
  documented adapter API (plug pdfplumber/PIL outside the sandbox without
  touching the engine).

Decoders raise NotImplementedError with an actionable message when the
backing library is absent; the per-row quarantine in the operators turns
that into an `error` column value, never a task failure.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Callable

import numpy as np

try:  # optional: real image codecs
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - absent in the build container
    _PILImage = None

try:  # optional: PDF page-text extraction
    import pypdf as _pypdf
except ImportError:  # pragma: no cover
    _pypdf = None

try:  # optional: positioned PDF text runs (the PdfMiner.predict seam)
    import pdfplumber as _pdfplumber
except ImportError:  # pragma: no cover
    _pdfplumber = None


# ---------------------------------------------------------------------------
# image decoders: magic prefix → fn(raw) -> np.ndarray (h, w, c)
# ---------------------------------------------------------------------------


def _pil_decode(raw: bytes) -> np.ndarray:
    if _PILImage is None:
        raise NotImplementedError(
            "PNG/JPEG decode needs Pillow — `pip install pillow` outside the "
            "sandbox; the FIMG fake codec covers the plumbing here"
        )
    a = np.asarray(_PILImage.open(io.BytesIO(raw)).convert("RGB"))
    return a


def _fimg_decode(raw: bytes) -> np.ndarray:
    from deepdoctection_spark.operators.multimodal import fimg_decode

    return fimg_decode(raw)


# ---------------------------------------------------------------------------
# stdlib PNG codec: a REAL image codec with zero external dependencies.
#
# Non-interlaced, bit-depth-8 gray/RGB/RGBA PNG per the W3C spec (chunk
# layout + CRC32, zlib-inflated scanlines, the five scanline filters). The
# reference consumes real pixels everywhere (datapoint/convert.py:78-166 via
# Pillow/cv2); this puts one real pixel path on the oracle-checked sandbox
# path instead of gating everything behind absent libraries.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples per pixel


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (PNG spec §9.4)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunks(raw: bytes):
    if raw[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    while pos + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        tag = raw[pos + 4 : pos + 8]
        payload = raw[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", raw[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        yield tag, payload
        pos += 12 + length
        if tag == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def png_decode(raw: bytes) -> np.ndarray:
    """PNG bytes → (h, w, channels) uint8. Supports bit depth 8, color types
    0/2/4/6 (gray, RGB, gray+alpha, RGBA), interlace 0 — the overwhelmingly
    common shapes; everything else raises ValueError (→ row quarantine)."""
    ihdr = None
    idat = bytearray()
    for tag, payload in _png_chunks(raw):
        if tag == b"IHDR":
            ihdr = struct.unpack(">II5B", payload)
        elif tag == b"IDAT":
            idat += payload
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in _PNG_CHANNELS or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG shape: depth={depth} color={ctype} interlace={interlace}"
        )
    bpp = _PNG_CHANNELS[ctype]
    stride = w * bpp
    data = zlib.decompress(bytes(idat))
    if len(data) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        f = data[pos]
        cur = np.frombuffer(data, np.uint8, stride, pos + 1).astype(np.int32)
        pos += stride + 1
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: per-channel-lane prefix sum mod 256
            rec = (np.cumsum(cur.reshape(w, bpp), axis=0) % 256).reshape(-1)
        elif f == 2:  # Up
            rec = (cur + prior) % 256
        elif f in (3, 4):  # Average / Paeth: left-dependency → per-pixel walk
            rec = np.empty(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            upleft = np.zeros(bpp, dtype=np.int32)
            for x in range(0, stride, bpp):
                up = prior[x : x + bpp]
                if f == 3:
                    v = (cur[x : x + bpp] + (left + up) // 2) % 256
                else:
                    v = (cur[x : x + bpp] + _paeth(left, up, upleft)) % 256
                rec[x : x + bpp] = v
                left = v
                upleft = up
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = rec.astype(np.uint8)
        prior = rec
    return out.reshape(h, w, bpp)


def png_encode(arr: np.ndarray, level: int = 6) -> bytes:
    """(h, w[, c]) uint8 → PNG bytes. The scanline filter cycles y % 5 so a
    round-trip exercises every filter type (None/Sub/Up/Average/Paeth) —
    deliberately NOT the smallest output, but a deterministic one."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    rows = a.reshape(h, w * c).astype(np.int32)
    left = np.zeros_like(rows)
    left[:, c:] = rows[:, :-c]
    up = np.zeros_like(rows)
    up[1:] = rows[:-1]
    upleft = np.zeros_like(rows)
    upleft[1:, c:] = rows[:-1, :-c]
    filtered = {
        0: rows,
        1: rows - left,
        2: rows - up,
        3: rows - (left + up) // 2,
        4: rows - _paeth(left, up, upleft),
    }
    scan = bytearray()
    for y in range(h):
        f = y % 5
        scan.append(f)
        scan += (filtered[f][y] % 256).astype(np.uint8).tobytes()

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">II5B", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan), level))
        + chunk(b"IEND", b"")
    )


def png_chunk(tag: bytes, payload: bytes) -> bytes:
    """One wire-format PNG chunk: length + tag + payload + CRC32(tag+payload)."""
    return (
        struct.pack(">I", len(payload)) + tag + payload
        + struct.pack(">I", zlib.crc32(tag + payload))
    )


# chunks that carry image data or alter decoding — everything else is
# metadata a privacy scrub must drop (tEXt/zTXt/iTXt free text, eXIf EXIF
# blobs incl. GPS, tIME timestamps, pHYs/sRGB/gAMA are harmless but
# non-essential; tRNS/PLTE change rendered pixels, so they stay)
_PNG_CRITICAL = {b"IHDR", b"PLTE", b"IDAT", b"IEND", b"tRNS"}


def png_strip_metadata(raw: bytes) -> tuple[bytes, int]:
    """Privacy scrub for PNG payloads: re-emit only pixel-essential chunks
    (IHDR/PLTE/tRNS/IDAT/IEND), dropping every ancillary chunk — the tEXt/
    eXIf/tIME carriers of GPS positions, camera serials and timestamps that
    leak into a training corpus via innocuous-looking images. Chunk CRCs
    are validated on the walk (a corrupt payload raises → row quarantine
    upstream) and preserved byte-for-byte on kept chunks, so the stripped
    file decodes to IDENTICAL pixels. Returns (stripped_bytes, n_dropped);
    idempotent — a second pass drops 0."""
    out = bytearray(_PNG_SIG)
    dropped = 0
    for tag, payload in _png_chunks(raw):
        if tag in _PNG_CRITICAL:
            out += png_chunk(tag, payload)
        else:
            dropped += 1
    return bytes(out), dropped


def jpeg_strip_metadata(raw: bytes) -> tuple[bytes, int]:
    """Privacy scrub for JPEG payloads: drop every APP1-APP15 segment but
    APP14 (EXIF with GPS/serials lives in APP1, vendor blobs in the rest) and
    every COM comment, keeping APP0/JFIF, APP14/Adobe (its colour transform
    decides how a CMYK/YCCK scan decodes) and all coding segments
    (DQT/DHT/SOF/SOS). Metadata segments precede SOS in a baseline stream,
    so the walk stops at SOS and copies the entropy-coded tail verbatim —
    the scrub is byte-neutral on image data by construction. Returns
    (stripped_bytes, n_dropped); idempotent. Malformed streams raise →
    row quarantine upstream."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    out = bytearray(b"\xff\xd8")
    pos, dropped = 2, 0
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = raw[pos + 1]
        if marker == 0xDA:  # SOS — entropy data follows; copy verbatim
            out += raw[pos:]
            return bytes(out), dropped
        (seglen,) = struct.unpack(">H", raw[pos + 2 : pos + 4])
        seg = raw[pos : pos + 2 + seglen]
        if len(seg) != 2 + seglen:
            raise ValueError("truncated JPEG segment")
        # APPn n>=1 but APP14, and COM
        if (0xE1 <= marker <= 0xEF and marker != 0xEE) or marker == 0xFE:
            dropped += 1
        else:
            out += seg
        pos += 2 + seglen
    raise ValueError("JPEG missing SOS")


def _gif_decode(raw: bytes) -> np.ndarray:
    from deepdoctection_spark.kernels.gif import gif_decode

    return gif_decode(raw)


def _jpeg_decode(raw: bytes) -> np.ndarray:
    """Baseline grayscale + YCbCr 4:4:4/4:2:0 color via the stdlib codec
    (kernels/jpeg.py — real Huffman + IDCT + chroma upsample + BT.601);
    progressive/4:2:2/CMYK fall through to Pillow when it's installed,
    else quarantine."""
    from deepdoctection_spark.kernels.jpeg import jpeg_decode

    try:
        a = jpeg_decode(raw)
        return a if a.ndim == 3 else a[:, :, None]  # (h, w, c)
    except ValueError:
        if _PILImage is not None:  # pragma: no cover - absent in container
            return _pil_decode(raw)
        raise


IMAGE_DECODERS: dict[bytes, Callable[[bytes], np.ndarray]] = {
    b"FIMG": _fimg_decode,
    b"\x89PNG": png_decode,  # stdlib — real codec, always available
    b"GIF8": _gif_decode,  # stdlib — real LZW palette codec (kernels/gif.py)
    b"\xff\xd8\xff": _jpeg_decode,  # stdlib gray + YCbCr color; PIL for exotic
}


def register_image_decoder(magic: bytes, fn: Callable[[bytes], np.ndarray]) -> None:
    """Adapter API: plug a decoder for payloads starting with ``magic``."""
    IMAGE_DECODERS[magic] = fn


def decode_image(raw: bytes) -> np.ndarray:
    """Dispatch on magic bytes → (h, w, c) uint8 array."""
    for magic, fn in IMAGE_DECODERS.items():
        if raw[: len(magic)] == magic:
            return fn(raw)
    raise ValueError(f"no image decoder registered for magic {raw[:4]!r}")


# ---------------------------------------------------------------------------
# audio decoders: magic prefix → fn(raw) -> (sample_rate, int16 samples)
# ---------------------------------------------------------------------------


def _wav_decode(raw: bytes) -> tuple[int, np.ndarray]:
    """Real WAV (RIFF/PCM16) decode via the stdlib wave module — no external
    dependency; multi-channel audio is downmixed by taking channel 0."""
    with wave.open(io.BytesIO(raw), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(f"only PCM16 wav supported, got width {w.getsampwidth()}")
        sr = w.getframerate()
        n = w.getnframes()
        x = np.frombuffer(w.readframes(n), dtype="<i2")
        ch = w.getnchannels()
        if ch > 1:
            x = x.reshape(-1, ch)[:, 0]
    return sr, x


def _fpcm_decode(raw: bytes) -> tuple[int, np.ndarray]:
    from deepdoctection_spark.operators.multimodal import fpcm_decode

    return fpcm_decode(raw)


AUDIO_DECODERS: dict[bytes, Callable[[bytes], tuple[int, np.ndarray]]] = {
    b"FPCM": _fpcm_decode,
    b"RIFF": _wav_decode,
}


def register_audio_decoder(
    magic: bytes, fn: Callable[[bytes], tuple[int, np.ndarray]]
) -> None:
    AUDIO_DECODERS[magic] = fn


def decode_audio(raw: bytes) -> tuple[int, np.ndarray]:
    for magic, fn in AUDIO_DECODERS.items():
        if raw[: len(magic)] == magic:
            return fn(raw)
    raise ValueError(f"no audio decoder registered for magic {raw[:4]!r}")


def wav_encode(sr: int, samples: np.ndarray) -> bytes:
    """PCM16 WAV writer (stdlib) — round-trip partner of _wav_decode."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# PDF adapters (the PdfMiner.predict(bytes) kernel slot, extern/base.py:118-439)
# ---------------------------------------------------------------------------


def pdf_page_texts(raw: bytes) -> list[str]:
    """Per-page plain text from PDF bytes. Default backend is the REAL
    pure-stdlib parser (kernels/pdf.py: object scan, FlateDecode, page-tree
    walk, BT/ET text-machine interpreter) — always available, oracle-checked
    via ``media_pdf_texts``. pypdf, when installed, overrides it for the
    long-tail shapes (xref streams, CID fonts) outside the stdlib parser's
    declared scope. The returned pages feed the engine as one transcript
    turn each (SerializerPdfDoc.load semantics, custom_serialize.py:514-559)."""
    if _pypdf is not None:  # pragma: no cover - absent in the build container
        reader = _pypdf.PdfReader(io.BytesIO(raw))
        return [page.extract_text() or "" for page in reader.pages]
    from deepdoctection_spark.kernels.pdf import pdf_texts

    return pdf_texts(raw)


def pdf_positioned_lines(raw: bytes) -> list[str]:
    """Per-page positioned payloads ('@x,y:content' lines — the engine's
    pdf_reader wire format). Default backend is the stdlib parser
    (kernels/pdf.pdf_positioned_pages); pdfplumber, when installed,
    overrides it. Plugging either in turns real PDFs into inputs for
    kernels/layout.py with zero engine changes: the column/sub-line geometry
    kernels are the same."""
    if _pdfplumber is not None:  # pragma: no cover - absent in the container
        pages = []
        with _pdfplumber.open(io.BytesIO(raw)) as pdf:
            for page in pdf.pages:
                lines = [
                    f"@{w['x0']:.0f},{w['top']:.0f}:{w['text']}"
                    for w in page.extract_words()
                ]
                pages.append("\n".join(lines))
        return pages
    from deepdoctection_spark.kernels.pdf import pdf_positioned_pages

    return pdf_positioned_pages(raw)
