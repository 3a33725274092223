"""Media payloads as opaque binary columns: FIMG images and PDFs.

The reference carries pixel ndarrays and PDF bytes inside its Image record
(datapoint/image.py:130-162) and decodes them at a bounded dpi
(datapoint/convert.py:146-166). Spark-first: a payload is an opaque
`binary` column next to typed metadata columns; decode and feature
extraction run as Arrow-batched pandas UDFs (`mapInPandas`), so the bytes
cross the JVM↔Python boundary once per batch and a metadata-only query
never reads them.

Two payload kinds, one decoder each:
- FIMG, a deterministic image format: b"FIMG" + uint16 LE w h c + w*h*c
  bytes, pixel[i] = (seed + 7*i) % 256. Its statistics are arithmetic
  functions of (media_id, position), so a DuckDB oracle recomputes them via
  range() unnesting while Spark decodes the bytes (`media_image_stats`).
- PDF, written and parsed by the stdlib codec in kernels/pdf.py: one text
  row per page (the `media_pdf_*` queries).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def fimg_encode(seed: int, w: int, h: int, c: int) -> bytes:
    px = ((seed + 7 * np.arange(w * h * c, dtype=np.int64)) % 256).astype(np.uint8)
    return b"FIMG" + struct.pack("<HHH", w, h, c) + px.tobytes()


def fimg_decode(raw: bytes) -> np.ndarray:
    if raw[:4] != b"FIMG":
        raise ValueError("bad FIMG magic")
    w, h, c = struct.unpack("<HHH", raw[4:10])
    return np.frombuffer(raw[10:], dtype=np.uint8).reshape(h, w, c)


IMG_SCHEMA = (
    "media_id long, media_type string, width int, height int, channels int, "
    "content binary"
)


def _img_dims(mid: int) -> tuple[int, int, int]:
    return 16 + mid % 16, 8 + mid % 8, 3


def synth_images(docs: DataFrame) -> DataFrame:
    """documents → deterministic FIMG payload table (one image per doc)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            rows = []
            for mid in ids:
                mid = int(mid)
                w, h, c = _img_dims(mid)
                rows.append(
                    (mid, "image/fimg", w, h, c, fimg_encode(mid % 256, w, h, c))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "width", "height", "channels",
                    "content",
                ],
            )

    return docs.select("doc_id").mapInPandas(gen, schema=IMG_SCHEMA)


IMG_STATS_SCHEMA = (
    "media_id long, width int, height int, channels int, n_pixels int, "
    "mean_px double, min_px int, max_px int, mean_c0 double, error string"
)


def image_stats(media: DataFrame) -> DataFrame:
    """Decode + per-image statistics (the feature-extract pattern). Narrow,
    one Arrow batch per ~N rows; only (media_id, content) cross the boundary
    (column pruning keeps metadata JVM-side)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"].tolist(), pdf["content"].tolist()):
                try:  # row quarantine: a truncated payload must not kill the task
                    a = fimg_decode(bytes(raw))
                    h, w, c = a.shape
                    rows.append(
                        (int(mid), w, h, c, a.size, round(float(a.mean()), 4),
                         int(a.min()), int(a.max()),
                         round(float(a[:, :, 0].mean()), 4), None)
                    )
                except Exception as exc:
                    rows.append(
                        (int(mid), None, None, None, None, None, None, None,
                         None, f"{type(exc).__name__}: {exc}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "channels", "n_pixels",
                    "mean_px", "min_px", "max_px", "mean_c0", "error",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        stats, schema=IMG_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# PDF: synthesize REAL PDF payloads from transcripts, extract text back
# (the SerializerPdfDoc / PdfMiner.predict slot, realized with the stdlib
# codec in kernels/pdf.py — reference utils/pdf_utils.py:121-227)
# ---------------------------------------------------------------------------

PDF_SCHEMA = "media_id long, media_type string, n_pages int, content binary"
PDF_WORDS_PER_LINE = 6
PDF_LINES_PER_PAGE = 4


def _paginate_words(text: str) -> list[list[str]]:
    """Deterministic pagination contract shared with the DuckDB oracle:
    single-space word split, 6 words per line, 4 lines per page."""
    words = text.split(" ")
    lines = [
        " ".join(words[i : i + PDF_WORDS_PER_LINE])
        for i in range(0, len(words), PDF_WORDS_PER_LINE)
    ]
    return [
        lines[i : i + PDF_LINES_PER_PAGE]
        for i in range(0, len(lines), PDF_LINES_PER_PAGE)
    ]


def synth_pdfs(docs: DataFrame, object_streams: bool = False,
               cid_font: bool = False,
               encrypt_bits: int | None = None,
               cipher: str = "rc4",
               incremental_update: bool = False,
               mixed: bool = False) -> DataFrame:
    """documents → genuine PDF payload table (stdlib writer): each doc's
    text is paginated by the shared contract and laid out one line per
    text run (x=72, y descending 18pt steps, 12pt), so the extractor's
    positioned-run → line → page reassembly is what the oracle checks.
    ``object_streams`` writes the PDF 1.5 xref-stream/ObjStm layout —
    the parser must inflate the object stream to even find the page tree.
    ``cid_font`` writes Type0/Identity-H composite-font payloads whose text
    is 2-byte subset codes — recoverable only through the /ToUnicode CMap.
    ``encrypt_bits`` (40/128/256) writes standard-security-handler encrypted
    payloads (empty user password) the extractor must key-derive + decrypt.
    ``incremental_update`` writes page 0 as a DRAFT placeholder, then
    appends an incremental-update section carrying the real page-0 content
    — the extractor only matches the oracle if its later-wins update
    semantics prefer the appended objects. ``mixed`` rotates each document
    through the real-world layout matrix by doc_id (classic / xref-stream
    ObjStm / CID font / RC4-128 / AESV2 / incremental-update), the
    heterogeneous-corpus shape a crawl actually has."""
    from deepdoctection_spark.kernels.pdf import pdf_encode, pdf_update

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                pages = [
                    [(72.0, 720.0 - 18.0 * j, 12.0, line)
                     for j, line in enumerate(page_lines)]
                    for page_lines in _paginate_words(text or "")
                ]
                variant = int(mid) % 6 if mixed else None
                if (incremental_update or variant == 5) and pages:
                    draft = [[(72.0, 720.0, 12.0,
                               "DRAFT superseded by update")]] + pages[1:]
                    blob = pdf_encode(draft, object_streams=object_streams)
                    blob = pdf_update(blob, 0, pages[0])
                elif variant is not None:
                    blob = pdf_encode(
                        pages,
                        object_streams=(variant == 1),
                        cid_font=(variant == 2),
                        encrypt_bits={3: 128, 4: 128}.get(variant),
                        cipher="aes" if variant == 4 else "rc4",
                    )
                else:
                    blob = pdf_encode(pages, object_streams=object_streams,
                                      cid_font=cid_font,
                                      encrypt_bits=encrypt_bits,
                                      cipher=cipher)
                rows.append(
                    (int(mid), "application/pdf", len(pages), blob)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "n_pages", "content"]
            )

    return docs.select("doc_id", "text").mapInPandas(gen, schema=PDF_SCHEMA)


PDF_TEXT_SCHEMA = (
    "media_id long, page_idx int, page_text string, n_lines int, "
    "n_chars long, error string"
)


def pdf_texts_stage(media: DataFrame) -> DataFrame:
    """PDF decode + per-page text rows: full stdlib parse (xref-free object
    scan, FlateDecode inflate, page-tree walk, BT/ET text machine), one
    output row per page. Poison payloads quarantine to a single error row."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepdoctection_spark.kernels.pdf import pdf_texts

        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"].tolist(), pdf["content"].tolist()):
                try:  # row quarantine
                    for pi, ptext in enumerate(pdf_texts(bytes(raw))):
                        rows.append(
                            (int(mid), pi, ptext,
                             ptext.count("\n") + 1 if ptext else 0,
                             len(ptext), None)
                        )
                except Exception as exc:
                    rows.append(
                        (int(mid), None, None, None, None,
                         f"{type(exc).__name__}: {exc}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "page_idx", "page_text", "n_lines",
                    "n_chars", "error",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        extract, schema=PDF_TEXT_SCHEMA
    )
