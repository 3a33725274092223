"""Media queries with DuckDB oracles: FIMG image statistics and PDF text.

Spark genuinely decodes the binary payloads inside mapInPandas; the oracle
never sees a byte. `media_image_stats` recomputes every statistic from the
FIMG pixel formula (pixel[i] = (seed + 7i) % 256) by unnesting range(n) per
doc. The `media_pdf_*` queries recompute each page's text from
documents.text through one shared pagination oracle (6 words per line, 4
lines per page), while Spark writes and parses genuine PDF bytes
(kernels/pdf.py). Agreement proves the decode path end to end, the same
philosophy as the transcript extraction oracles."""

from __future__ import annotations

from deepdoctection_spark.operators import multimodal as mm
from deepdoctection_spark.plans.registry import register
from deepdoctection_spark.plans.training_ops import _docs


# The pagination closed form every `media_pdf_*` oracle shares: documents.text
# split on single spaces, 6 words per line, 4 lines per page.
_PDF_PAGES_ORACLE = """
WITH w2 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS wi
  FROM documents
),
lines AS (
  SELECT doc_id, wi // 6 AS li, string_agg(word, ' ' ORDER BY wi) AS line
  FROM w2 GROUP BY doc_id, wi // 6
)
SELECT doc_id AS media_id, (li // 4)::INT AS page_idx,
       string_agg(line, chr(10) ORDER BY li) AS page_text,
       count(*)::INT AS n_lines,
       length(string_agg(line, chr(10) ORDER BY li))::BIGINT AS n_chars,
       NULL::VARCHAR AS error
FROM lines GROUP BY doc_id, li // 4
"""
# The doc_id % 5 = 0 slice that q_media_pdf_texts_aes256 filters its docs to.
_PDF_PAGES_ORACLE_AES256 = _PDF_PAGES_ORACLE.replace(
    "FROM documents", "FROM documents WHERE doc_id % 5 = 0", 1
)


@register(
    "media_image_stats",
    """
WITH dims AS (
  SELECT doc_id AS media_id, doc_id % 256 AS seed,
         (16 + doc_id % 16)::INT AS width, (8 + doc_id % 8)::INT AS height,
         3::INT AS channels,
         ((16 + doc_id % 16) * (8 + doc_id % 8) * 3)::INT AS n_pixels
  FROM documents
),
px AS (
  SELECT media_id, width, height, channels, n_pixels,
         ((seed + 7 * i) % 256) AS v, (i % 3) AS ch
  FROM dims, unnest(range(n_pixels)) AS t(i)
)
SELECT media_id, width, height, channels, n_pixels,
       round(avg(v), 4) AS mean_px,
       min(v)::INT AS min_px, max(v)::INT AS max_px,
       round(avg(v) FILTER (ch = 0), 4) AS mean_c0,
       NULL::VARCHAR AS error
FROM px GROUP BY media_id, width, height, channels, n_pixels
""",
)
def q_media_image_stats(spark, sf_dir):
    return mm.image_stats(mm.synth_images(_docs(spark, sf_dir)))


@register("media_pdf_texts", _PDF_PAGES_ORACLE)
def q_media_pdf_texts(spark, sf_dir):
    """REAL PDF path, end to end: Spark writes genuine PDF bytes per doc
    (stdlib writer — FlateDecode streams, rotating Tj/TJ/' operators), then
    parses them back (stdlib text machine) to per-page text; the oracle
    recomputes the expected pages from documents.text via the shared
    pagination contract (6 words/line, 4 lines/page). Agreement proves
    writer + parser + positioned-run reassembly, byte-for-byte on text."""
    return mm.pdf_texts_stage(mm.synth_pdfs(_docs(spark, sf_dir)))


@register("media_pdf_texts_objstm", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_objstm(spark, sf_dir):
    """MODERN-PDF path (PDF 1.5 xref-stream layout): the payloads put the
    catalog/page-tree/page/font objects inside a FlateDecode /ObjStm with a
    binary /XRef stream — the parser must inflate and parse the object
    stream to even FIND the page tree. The oracle is the SAME pagination
    closed form as media_pdf_texts: agreement proves the ObjStm expansion
    reconstructs the document identically to the classic layout."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), object_streams=True)
    )


@register("media_pdf_texts_cid", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_cid(spark, sf_dir):
    """COMPOSITE-FONT path (Type0/Identity-H, CIDFontType2 descendant): the
    payloads show text as 2-byte subset-code hex strings under a first-
    encounter (non-identity) code table, so the extractor can only recover
    the text by resolving the page font resources and decoding through the
    /ToUnicode CMap (bfchar + bfrange). Same pagination closed form as
    media_pdf_texts: agreement proves the CMap decode is exact
    (reference analogue: pdfplumber's CID→unicode mapping consumed by
    extern/pdftext.py)."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), cid_font=True)
    )


@register("media_pdf_texts_encrypted", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_encrypted(spark, sf_dir):
    """ENCRYPTED-PDF path (standard security handler, RC4-128 /R 3, empty
    user password — the owner-locked shape most encrypted PDFs have): the
    extractor must parse the trailer, derive the file key from /O + /P +
    /ID, authenticate it against /U, and RC4-decrypt every content stream
    with its per-object key before any text exists. Same pagination closed
    form as media_pdf_texts: agreement proves the decryption chain is exact
    (reference analogue: pdfplumber's decrypt pass consumed by
    extern/pdftext.py)."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), encrypt_bits=128)
    )


@register("media_pdf_texts_aes", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_aes(spark, sf_dir):
    """AES-ENCRYPTED-PDF path (/V 4 /R 4 /AESV2 crypt filter — the modern
    default): the extractor derives the R4 file key, authenticates /U,
    then AES-128-CBC-decrypts each content stream with its salted
    per-object key (kernels/aes.py — pinned to the FIPS-197 C.1 vector)
    before inflation. Same pagination closed form as media_pdf_texts:
    agreement proves the whole AES chain (key schedule, CBC, PKCS#7 unpad,
    sAlT object keys) is exact."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), encrypt_bits=128, cipher="aes")
    )


@register("media_pdf_texts_aes256", _PDF_PAGES_ORACLE_AES256)
def q_media_pdf_texts_aes256(spark, sf_dir):
    """PDF 2.0 AES-256 path (/V 5 /R 6 /AESV3): the extractor authenticates
    the empty user password through the Algorithm 2.B hardening hash
    (iterated SHA-256/384/512 + AES-CBC rounds), unwraps the per-document
    file key from /UE, validates /Perms, and AES-256-CBC-decrypts every
    stream — kernels/aes.py pinned to the FIPS-197 C.3 AES-256 vector.
    Runs over a doc_id % 5 slice: 2.B is DESIGNED to cost seconds per
    distinct salt set (anti-brute-force), so the slice keeps the query wall
    bounded while still proving the chain end-to-end under Spark; the salt
    constants amortize the KDF to once per reused python worker."""
    docs = _docs(spark, sf_dir).filter("doc_id % 5 = 0")
    return mm.pdf_texts_stage(
        mm.synth_pdfs(docs, encrypt_bits=256, cipher="aes")
    )


@register("media_pdf_texts_incremental", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_incremental(spark, sf_dir):
    """INCREMENTALLY-UPDATED PDFs (the interactive-editor save shape): the
    base file carries a DRAFT placeholder on page 0; an appended update
    section (new content stream + rewritten page dict + xref with /Prev)
    carries the real content. The oracle is the SAME pagination closed form
    — a parser that ignored the update section would read 'DRAFT' on every
    page 0 and hash-mismatch, so agreement proves later-wins update
    semantics end-to-end."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), incremental_update=True)
    )


@register("media_pdf_texts_mixed", _PDF_PAGES_ORACLE)
def q_media_pdf_texts_mixed(spark, sf_dir):
    """HETEROGENEOUS-CORPUS capstone: each document rotates through the
    real-world layout matrix by doc_id — classic xref, PDF 1.5 ObjStm,
    Type0 CID font, RC4-128, AESV2, incremental-update — and the ONE
    extraction path must auto-detect and decode every shape in the same
    Arrow batch (the crawl-corpus reality: a parser tuned to one layout
    silently fails the other five). Same pagination closed form as
    media_pdf_texts."""
    return mm.pdf_texts_stage(
        mm.synth_pdfs(_docs(spark, sf_dir), mixed=True)
    )
