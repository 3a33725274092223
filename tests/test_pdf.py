"""Stdlib PDF codec (kernels/pdf.py): writer/parser round trip across the
text-operator surface, page-tree order, stream filters, string escapes,
poison-payload quarantine, and the Spark synth→extract pipeline contract
(the PdfMiner.predict slot, reference utils/pdf_utils.py:121-227)."""

from __future__ import annotations

import zlib

import pytest

from deepdoctection_spark.kernels.pdf import (
    extract_runs,
    pdf_decode,
    pdf_encode,
    pdf_page_text,
    pdf_positioned_pages,
    pdf_texts,
)

PAGES = [
    [(72, 720, 12, "hello world line one"),
     (72, 700, 12, "second (line) with \\ escapes"),
     (72, 680, 10, "third line rotated ops")],
    [(50, 730, 11, "page two begins"),
     (50, 710, 11, "left half"),
     (200, 710, 11, " right half same line")],
]
EXPECT = [
    "hello world line one\nsecond (line) with \\ escapes\nthird line rotated ops",
    "page two begins\nleft half right half same line",
]


@pytest.mark.parametrize("compress", [True, False])
def test_roundtrip_text(compress):
    assert pdf_texts(pdf_encode(PAGES, compress=compress)) == EXPECT


def test_object_stream_layout_roundtrip():
    """PDF 1.5 xref-stream layout: catalog/pages/page/font live inside a
    FlateDecode /ObjStm; the parser must expand it to find the page tree."""
    raw = pdf_encode(PAGES, object_streams=True)
    assert raw.startswith(b"%PDF-1.5")
    assert b"/ObjStm" in raw and b"/XRef" in raw
    # the page tree is NOT discoverable at top level (compressed members)
    assert b"/Type /Catalog" not in raw
    assert pdf_texts(raw) == EXPECT
    assert pdf_decode(raw) == pdf_decode(pdf_encode(PAGES))


def test_object_stream_toplevel_wins():
    """Later-wins update semantics: a top-level definition of a member id
    shadows the ObjStm copy (the shape of an incremental update)."""
    raw = bytearray(pdf_encode(PAGES, object_streams=True))
    # append a classic top-level override of the font object (harmless dict)
    # and ensure parsing still succeeds and text is unchanged
    raw += b"\n999 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\nendobj\n"
    assert pdf_texts(bytes(raw)) == EXPECT


@pytest.mark.parametrize("objstm", [False, True])
def test_cid_font_roundtrip(objstm):
    """Type0/Identity-H with /ToUnicode: text is 2-byte subset codes, the
    CMap is the only way back to unicode — in both xref layouts."""
    raw = pdf_encode(PAGES, object_streams=objstm, cid_font=True)
    assert b"/Type0" in zlib_any(raw) and b"/Identity-H" in zlib_any(raw)
    # the text must NOT be recoverable without the CMap
    assert b"hello" not in raw and b"hello" not in zlib_any(raw)
    assert pdf_texts(raw) == EXPECT


def zlib_any(raw: bytes) -> bytes:
    """raw plus every inflatable stream body (to see inside /ObjStm)."""
    import re as _re
    import zlib as _z
    out = bytearray(raw)
    for m in _re.finditer(rb"stream\r?\n", raw):
        try:
            out += _z.decompressobj().decompress(raw[m.end():])
        except _z.error:
            pass
    return bytes(out)


def test_cid_font_astral_and_nonlatin():
    """CMap targets beyond latin-1: BMP accents and an astral emoji
    (UTF-16BE surrogate-pair dst) survive; the simple-font path would
    replace them."""
    pages = [[(72, 700, 12, "naïve café — \U0001F600 done")]]
    raw = pdf_encode(pages, cid_font=True)
    assert pdf_texts(raw) == ["naïve café — \U0001F600 done"]


def test_cid_cmap_uses_bfrange_and_bfchar():
    """A text with a long contiguous alphabet stretch makes the writer emit
    bfrange rows (and scattered chars emit bfchar) — decode exercises both."""
    text = "abcdefghijklmnopqrstuvwxyz zebra! 42"
    raw = pdf_encode([[(72, 700, 12, text)]], cid_font=True)
    body = zlib_any(raw)
    assert b"beginbfrange" in body and b"beginbfchar" in body
    assert pdf_texts(raw) == [text]


def test_type0_without_tounicode_quarantines():
    """A Type0 font with no /ToUnicode has unrecoverable text → ValueError
    (the callers' row-quarantine contract), not silent mojibake."""
    raw = pdf_encode(PAGES, cid_font=True)
    raw = raw.replace(b"/ToUnicode", b"/ToUnicodX", 1)
    with pytest.raises(ValueError, match="ToUnicode"):
        pdf_texts(raw)


@pytest.mark.parametrize("bits,cid", [(40, False), (128, False), (128, True)])
def test_encrypted_roundtrip(bits, cid):
    """Standard security handler (empty user password): file-key derivation
    from /O+/P+/ID, /U authentication, per-object RC4 of streams — RC4-40
    /R 2 and RC4-128 /R 3, alone and composed with the CID font layout."""
    raw = pdf_encode(PAGES, encrypt_bits=bits, cid_font=cid)
    assert b"/Encrypt" in raw
    # content must not be recoverable without the key (even inflated)
    assert b"hello" not in raw and b"hello" not in zlib_any(raw)
    assert pdf_texts(raw) == EXPECT


def test_encrypted_wrong_user_password_quarantines():
    """A /U entry that doesn't authenticate the empty-password key (i.e. the
    file needs a real user password) must raise, not emit garbage."""
    raw = bytearray(pdf_encode(PAGES, encrypt_bits=40))
    i = raw.find(b"/U <")
    raw[i + 4:i + 12] = b"00000000"
    with pytest.raises(ValueError, match="password"):
        pdf_texts(bytes(raw))


def test_encrypted_dict_strings_decrypt():
    """Literal strings inside object bodies are encrypted with their
    object's key: the CID descendant's /CIDSystemInfo /Registry must parse
    back to the plaintext 'Adobe' after decryption."""
    from deepdoctection_spark.kernels.pdf import _Doc
    raw = pdf_encode(PAGES, encrypt_bits=128, cid_font=True)
    doc = _Doc(raw)
    regs = [v.get("CIDSystemInfo", {}).get("Registry")
            for v, _s in doc.objs.values()
            if isinstance(v, dict) and v.get("Subtype") == "/CIDFontType2"]
    assert regs == [b"Adobe"]


def test_aes_fips197_vector():
    """The AES core is pinned to the published FIPS-197 Appendix C.1
    vector — external ground truth, so writer and parser can't be
    self-consistently wrong."""
    from deepdoctection_spark.kernels.aes import (
        _decrypt_block,
        _encrypt_block,
        _expand_key,
    )
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    assert _encrypt_block(pt, _expand_key(key)) == ct
    assert _decrypt_block(ct, _expand_key(key)) == pt


@pytest.mark.parametrize("cid", [False, True])
def test_aes_encrypted_roundtrip(cid):
    """/V 4 /R 4 /AESV2: salted per-object keys, CBC with leading IV,
    PKCS#7 — alone and composed with the CID font layout."""
    raw = pdf_encode(PAGES, encrypt_bits=128, cipher="aes", cid_font=cid)
    assert b"/AESV2" in raw and b"/StdCF" in raw
    assert b"hello" not in raw and b"hello" not in zlib_any(raw)
    assert pdf_texts(raw) == EXPECT


def test_aes256_fips197_vector():
    """AES-256 core pinned to FIPS-197 Appendix C.3."""
    from deepdoctection_spark.kernels.aes import (
        _decrypt_block,
        _encrypt_block,
        _expand_key,
    )
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                        "101112131415161718191a1b1c1d1e1f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert _encrypt_block(pt, _expand_key(key)) == ct
    assert _decrypt_block(ct, _expand_key(key)) == pt


def test_aes256_r6_roundtrip():
    """PDF 2.0 /V 5 /R 6 /AESV3: Algorithm 2.B password hardening, /UE file
    key unwrap, /Perms validation, single-file-key CBC. (The 2.B KDF costs
    seconds cold by design; the salt cache makes the second doc ~ms.)"""
    raw = pdf_encode(PAGES, encrypt_bits=256, cipher="aes")
    assert b"/AESV3" in raw and b"/R 6" in raw and b"/UE <" in raw
    assert b"hello" not in raw and b"hello" not in zlib_any(raw)
    assert pdf_texts(raw) == EXPECT
    # corrupting the /U validation hash = a required user password
    bad = bytearray(raw)
    i = bad.find(b"/U <")
    bad[i + 4:i + 12] = b"00000000"
    with pytest.raises(ValueError, match="password"):
        pdf_texts(bytes(bad))


def test_aes_padding_error_is_valueerror():
    """Corrupting AES ciphertext must surface as ValueError (quarantine),
    never a crash or silent garbage."""
    from deepdoctection_spark.kernels.aes import (
        aes_cbc_decrypt,
        aes_cbc_encrypt,
    )
    import hashlib
    key = hashlib.md5(b"k").digest()
    blob = bytearray(aes_cbc_encrypt(key, hashlib.md5(b"i").digest(),
                                        b"payload bytes here"))
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError, match="padding|block-aligned"):
        aes_cbc_decrypt(key, bytes(blob))
    with pytest.raises(ValueError, match="block-aligned"):
        aes_cbc_decrypt(key, b"short")


def test_encrypt_objstm_writer_scope():
    with pytest.raises(ValueError, match="classic xref"):
        pdf_encode(PAGES, encrypt_bits=40, object_streams=True)


def test_xref_stream_png_predictor_decodes():
    """The writer's /XRef stream uses /Predictor 12 (PNG Up) like real
    writers; stream_data must unpredict it back to the exact /W [1 4 2]
    entry rows — the offset of the XRef object itself appears in its row."""
    from deepdoctection_spark.kernels.pdf import _Doc
    raw = pdf_encode(PAGES, object_streams=True)
    doc = _Doc(raw)
    xnum, xval = next((n, v) for n, (v, s) in doc.objs.items()
                      if isinstance(v, dict) and v.get("Type") == "/XRef")
    rows = doc.stream_data(xnum)
    assert len(rows) == 7 * xval["Size"]
    t, off, _f3 = rows[7 * xnum], int.from_bytes(
        rows[7 * xnum + 1:7 * xnum + 5], "big"), rows[7 * xnum + 5:]
    assert t == 1 and raw[off:off + 20].startswith(b"%d 0 obj" % xnum)


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_predictor_filters_roundtrip(ft):
    """Every PNG filter type reverses exactly (predict-then-unpredict on
    structured rows)."""
    from deepdoctection_spark.kernels.pdf import _Doc
    cols = 5
    plain = bytes((r * 31 + c * 7) & 0xFF for r in range(6) for c in range(cols))
    # forward-filter manually
    enc = bytearray()
    prev = bytes(cols)
    for r in range(0, len(plain), cols):
        row = plain[r:r + cols]
        enc.append(ft)
        for i in range(cols):
            a = row[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((row[i] - pred) & 0xFF)
        prev = row
    assert _Doc._png_unpredict(bytes(enc), cols) == plain


def test_roundtrip_runs_positions():
    runs = pdf_decode(pdf_encode(PAGES))[0]
    # every input line present at its written y; x starts at the written x
    ys = sorted({round(y) for _x, y, _s, _t in runs}, reverse=True)
    assert ys == [720, 700, 680]
    assert all(round(x) >= 72 for x, *_ in runs)


def test_operator_forms_cover_tj_tjarray_quote():
    # the writer rotates forms by run index: 0→Tm+Tj, 1→TD+TJ, 2→TL+Td+'
    raw = pdf_encode([[(10, 500 - 20 * i, 9, f"run number {i}") for i in range(3)]],
                     compress=False)
    assert b" Tj ET" in raw and b"] TJ ET" in raw and b"' ET" in raw
    page = pdf_texts(raw)[0]
    assert page.splitlines() == [f"run number {i}" for i in range(3)]


def test_string_escapes_and_latin1():
    pages = [[(72, 700, 12, "parens () and \\ and tab\tchar"),
              (72, 680, 12, "caf\xe9 na\xefve")]]
    assert pdf_texts(pdf_encode(pages))[0] == (
        "parens () and \\ and tab\tchar\ncaf\xe9 na\xefve")


def test_empty_page_and_empty_doc():
    assert pdf_texts(pdf_encode([[]])) == [""]
    with pytest.raises(ValueError):
        pdf_decode(b"not a pdf at all")


def test_truncated_and_corrupt_quarantine():
    raw = pdf_encode(PAGES)
    with pytest.raises(ValueError):
        pdf_decode(raw[: len(raw) // 3])
    with pytest.raises(ValueError):
        pdf_texts(b"%PDF-1.4 junk that is not parseable")
    # corrupt the Flate stream body → zlib error surfaces as an exception
    i = raw.index(b"stream\n") + 7
    bad = raw[:i] + bytes([raw[i] ^ 0xFF]) + raw[i + 1:]
    with pytest.raises(Exception):
        pdf_texts(bad)


def test_indirect_length_resolution():
    # the compressed writer emits /Length as an indirect reference
    raw = pdf_encode(PAGES)
    assert b"/Length" in raw and b"0 R /Filter" in raw
    assert pdf_texts(raw) == EXPECT


def test_interpreter_ignores_graphics_ops():
    body = (b"q 1 0 0 1 5 5 cm 0.5 g\n"
            b"BT /F1 12 Tf 72 700 Td (visible text) Tj ET\n"
            b"0 0 100 100 re f Q")
    runs = extract_runs(body)
    assert [t for *_xy, t in runs] == ["visible text"]
    assert pdf_page_text(runs) == "visible text"


def test_hex_string_show():
    runs = extract_runs(b"BT /F1 12 Tf 10 10 Td <68656C6C6F> Tj ET")
    assert runs[0][3] == "hello"


def test_positioned_pages_wire_format():
    lines = pdf_positioned_pages(pdf_encode(PAGES))[0].splitlines()
    assert lines[0].startswith("@72,72:")  # 792 - 720 → y-down reader coords
    assert all(l.startswith("@") and ":" in l for l in lines)


def test_spark_synth_extract_matches_contract(spark):
    from deepdoctection_spark.operators import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = mm.pdf_texts_stage(mm.synth_pdfs(docs)).cache()
    assert out.filter("error is not null").count() == 0
    row = out.filter("media_id = 1 and page_idx = 0").first()
    text = docs.filter("doc_id = 1").first()["text"]
    words = text.split(" ")
    expect_lines = [" ".join(words[i:i + 6]) for i in range(0, len(words), 6)]
    assert row["page_text"] == "\n".join(expect_lines[:4])
    out.unpersist()


def test_spark_poison_pdf_quarantines(spark):
    import pandas as pd

    from deepdoctection_spark.operators.multimodal import pdf_texts_stage

    good = pdf_encode([[(72, 700, 12, "good page")]])
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2],
                      "content": [good, b"%PDF-1.4 then garbage" + b"\x00" * 40]})
    )
    rows = {r["media_id"]: r for r in pdf_texts_stage(media).collect()}
    assert rows[1]["page_text"] == "good page" and rows[1]["error"] is None
    assert rows[2]["error"] is not None and rows[2]["page_text"] is None


def test_incremental_update_replaces_page():
    """pdf_update appends an update section: original bytes are a
    byte-identical prefix; the updated page wins, other pages unchanged."""
    from deepdoctection_spark.kernels.pdf import pdf_update
    raw = pdf_encode(PAGES)
    new = pdf_update(raw, 0, [(72, 700, 12, "replacement body"),
                              (72, 682, 12, "line two")])
    assert new.startswith(raw)
    assert b"/Prev" in new
    got = pdf_texts(new)
    assert got[0] == "replacement body\nline two"
    assert got[1] == EXPECT[1]


def test_incremental_update_on_objstm_layout():
    """A classic update section appended to a PDF 1.5 xref-stream file —
    the hybrid every editor produces when saving over a modern file."""
    from deepdoctection_spark.kernels.pdf import pdf_update
    raw = pdf_encode(PAGES, object_streams=True)
    new = pdf_update(raw, 1, [(72, 700, 12, "modern page rewritten")])
    assert pdf_texts(new) == [EXPECT[0], "modern page rewritten"]


def test_incremental_update_encrypted_scope():
    from deepdoctection_spark.kernels.pdf import pdf_update
    raw = pdf_encode(PAGES, encrypt_bits=40)
    with pytest.raises(ValueError, match="unencrypted"):
        pdf_update(raw, 0, [(72, 700, 12, "x")])


def test_incremental_update_cid_base_rejected():
    from deepdoctection_spark.kernels.pdf import pdf_update
    raw = pdf_encode(PAGES, cid_font=True)
    with pytest.raises(ValueError, match="simple-font bases"):
        pdf_update(raw, 0, [(72, 700, 12, "x")])
