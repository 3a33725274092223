"""Multimodal plumbing: fake-codec round-trips, batch UDF shapes, resize,
frame sampling, and the real-codec stub contract."""

from __future__ import annotations

import numpy as np
import pytest

from deepdoctection_spark.operators import multimodal as mm


def test_fimg_roundtrip():
    raw = mm.fimg_encode(seed=42, w=5, h=4, c=3)
    a = mm.fimg_decode(raw)
    assert a.shape == (4, 5, 3)
    flat = a.reshape(-1)
    assert flat[0] == 42 and flat[1] == 49
    assert int(flat[37]) == (42 + 7 * 37) % 256


def test_fpcm_roundtrip():
    raw = mm.fpcm_encode(seed=7, sr=8000, n=100)
    sr, x = mm.fpcm_decode(raw)
    assert sr == 8000 and len(x) == 100
    assert int(x[3]) == ((7 * 13 + 17 * 3) % 4096) - 2048
    assert x.dtype == np.dtype("<i2")


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_real_image(b"\x89PNG....")


def test_resize_nearest(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(8)
    imgs = mm.synth_images(docs)
    small = mm.resize_images(imgs, out_w=4, out_h=4)
    rows = {r["media_id"]: r for r in small.collect()}
    orig = {r["media_id"]: r for r in imgs.collect()}
    assert set(rows) == set(orig)
    for mid, r in rows.items():
        a = mm.fimg_decode(bytes(r["content"]))
        assert a.shape == (4, 4, 3)
        big = mm.fimg_decode(bytes(orig[mid]["content"]))
        h, w, _ = big.shape
        # nearest-neighbor corner: output (0,0) samples input (0,0)
        assert (a[0, 0] == big[0, 0]).all()
        assert (a[3, 3] == big[3 * h // 4, 3 * w // 4]).all()


def test_sample_frames_every_k(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(16)
    vids = mm.synth_video(docs)
    frames = mm.sample_frames(vids, every=2)
    per = {}
    for r in frames.collect():
        per.setdefault(r["media_id"], []).append(r["frame_idx"])
    meta = {r["media_id"]: r["n_frames"] for r in vids.collect()}
    for mid, idxs in per.items():
        assert sorted(idxs) == list(range(0, meta[mid], 2))


def test_catalog_prunes_binary(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(8)
    cat = mm.media_catalog(
        mm.synth_images(docs), mm.synth_audio(docs), mm.synth_video(docs)
    )
    assert cat.count() == 24
    assert "content" not in cat.columns  # payload never carried past length()


def test_poison_media_quarantined(spark, sf_small):
    """Truncated/garbage payloads land in the error column (stats/features)
    or are skipped (frames) — never a task failure."""
    from pyspark.sql import Row

    good_img = mm.fimg_encode(1, 4, 4, 3)
    bad = b"GARBAGE-NOT-A-CODEC"
    imgs = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(good_img)),
         Row(media_id=2, content=bytearray(bad))]
    )
    rows = {r["media_id"]: r for r in mm.image_stats(imgs).collect()}
    assert rows[1]["error"] is None and rows[1]["n_pixels"] == 48
    assert rows[2]["error"] is not None and rows[2]["n_pixels"] is None

    auds = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(mm.fpcm_encode(1, 8000, 16))),
         Row(media_id=2, content=bytearray(bad))]
    )
    arows = {r["media_id"]: r for r in mm.audio_features(auds).collect()}
    assert arows[1]["error"] is None and arows[2]["error"] is not None

    vids = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(mm.fvid_encode(1, 4, 3, 3, 4))),
         Row(media_id=2, content=bytearray(bad))]
    )
    frows = mm.sample_frames(vids, every=2).collect()
    assert {r["media_id"] for r in frows} == {1}  # poison video skipped


# ---------------------------------------------------------------------------
# PNG metadata strip (privacy scrub)
# ---------------------------------------------------------------------------


def test_png_strip_removes_planted_metadata_keeps_pixels(spark):
    import numpy as np

    from deepdoctection_spark.operators import multimodal as mm
    from deepdoctection_spark.operators.codecs import (
        _png_chunks,
        png_decode,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    tagged = {r.media_id: bytes(r.content)
              for r in mm.synth_png_images_tagged(docs).collect()}
    out = {r.media_id: r
           for r in mm.strip_image_metadata(
               mm.synth_png_images_tagged(docs)).collect()}
    for mid, r in out.items():
        assert r.error is None
        assert r.n_dropped == 1 + mid % 3
        tags = [t for t, _p in _png_chunks(bytes(r.content))]
        assert all(t in (b"IHDR", b"PLTE", b"IDAT", b"IEND", b"tRNS")
                   for t in tags)
        assert np.array_equal(png_decode(bytes(r.content)),
                              png_decode(tagged[mid]))


def test_png_strip_is_idempotent_and_quarantines_corrupt(spark):
    from deepdoctection_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(3,)], "doc_id long")
    once = mm.strip_image_metadata(mm.synth_png_images_tagged(docs))
    row = once.collect()[0]
    again = spark.createDataFrame(
        [(0, bytearray(row.content)), (1, bytearray(b"\x89PNGgarbage"))],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in mm.strip_image_metadata(again).collect()}
    assert got[0].n_dropped == 0 and bytes(got[0].content) == bytes(row.content)
    assert got[1].error is not None and got[1].content is None


def test_jpeg_strip_removes_exif_keeps_scan_bytes(spark):
    import numpy as np

    from deepdoctection_spark.operators import multimodal as mm
    from deepdoctection_spark.operators.codecs import decode_image

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    tagged = {r.media_id: bytes(r.content)
              for r in mm.synth_jpeg_images_tagged(docs).collect()}
    out = {r.media_id: r
           for r in mm.strip_image_metadata(
               mm.synth_jpeg_images_tagged(docs)).collect()}
    for mid, r in out.items():
        assert r.error is None
        assert r.n_dropped == 1 + mid % 2
        b = bytes(r.content)
        assert b"Exif" not in b and b"shot" not in b
        assert np.array_equal(decode_image(b), decode_image(tagged[mid]))


def test_jpeg_strip_keeps_app14_adobe_transform():
    """APP14 (Adobe) carries the colour transform a CMYK/YCCK scan decodes
    by, so the scrub keeps it byte-identical next to APP0 and drops only
    the APP1 EXIF and the COM comment."""
    import struct

    from deepdoctection_spark.kernels.jpeg import jpeg_encode
    from deepdoctection_spark.operators.codecs import jpeg_strip_metadata

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload

    raw = jpeg_encode(np.full((8, 8), 128, np.uint8))
    soi, app0 = raw[:2], raw[2 : 4 + struct.unpack(">H", raw[4:6])[0]]
    assert app0[:2] == b"\xff\xe0"
    coding = raw[2 + len(app0) :]
    app14 = seg(0xEE, b"Adobe\x00\x64\x00\x00\x00\x00\x02")
    tagged = (soi + app0 + seg(0xE1, b"Exif\x00\x00GPS 1.2") + app14
              + seg(0xFE, b"shot 7") + coding)
    stripped, n_dropped = jpeg_strip_metadata(tagged)
    assert n_dropped == 2
    assert stripped == soi + app0 + app14 + coding
    again, n_again = jpeg_strip_metadata(stripped)
    assert n_again == 0 and again == stripped
