"""FIMG image payloads: the codec round trip and row quarantine in the
image_stats stage."""

from __future__ import annotations

from deepdoctection_spark.operators import multimodal as mm


def test_fimg_roundtrip():
    raw = mm.fimg_encode(seed=42, w=5, h=4, c=3)
    a = mm.fimg_decode(raw)
    assert a.shape == (4, 5, 3)
    flat = a.reshape(-1)
    assert flat[0] == 42 and flat[1] == 49
    assert int(flat[37]) == (42 + 7 * 37) % 256


def test_poison_media_quarantined(spark):
    """A garbage payload lands in the error column, never a task failure."""
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
