"""MJPEG-in-AVI container kernel: roundtrip, chunk-walk hygiene, poison
contracts (kernels/avi.py), and the Spark frame-sample stage over real
containers."""

import struct

import numpy as np
import pytest

from deepdoctection_spark.kernels.avi import avi_decode_mjpeg, avi_encode_mjpeg
from deepdoctection_spark.kernels.jpeg import jpeg_decode, jpeg_encode


def _flat_jpeg(seed: int, bw: int = 2, bh: int = 2) -> bytes:
    vals = 2 * ((seed + 17 * np.arange(bh * bw)) % 128)
    img = np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1).astype(np.uint8)
    return jpeg_encode(img)


def test_avi_roundtrip_dims_fps_frames():
    frames = [_flat_jpeg(s) for s in (3, 60, 200)]
    raw = avi_encode_mjpeg(frames, 16, 16, fps=25)
    w, h, fps, got = avi_decode_mjpeg(raw)
    assert (w, h, fps, len(got)) == (16, 16, 25, 3)
    assert got == frames  # byte-exact chunk extraction


def test_avi_odd_sized_frames_pad_to_even():
    """JPEG payloads are arbitrary-length; chunk padding must keep the walk
    aligned without leaking the pad byte into the frame."""
    frames = []
    s = 0
    while len(frames) < 2:  # find two odd-length encodings
        j = _flat_jpeg(s, 2 + s % 3, 2)
        if len(j) % 2 == 1:
            frames.append(j)
        s += 1
    raw = avi_encode_mjpeg(frames, 40, 16, fps=10)
    assert avi_decode_mjpeg(raw)[3] == frames


def test_avi_rec_grouping_list():
    """Players write 'rec ' grouping sub-lists inside movi; the walker must
    descend into them."""
    frames = [_flat_jpeg(7), _flat_jpeg(8)]
    raw = bytearray(avi_encode_mjpeg(frames, 16, 16))
    # rebuild movi payload wrapped in a rec list
    def chunk(fcc, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return fcc + struct.pack("<I", len(payload)) + payload + pad

    movi_inner = b"".join(chunk(b"00dc", f) for f in frames)
    rec = chunk(b"LIST", b"rec " + movi_inner)
    movi = chunk(b"LIST", b"movi" + rec)
    # splice: find old movi list and replace
    old_at = bytes(raw).find(b"movi") - 8
    (old_size,) = struct.unpack("<I", raw[old_at + 4 : old_at + 8])
    end = old_at + 8 + old_size + (old_size % 2)
    new = bytes(raw[:old_at]) + movi + bytes(raw[end:])
    new = b"RIFF" + struct.pack("<I", len(new) - 8) + new[8:]
    assert avi_decode_mjpeg(new)[3] == frames


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda b: b"JUNK" + b[4:], "not a RIFF"),
        (lambda b: b[:40], "overruns|missing"),
        (lambda b: b.replace(b"avih", b"xxxx", 1), "missing avih"),
        (lambda b: b.replace(b"00dc", b"00tx"), "no video chunks"),
    ],
)
def test_avi_poison_raises_value_error(mutate, msg):
    raw = avi_encode_mjpeg([_flat_jpeg(1)], 16, 16)
    with pytest.raises(ValueError):
        avi_decode_mjpeg(mutate(raw))


def test_avi_frame_count_mismatch_detected():
    raw = bytearray(avi_encode_mjpeg([_flat_jpeg(1), _flat_jpeg(2)], 16, 16))
    at = bytes(raw).find(b"avih") + 8  # dwMicroSecPerFrame offset
    raw[at + 16 : at + 20] = struct.pack("<I", 5)  # lie about dwTotalFrames
    with pytest.raises(ValueError, match="mismatch"):
        avi_decode_mjpeg(bytes(raw))


def test_mjpeg_frames_decode_losslessly():
    """The flat-block construction survives the full encode→container→
    decode chain bit-exactly (the property every oracle relies on)."""
    for mid in (0, 11, 254):
        bw, bh = 2 + mid % 3, 2 + mid % 2
        vals = 2 * (((mid + 37 * 1) % 256 + 17 * np.arange(bh * bw)) % 128)
        img = np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1).astype(np.uint8)
        raw = avi_encode_mjpeg([jpeg_encode(img)], bw * 8, bh * 8)
        assert np.array_equal(jpeg_decode(avi_decode_mjpeg(raw)[3][0]), img)


def test_sample_frames_mjpeg_spark_poison_quarantine(spark):
    """Spark stage: real containers sample every 2nd frame; a poison
    container drops its rows only (task survives)."""
    import pandas as pd

    from deepdoctection_spark.operators.multimodal import (
        sample_frames_mjpeg,
        synth_videos_mjpeg,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    vids = synth_videos_mjpeg(docs).toPandas()
    vids.loc[vids["media_id"] == 3, "content"] = b"JUNKJUNK"
    poisoned = spark.createDataFrame(
        vids, "media_id long, media_type string, width int, height int, "
        "channels int, n_frames int, content binary"
    )
    rows = sample_frames_mjpeg(poisoned, every=2).collect()
    got_ids = {r["media_id"] for r in rows}
    assert got_ids == {0, 1, 2, 4, 5}
    for r in rows:
        mid, fi = r["media_id"], r["frame_idx"]
        bw, bh = 2 + mid % 3, 2 + mid % 2
        expect = sum(
            64 * (2 * (((mid + 37 * fi) % 256 + 17 * b) % 128))
            for b in range(bh * bw)
        )
        assert (r["width"], r["height"], r["frame_sum"]) == (bw * 8, bh * 8, expect)
