"""Seeded randomized hardening for the session-7 kernels: the image
metadata strips must be byte-neutral on pixels for ANY ancillary-chunk
placement, the Feistel shuffle must stay a bijection on arbitrary id sets,
and the Markdown chain must strip every construct it claims to for
arbitrary fragment soups (batched through ONE Spark job per property)."""

from __future__ import annotations

import random
import struct

import numpy as np


def test_png_strip_fuzz_any_chunk_placement():
    from deepdoctection_spark.operators.codecs import (
        _png_chunks,
        png_chunk,
        png_decode,
        png_encode,
        png_strip_metadata,
    )

    rng = random.Random(42)
    anc_tags = [b"tEXt", b"zTXt", b"iTXt", b"tIME", b"eXIf", b"pHYs",
                b"sRGB", b"gAMA"]
    for trial in range(30):
        h, w, c = rng.randint(1, 12), rng.randint(1, 12), rng.choice([1, 3])
        px = np.frombuffer(
            bytes(rng.randrange(256) for _ in range(h * w * c)),
            dtype=np.uint8).reshape(h, w, c)
        raw = png_encode(px)
        # split into wire chunks and re-assemble with ancillaries sprinkled
        # at every legal internal position (after IHDR .. before IEND end)
        chunks = [png_chunk(t, p) for t, p in _png_chunks(raw)]
        n_anc = rng.randint(0, 4)
        for _ in range(n_anc):
            tag = rng.choice(anc_tags)
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randint(0, 40)))
            pos = rng.randint(1, len(chunks) - 1)  # never before IHDR
            chunks.insert(pos, png_chunk(tag, payload))
        tagged = b"\x89PNG\r\n\x1a\n" + b"".join(chunks)
        stripped, dropped = png_strip_metadata(tagged)
        assert dropped == n_anc, (trial, dropped, n_anc)
        assert np.array_equal(png_decode(stripped), px)
        again, d2 = png_strip_metadata(stripped)
        assert d2 == 0 and again == stripped


def test_jpeg_strip_fuzz_any_segment_mix():
    from deepdoctection_spark.kernels.jpeg import jpeg_encode
    from deepdoctection_spark.operators.codecs import (
        decode_image,
        jpeg_strip_metadata,
    )

    rng = random.Random(7)
    for trial in range(20):
        bw, bh = rng.randint(1, 4), rng.randint(1, 3)
        vals = 2 * ((rng.randrange(256) + 17 * np.arange(bh * bw)) % 128)
        img = np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1).astype(
            np.uint8)
        raw = jpeg_encode(img)
        segs, n_meta = [], rng.randint(0, 5)
        for _ in range(n_meta):
            marker = rng.choice([0xE1, 0xE2, 0xEC, 0xEE, 0xFE])
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randint(0, 60)))
            segs.append(bytes([0xFF, marker])
                        + struct.pack(">H", 2 + len(payload)) + payload)
        tagged = raw[:2] + b"".join(segs) + raw[2:]
        stripped, dropped = jpeg_strip_metadata(tagged)
        kept = [s for s in segs if s[1] == 0xEE]  # APP14/Adobe stays
        assert dropped == n_meta - len(kept)
        assert stripped == raw[:2] + b"".join(kept) + raw[2:]
        assert np.array_equal(decode_image(stripped), decode_image(raw))


def test_feistel_bijection_on_random_id_sets(spark):
    from deepdoctection_spark.operators.convprep import epoch_shuffle

    rng = random.Random(99)
    ids = sorted(rng.sample(range(2 ** 31), 2000))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = epoch_shuffle(df, epochs=2, n_shards=8).collect()
    per_epoch: dict[int, list] = {}
    for r in rows:
        per_epoch.setdefault(r.epoch, []).append(r.perm)
    for e, perms in per_epoch.items():
        assert len(perms) == 2000
        assert len(set(perms)) == 2000, f"epoch {e} collided"
        assert all(0 <= p < 2 ** 32 for p in perms)


def test_markdown_extract_fuzz_no_construct_survives(spark):
    from deepdoctection_spark.operators.textstats import markdown_extract

    rng = random.Random(5)
    frags = [
        "plain words here", "# H1 line", "###### deep header",
        "[t{0}](http://u/{0})", "![i{0}](p{0}.png)", "**bold{0}**",
        "*em{0}*", "```\ncode {0} [x](y)\n```", "| a{0} | b |",
        "trailing * star", "[unclosed](", "!bang [l{0}](u{0})",
    ]
    rows = []
    for i in range(60):
        parts = [rng.choice(frags).format(rng.randrange(100))
                 for _ in range(rng.randint(1, 8))]
        rows.append((i, "\n".join(parts)))
    out = markdown_extract(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()
    assert len(out) == 60
    for r in out:
        assert "```" not in r.text
        assert "](http" not in r.text and "](p" not in r.text
        assert "**" not in r.text
        # counters are consistent with the harvested list
        assert r.n_links == (len(r.links.split(",")) if r.links else 0)
        assert r.n_fences >= 0 and r.code_chars >= 0


def test_luhn_fuzz_vs_serial_replay(spark):
    from deepdoctection_spark.operators.textstats import luhn_candidates

    rng = random.Random(11)

    def serial_luhn(s: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            total += d if i % 2 == 0 else (2 * d - 9 if 2 * d > 9 else 2 * d)
        return total % 10 == 0

    rows, expect = [], {}
    for i in range(80):
        n = rng.randint(10, 22)
        digits = "".join(str(rng.randrange(10)) for _ in range(n))
        rows.append((i, f"ref {digits} end"))
        if n >= 13:
            expect[i] = (digits, int(n <= 19),
                         int(n <= 19 and serial_luhn(digits)))
    out = {r.doc_id: (r.cand, r.len_ok, r.luhn_valid)
           for r in luhn_candidates(
               spark.createDataFrame(rows, "doc_id long, text string"))
           .collect()}
    assert out == expect


def test_kmv_fuzz_vs_exact_bottom_k(spark):
    import hashlib

    from deepdoctection_spark.operators.sketches import KMV_K, kmv_setops

    rng = random.Random(23)
    a = {f"k{rng.randrange(5000)}" for _ in range(700)}
    b = {f"k{rng.randrange(5000)}" for _ in range(500)}
    sets = spark.createDataFrame(
        [("a", k) for k in a] + [("b", k) for k in b], "s string, url string")
    out = {r.op: r for r in kmv_setops(sets).collect()}

    def hs(keys):
        return sorted(int(hashlib.md5(k.encode()).hexdigest()[:15], 16)
                      for k in keys)

    ha, hb = hs(a), hs(b)
    hu = sorted(set(ha) | set(hb))
    # sketch contents equal the serial bottom-k exactly (kth + size)
    assert out["a"].kth == ha[:KMV_K][-1] and out["a"].sk_n == min(
        KMV_K, len(ha))
    assert out["b"].kth == hb[:KMV_K][-1]
    assert out["union"].kth == hu[:KMV_K][-1]
    # exact columns match true set algebra
    assert out["union"].exact == len(set(ha) | set(hb))
    assert out["intersect"].exact == len(set(ha) & set(hb))
    assert out["a_not_b"].exact == len(set(ha) - set(hb))
