"""Seeded randomized hardening: the Feistel shuffle must stay a bijection on
arbitrary id sets, the Markdown chain must strip every construct it claims
to for arbitrary fragment soups, and the Luhn candidates must match a serial
replay (batched through ONE Spark job per property)."""

from __future__ import annotations

import random


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

