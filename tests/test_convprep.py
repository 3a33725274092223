"""Conversation-level training prep (operators/convprep.py): context-budget
suffix selection and loss-mask char spans. End-to-end parity is the
conv_context_fit / conv_loss_masks oracle rows; these pin semantics on
hand-built conversations and the substring contract against the real
reassembly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deepdoctection_spark.operators.convprep import (
    conv_context_fit,
    conv_loss_masks,
)
from deepdoctection_spark.operators.reassembly import reassemble_conversations


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, extracted_text string"
    )


def test_context_fit_keeps_longest_suffix(spark):
    rows = [  # token counts: 4, 3, 2, 3  (suffix sums from end: 3,5,8,12)
        ("a", 0, "user", "one two three four"),
        ("a", 1, "assistant", "five six seven"),
        ("a", 2, "user", "eight nine"),
        ("a", 3, "assistant", "ten eleven twelve"),
    ]
    (r,) = conv_context_fit(_turns(spark, rows), budget=8).collect()
    # suffix {1,2,3} costs 8 ≤ 8; adding turn 0 would cost 12
    assert (r["total_turns"], r["kept_turns"]) == (4, 3)
    assert r["first_kept_turn_idx"] == 1
    assert (r["kept_tokens"], r["total_tokens"]) == (8, 12)


def test_context_fit_overflowing_last_turn_keeps_nothing(spark):
    rows = [("a", 0, "user", "a b"), ("a", 1, "assistant", "c d e f g")]
    (r,) = conv_context_fit(_turns(spark, rows), budget=3).collect()
    assert r["kept_turns"] == 0 and r["first_kept_turn_idx"] is None
    assert r["kept_tokens"] == 0 and r["total_tokens"] == 7


def test_context_fit_empty_text_counts_zero_tokens(spark):
    rows = [("a", 0, "user", ""), ("a", 1, "assistant", "x y")]
    (r,) = conv_context_fit(_turns(spark, rows), budget=2).collect()
    # the empty turn costs 0 tokens, so the whole conversation fits
    assert r["kept_turns"] == 2 and r["first_kept_turn_idx"] == 0
    assert r["total_tokens"] == 2


def test_loss_mask_spans_slice_the_assembled_text(spark):
    rows = [
        ("a", 0, "user", "hello there"),
        ("a", 1, "assistant", "general kenobi"),
        ("a", 2, "user", "bye"),
        ("b", 0, "assistant", "solo"),
    ]
    turns = _turns(spark, rows)
    conv_text = {
        r["conv_id"]: r["conv_text"]
        for r in reassemble_conversations(turns).collect()
    }
    spans = conv_loss_masks(turns).collect()
    texts = {(r[0], r[1]): r[3] for r in rows}
    for s in spans:
        got = conv_text[s["conv_id"]][s["start_char"]:s["end_char"]]
        assert got == texts[(s["conv_id"], s["turn_idx"])]
        assert s["loss"] == (s["role"] == "assistant")
    # masks are disjoint and ordered within a conversation
    a = sorted(
        (s["start_char"], s["end_char"]) for s in spans if s["conv_id"] == "a"
    )
    assert all(a[i][1] + 2 == a[i + 1][0] for i in range(len(a) - 1))


def test_context_fit_is_nondegenerate_on_corpus(spark, sf_small):
    """At sf0.001 with the 150-token budget, SOME conversations must
    actually truncate (guards the oracle row against a vacuous budget)."""
    from deepdoctection_spark.operators.extraction import extract_transcripts
    from deepdoctection_spark.sources.transcripts import build_transcripts

    fit = conv_context_fit(
        extract_transcripts(build_transcripts(spark, sf_small), with_words=False),
        budget=150,
    )
    agg = fit.agg(
        F.sum((F.col("kept_turns") < F.col("total_turns")).cast("int")).alias("trunc"),
        F.sum((F.col("kept_turns") > 0).cast("int")).alias("nonempty"),
    ).collect()[0]
    assert agg["trunc"] > 0 and agg["nonempty"] > 0


def test_prefix_dups_detects_strict_prefix_only(spark):
    from deepdoctection_spark.operators.convprep import conv_prefix_dups

    rows = [
        # A = strict prefix of B
        ("A", 0, "u", "hello"), ("A", 1, "a", "world"),
        ("B", 0, "u", "hello"), ("B", 1, "a", "world"), ("B", 2, "u", "bye"),
        # C == D (equal, NOT a strict prefix pair)
        ("C", 0, "u", "same"), ("D", 0, "u", "same"),
        # E = same multiset as first 2 of B but wrong order
        ("E", 0, "u", "world"), ("E", 1, "a", "hello"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, extracted_text string"
    )
    got = {
        (r["prefix_conv"], r["super_conv"]): (
            r["n_turns_prefix"], r["n_turns_super"]
        )
        for r in conv_prefix_dups(turns).collect()
    }
    assert got == {("A", "B"): (2, 3)}


def test_prefix_dups_multiple_supersets(spark):
    from deepdoctection_spark.operators.convprep import conv_prefix_dups

    rows = [
        ("P", 0, "u", "x"),
        ("B1", 0, "u", "x"), ("B1", 1, "a", "y"),
        ("B2", 0, "u", "x"), ("B2", 1, "a", "z"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, extracted_text string"
    )
    got = sorted(
        (r["prefix_conv"], r["super_conv"])
        for r in conv_prefix_dups(turns).collect()
    )
    assert got == [("P", "B1"), ("P", "B2")]


def test_prefix_dups_property_matches_bruteforce(spark):
    """Differential over a randomized-but-deterministic corpus from a tiny
    alphabet (forces real prefixes AND near-miss collisions): the operator
    must equal the brute-force prefix scan exactly — verification makes
    false positives impossible; this guards the candidate keying against
    false negatives."""
    import hashlib

    from deepdoctection_spark.operators.convprep import conv_prefix_dups

    rng_rows = []
    convs = {}
    for c in range(30):
        cid = f"c{c:02d}"
        h = hashlib.md5(cid.encode()).digest()
        length = 1 + h[0] % 5
        texts = [f"w{(h[1 + i] % 3)}" for i in range(length)]
        convs[cid] = texts
        rng_rows += [(cid, i, "u", t) for i, t in enumerate(texts)]
    turns = spark.createDataFrame(
        rng_rows, "conv_id string, turn_idx int, role string, extracted_text string"
    )
    got = sorted(
        (r["prefix_conv"], r["super_conv"], r["n_turns_prefix"], r["n_turns_super"])
        for r in conv_prefix_dups(turns).collect()
    )
    want = sorted(
        (a, b, len(ta), len(tb))
        for a, ta in convs.items()
        for b, tb in convs.items()
        if a != b and len(ta) < len(tb) and tb[: len(ta)] == ta
    )
    assert got == want and len(want) > 0


# --------------------------------------------------------------------------
# Feistel epoch shuffle
# --------------------------------------------------------------------------


def test_epoch_shuffle_is_a_bijection_and_epochs_differ(spark):
    from deepdoctection_spark.operators.convprep import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    out = epoch_shuffle(df, epochs=2, n_shards=4).collect()
    by_epoch: dict[int, dict[int, int]] = {}
    for r in out:
        by_epoch.setdefault(r.epoch, {})[r.id] = r.perm
    assert set(by_epoch) == {0, 1}
    for e, m in by_epoch.items():
        assert len(m) == 300
        assert len(set(m.values())) == 300  # injective -> bijection on ids
        assert all(0 <= p < 2**32 for p in m.values())
    # the two epochs must order the corpus differently
    order0 = sorted(by_epoch[0], key=by_epoch[0].get)
    order1 = sorted(by_epoch[1], key=by_epoch[1].get)
    assert order0 != order1


def test_epoch_shuffle_shards_balanced_and_ranks_contiguous(spark):
    from deepdoctection_spark.operators.convprep import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(800)], "doc_id long")
    out = epoch_shuffle(df, epochs=1, n_shards=8).collect()
    shards: dict[int, list] = {}
    for r in out:
        shards.setdefault(r.shard, []).append(r)
    assert set(shards) == set(range(8))
    for s, rows in shards.items():
        # uniform hash -> no shard dominates (expected 100 each)
        assert 50 <= len(rows) <= 150, (s, len(rows))
        ranks = sorted(r.rank_in_shard for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        # rank order == perm order (the loader's consumption order)
        by_rank = sorted(rows, key=lambda r: r.rank_in_shard)
        perms = [r.perm for r in by_rank]
        assert perms == sorted(perms)


def test_epoch_shuffle_partitioning_invariance(spark):
    from deepdoctection_spark.operators.convprep import epoch_shuffle

    df = spark.createDataFrame([(i * 7,) for i in range(256)], "doc_id long")
    a = sorted(map(tuple, epoch_shuffle(df.coalesce(1), epochs=1).collect()))
    b = sorted(map(tuple, epoch_shuffle(df.repartition(16), epochs=1).collect()))
    assert a == b


@pytest.mark.parametrize("ids", [[5, 2**32 + 5], [-1]])
def test_epoch_shuffle_rejects_ids_outside_32_bits_on_both_engines(
        spark, sf_small, tmp_path, ids):
    """Ids outside [0, 2^32) push the Feistel halves past 16 bits, so perms
    could leave the domain and collide: both engines raise instead."""
    import duckdb

    from deepdoctection_spark.plans import pipeline  # noqa: F401 — registers
    from deepdoctection_spark.plans.registry import ORACLES, QUERIES
    from tests.harness import duckdb_con, sf_variant

    sf = sf_variant(sf_small, tmp_path / "sf", "documents", " UNION ALL ".join(
        f"(SELECT * REPLACE ({i}::BIGINT AS doc_id) FROM src LIMIT 1)"
        for i in ids))
    name = "loader_epoch_shuffle"
    with pytest.raises(Exception, match="epoch_shuffle: id outside"):
        QUERIES[name](spark, sf).collect()
    with duckdb_con(sf) as con, pytest.raises(
            duckdb.Error, match="epoch_shuffle: id outside"):
        con.execute(ORACLES[name]).fetchall()
