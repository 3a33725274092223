"""Conversation-level training-prep: context-window budgeting and loss-mask
spans over the assembled transcript.

Both are one conv_id-partitioned window + (at most) one hash agg — bounded
per-conversation groups, fully parallel across the corpus, no global sort.
Reference analogue: the page/chunk export surface (PageParsingService,
pipe/concurrency.py's ordered emit) — here aimed at what an LLM training
loader actually consumes: a turn suffix that fits the context window, and
per-turn char spans telling the loss which bytes are the assistant's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _n_tokens(col: Column) -> Column:
    """Whitespace token count under the engine-portable normalization
    (dedup.normalized_text's regex; DuckDB replays it verbatim)."""
    norm = F.trim(F.regexp_replace(col, r"[ \t\n\r\f\x0B]+", " "))
    return (
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
    )


def conv_context_fit(
    turns: DataFrame, budget: int, text_col: str = "extracted_text"
) -> DataFrame:
    """Context-window budgeting: per conversation, keep the longest SUFFIX
    of turns whose total whitespace-token count fits ``budget`` — the
    standard truncate-from-the-front policy for multi-turn training rows
    (recent turns matter; stale ones are dropped first).

    Plan: one conv_id window ordered by turn_idx DESC accumulates tokens
    from the end; a turn is kept iff its suffix-cumulative total ≤ budget
    (suffix property: kept turns are exactly the trailing run). One hash
    agg rolls the per-conversation report.

    Returns (conv_id, total_turns, kept_turns, first_kept_turn_idx,
    kept_tokens, total_tokens); first_kept_turn_idx/kept_tokens are
    NULL/0 when even the last turn alone overflows the budget.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = turns.select(
        "conv_id", "turn_idx", _n_tokens(F.col(text_col)).alias("n_tok")
    ).withColumn("cum_from_end", F.sum("n_tok").over(w))
    kept = F.col("cum_from_end") <= budget
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("total_turns"),
        F.sum(kept.cast("long")).alias("kept_turns"),
        F.min(F.when(kept, F.col("turn_idx"))).cast("int")
        .alias("first_kept_turn_idx"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("long").alias("kept_tokens"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


def conv_loss_masks(
    turns: DataFrame,
    text_col: str = "extracted_text",
    sep_len: int = 2,
    loss_role: str = "assistant",
) -> DataFrame:
    """Per-turn char spans into the assembled conversation text (the
    reassembly contract: turns joined by a ``sep_len``-char separator in
    turn_idx order) plus the loss mask — training on ``loss_role`` turns
    only. ``conv_text[start_char:end_char] == turn_text`` by construction
    (pinned in tests/test_convprep.py against reassemble_conversations).

    Plan: one conv_id window prefix sum of (len + sep_len) over preceding
    turns — narrow otherwise; output one row per turn.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tlen = F.length(F.col(text_col)).cast("long")
    start = F.coalesce(F.sum(tlen + sep_len).over(w), F.lit(0))
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        start.alias("start_char"),
        (start + tlen).alias("end_char"),
        (F.col("role") == loss_role).alias("loss"),
    )


def conv_prefix_dups(
    turns: DataFrame, text_col: str = "extracted_text"
) -> DataFrame:
    """Strict-prefix conversation duplicates — conv A whose ordered turn
    texts equal the first |A| turns of a LONGER conv B. Agent retries and
    partial re-uploads produce exactly these; whole-conversation
    fingerprint dedup (conv_dedup_exact) cannot see them, and turn-level
    near-dup misattributes them.

    Candidate keys cost O(1) state per turn: a running sum (one conv_id
    window) over position-salted 40-bit md5 integers — sums stay far below
    2^63 at any conversation length, identical arithmetic in DuckDB — so
    candidate generation is one window + one (position, key) equi-join,
    never a quadratic prefix-string build. Candidates are then verified
    EXACTLY and row-locally by array-slice equality over the two
    conversations' collected texts (cost ∝ candidate pairs).

    Equal-length identical conversations are deliberately NOT reported
    (the prefix side requires i < n): that is exact dedup's job.

    Returns (prefix_conv, super_conv, n_turns_prefix, n_turns_super).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = turns.select("conv_id", "turn_idx", F.col(text_col).alias("t"))
    pos = t.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    )
    h40 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("i").cast("string"), F.lit("#"), F.col("t"))),
            1, 10,
        ),
        16, 10,
    ).cast("long")
    keyed = pos.withColumn(
        "pk",
        F.sum(h40).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    full = keyed.where(F.col("i") == F.col("n")).select(
        F.col("conv_id").alias("prefix_conv"),
        F.col("i").alias("np"),
        F.col("pk").alias("pk_f"),
    )
    pref = keyed.where(F.col("i") < F.col("n")).select(
        F.col("conv_id").alias("super_conv"),
        F.col("i").alias("ip"),
        F.col("n").alias("ns"),
        F.col("pk").alias("pk_p"),
    )
    cand = full.join(
        pref,
        (F.col("np") == F.col("ip"))
        & (F.col("pk_f") == F.col("pk_p"))
        & (F.col("prefix_conv") != F.col("super_conv")),
    ).select("prefix_conv", "super_conv", "np", "ns")
    seqs = t.groupBy("conv_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("turn_idx", "t"))),
            lambda s: s["t"],
        ).alias("texts")
    )
    sp = seqs.select(
        F.col("conv_id").alias("prefix_conv"), F.col("texts").alias("texts_p")
    )
    ss = seqs.select(
        F.col("conv_id").alias("super_conv"), F.col("texts").alias("texts_s")
    )
    return (
        cand.join(sp, "prefix_conv")
        .join(ss, "super_conv")
        .where(F.slice(F.col("texts_s"), F.lit(1), F.col("np")) == F.col("texts_p"))
        .select(
            "prefix_conv",
            "super_conv",
            F.col("np").cast("long").alias("n_turns_prefix"),
            F.col("ns").cast("long").alias("n_turns_super"),
        )
    )


# Feistel epoch-shuffle geometry: a 32-bit balanced Feistel network (two
# 16-bit halves, 3 rounds, md5-derived round keys) — a keyed BIJECTION on
# [0, 2^32), so every epoch is a full deterministic permutation computed
# row-locally with no global sort and no stored permutation table.
FEISTEL_HALF = 65536
FEISTEL_ROUNDS = 3


def _feistel_f(epoch: Column, rnd: int, half: Column) -> Column:
    """16-bit round function: first 4 md5 nibbles of 'shuf#epoch#round#x'."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.lit("shuf"), epoch.cast("string"),
                              F.lit(str(rnd)), half.cast("string"))
                  .cast("binary")),
            1, 4),
        16, 10,
    ).cast("long")


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id",
                  epochs: int = 3, n_shards: int = 8) -> DataFrame:
    """Deterministic multi-epoch training-loader shuffle: for each epoch a
    keyed Feistel permutation maps every row id to a unique 32-bit ``perm``
    value; ``shard = perm % n_shards`` and the shard-local rank define the
    exact order each loader shard consumes.

    Why not ORDER BY rand(seed)? At 10^12 rows a global sort is a full
    range-shuffle per epoch, the seed's order is not seekable (resuming at
    step k means re-sorting), and Spark's rand() is partition-dependent.
    The Feistel network (Black & Rogaway 2002's cycle-walking cipher,
    minus the walk: the domain is fixed at 2^32 and ids must fit it) is a
    stateless column expression: each epoch's permutation costs one narrow
    map, shards balance by uniformity of the keyed mix, and resuming shard
    s at step k is a ``perm``-range predicate that PUSHES DOWN to a table
    sorted by (epoch, shard, perm) — no state, no sort, no permutation
    table to store or broadcast.

    The only non-map cost is the per-shard rank window, partitioned by
    (epoch, shard) — ``epochs × n_shards`` bounded groups. A production
    writer skips even that: writing bucketed-by-shard sorted-by-perm makes
    the rank implicit in file order.

    Output: (epoch, id, perm, shard, rank_in_shard) — bit-identical across
    engines (md5 + integer arithmetic only). An id outside [0, 2^32) raises:
    its halves would pass 16 bits and perms could collide.
    """
    idc = F.col(id_col).cast("long")
    idc = F.when(
        (idc < 0) | (idc >= FEISTEL_HALF * FEISTEL_HALF),
        F.raise_error(F.concat(F.lit("epoch_shuffle: id outside [0, 2^32): "),
                               idc.cast("string"))),
    ).otherwise(idc)
    e = df.select(idc.alias("id")).withColumn(
        "epoch", F.explode(F.array(*[F.lit(i) for i in range(epochs)]))
    )
    cur = e.select(
        "epoch", "id",
        (F.col("id") / FEISTEL_HALF).cast("long").alias("l0"),
        (F.col("id") % FEISTEL_HALF).alias("r0"),
    )
    for i in range(FEISTEL_ROUNDS):
        l, r = F.col(f"l{i}"), F.col(f"r{i}")
        cur = cur.select(
            "epoch", "id",
            r.alias(f"l{i + 1}"),
            l.bitwiseXOR(_feistel_f(F.col("epoch"), i, r))
            .alias(f"r{i + 1}"),
        )
    ln, rn = F.col(f"l{FEISTEL_ROUNDS}"), F.col(f"r{FEISTEL_ROUNDS}")
    p = cur.select(
        "epoch", "id", (ln * FEISTEL_HALF + rn).alias("perm")
    ).withColumn("shard", (F.col("perm") % n_shards).cast("int"))
    w = Window.partitionBy("epoch", "shard").orderBy("perm")
    return p.withColumn(
        "rank_in_shard", F.row_number().over(w).cast("long")
    )
