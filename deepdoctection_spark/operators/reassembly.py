"""Conversation reassembly: the engine's only true cross-row operation.

All extraction is per-turn (narrow). Restoring deterministic conversation
order requires one shuffle on conv_id — the north rule's stable-ordering
contract. The reference's parallel maps are explicitly UNORDERED
(/root/reference/deepdoctection/dataflow/parallel_map.py:163-171); order there
is restored by single-threaded iteration, which cannot scale. Here order is
restored *declaratively*: sort keys travel with the data and a single
aggregation reassembles each conversation.

Scale notes (100 TB / 10^12 turns):
- One aggregate over one Exchange, hashpartitioning(conv_id); over a
  conv-bucketed table (jobs/bucketing.py) there is no Exchange at all. AQE
  coalesces small post-shuffle partitions.
- The sort key is explicit in the data (`listagg ... WITHIN GROUP (ORDER BY
  turn_idx, text)`), never arrival order, and there is no window or second
  sort pass.
- A mega-conversation is one aggregation group, so one reduce task buffers
  all of its turns. Measured, that costs less than a second shuffle of every
  byte of text would (BENCH.md §2b), and the one output row holds the whole
  conv_text anyway. A conversation too large for one row is the case for
  `reassemble_conversations_chunked`, whose groups and rows are both
  bounded by chunk_size turns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ordered_concat(text_col: str, sep: str) -> Column:
    """Non-null text_col values joined by sep in (turn_idx, text) order; ''
    for a group whose texts are all null. Ties on turn_idx order by text and
    a null turn_idx sorts first, as a sort of (turn_idx, text) structs does.
    text_col enters the SQL as a quoted identifier, sep as an escaped
    literal."""
    ident = "`" + text_col.replace("`", "``") + "`"
    lit = "'" + sep.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return F.expr(
        f"coalesce(listagg({ident}, {lit}) "
        f"WITHIN GROUP (ORDER BY turn_idx, {ident}), '')"
    )


def reassemble_conversations(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    sep: str = "\n\n",
) -> DataFrame:
    """One row per conversation: turns concatenated in turn_idx order.

    conv_text = join of per-turn extracted text, ordered by the explicit key —
    deterministic under any physical parallelism / arrival order. n_turns
    counts every turn row, including those whose text is null.

    One groupBy(conv_id), so one shuffle of the text. The row materializes
    the whole conv_text — that is the output contract; for an
    output-bounded variant use reassemble_conversations_chunked.
    """
    return extracted.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        _ordered_concat(text_col, sep).alias("conv_text"),
    )


def reassemble_conversations_chunked(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    sep: str = "\n\n",
    chunk_size: int = 1024,
) -> DataFrame:
    """Bounded-output reassembly: one row per (conv_id, chunk_no) with at
    most chunk_size turns concatenated in order — the contract a 100 TB
    consumer actually wants for a conversation too large for one row: no
    aggregation group and no output row holds more than chunk_size turns.
    A reader restores the full text by concatenating chunk_text over
    ascending chunk_no with sep (chunks are ordered, disjoint turn_idx
    ranges). Chunking assumes roughly dense turn_idx per conversation."""
    return (
        extracted.withColumn(
            "chunk_no", F.floor(F.col("turn_idx") / chunk_size).cast("long")
        )
        .groupBy("conv_id", "chunk_no")
        .agg(
            F.count("*").alias("chunk_turns"),
            _ordered_concat(text_col, sep).alias("chunk_text"),
        )
    )
