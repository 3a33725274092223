"""Conversation reassembly: the engine's only true cross-row operation.

All extraction is per-turn (narrow). Restoring deterministic conversation
order requires one shuffle on conv_id — the north rule's stable-ordering
contract. The reference's parallel maps are explicitly UNORDERED
(/root/reference/deepdoctection/dataflow/parallel_map.py:163-171); order there
is restored by single-threaded iteration, which cannot scale. Here order is
restored *declaratively*: sort keys travel with the data and a single
aggregation reassembles each conversation.

Scale notes (100 TB / 10^12 turns):
- The groupBy(conv_id) shuffle hash-partitions conversations; AQE coalesces
  small post-shuffle partitions and splits skewed ones.
- Mega-conversation skew: `salted_repartition` pre-spreads a hot conv_id over
  salt buckets for the narrow stage so no single input task drags; only the
  final reassembly touches conv granularity (SURVEY.md §4 design rule 1).
- array_sort(collect_list(struct(turn_idx, ...))) is used instead of a window
  + collect over ordered rows: one shuffle, no second sort pass, and the sort
  key is explicit in the data (never arrival order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepdoctection_spark.config import DEFAULT_CONFIG, PipelineConfig


def reassemble_conversations(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    sep: str = "\n\n",
    chunk_size: int | None = 1024,
) -> DataFrame:
    """One row per conversation: turns concatenated in turn_idx order.

    conv_text = join of per-turn extracted text, ordered by the explicit key —
    deterministic under any physical parallelism / arrival order.

    Two-phase by default (the mega-conversation memory bound): phase 1
    partially concatenates per (conv_id, turn_idx // chunk_size) — each
    aggregation group holds at most chunk_size per-turn structs, so a
    conversation carrying 30% of the corpus no longer forces one task to
    buffer (and sort) every turn struct at once; AQE cannot split a single
    group, but it CAN distribute many chunk groups. Phase 2 merges the
    ordered chunk strings per conv_id — state there is one string per chunk,
    not one struct per turn. Output strings are byte-identical to the
    single-phase plan (chunks are ordered ranges of turn_idx, and sep joins
    both within and between chunks). The final row still materializes the
    whole conv_text — that is the output contract; for an output-bounded
    variant use reassemble_conversations_chunked.

    chunk_size=None selects the single-phase plan (one groupBy, used by the
    equivalence invariant test). Chunk grouping assumes roughly dense
    turn_idx per conversation (the input contract); pathologically sparse
    indices degrade phase 1 back toward single-group behavior but never
    change the result.
    """
    if chunk_size is None:
        return (
            extracted.groupBy("conv_id")
            .agg(
                F.count("*").cast("long").alias("n_turns"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("turn_idx"), F.col(text_col))
                            )
                        ),
                        lambda s: s[text_col],
                    ),
                    sep,
                ).alias("conv_text"),
            )
        )
    chunks = _chunked(extracted, text_col, sep, chunk_size)
    return chunks.groupBy("conv_id").agg(
        F.sum("chunk_turns").cast("long").alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("chunk_no"), F.col("chunk_text")))
                ),
                lambda s: s["chunk_text"],
            ),
            sep,
        ).alias("conv_text"),
    )


def _chunked(
    extracted: DataFrame, text_col: str, sep: str, chunk_size: int
) -> DataFrame:
    """Phase 1: ordered partial concat per (conv_id, turn_idx // chunk_size)."""
    return (
        extracted.withColumn(
            "chunk_no", F.floor(F.col("turn_idx") / chunk_size).cast("long")
        )
        .groupBy("conv_id", "chunk_no")
        .agg(
            F.count("*").cast("long").alias("chunk_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
                sep,
            ).alias("chunk_text"),
        )
    )


def reassemble_conversations_chunked(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    sep: str = "\n\n",
    chunk_size: int = 1024,
) -> DataFrame:
    """Bounded-output reassembly: one row per (conv_id, chunk_no) with at
    most chunk_size turns concatenated in order — the contract a 100 TB
    consumer actually wants for a conversation too large for one row. A
    reader restores the full text by concatenating chunk_text over ascending
    chunk_no with sep (chunks are ordered, disjoint turn_idx ranges)."""
    return _chunked(extracted, text_col, sep, chunk_size).select(
        "conv_id", "chunk_no", "chunk_turns", "chunk_text"
    )


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Spread skewed conv_ids across salt buckets for the narrow stages.

    repartition(N, conv_id, pmod(hash(turn_idx), SALT)) keeps a conversation's
    turns in at most SALT partitions while preventing one mega-conversation
    from serializing a stage (SURVEY.md §4 explicit-design rule 1). A no-op
    when cfg.skew_salt_buckets == 0 (AQE-only mode).
    """
    if cfg.skew_salt_buckets <= 0:
        return df.repartition(num_partitions, "conv_id")
    salt = F.pmod(F.hash("turn_idx"), F.lit(cfg.skew_salt_buckets))
    return df.repartition(num_partitions, F.col("conv_id"), salt)
