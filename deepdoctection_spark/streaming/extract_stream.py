"""Structured Streaming surface over the same extraction operators.

The reference is a bounded-stream batch system — pull-based iterators that
may be infinite (RepeatedData, /root/reference/deepdoctection/dataflow/
common.py:154-184) but with no watermarks, event-time windows, or stateful
operators (SURVEY.md §2.8). Its per-record components are therefore directly
liftable to Structured Streaming: `extract_transcripts` is a stateless narrow
mapInArrow stage, legal on a streaming DataFrame unchanged — ONE code path
for batch and streaming (the Spark-first upgrade the reference cannot
express: its parallel maps would need a rewrite per execution mode).

What IS new here is the stateful part the reference lacks:
- event-time watermark on `ts` bounds late turns and state size,
- conversation reassembly becomes a windowed aggregation — late turns inside
  the watermark still merge into their conversation; turns later than the
  watermark are dropped deterministically instead of corrupting order.

At 10^12-turn scale this is the ingest path: readStream file-arrival source
(maxFilesPerTrigger as backpressure — the reference's buffer_size/hwm,
parallel_map.py:418-429, expressed as source admission control), the same
narrow Arrow stage, an exactly-once file sink, and checkpointLocation as the
lineage record (the streaming analogue of jobs/resumable.py's manifest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepdoctection_spark.config import DEFAULT_CONFIG, PipelineConfig
from deepdoctection_spark.operators.extraction import extract_transcripts
from deepdoctection_spark.operators.reassembly import _ordered_concat

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival streaming source over a transcript parquet directory."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_extract(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_words: bool = True,
) -> DataFrame:
    """The SAME extraction stage, applied to a streaming DataFrame.

    Stateless + narrow ⇒ lifts verbatim; event time is threaded through the
    Arrow stage (keep_ts) so downstream stateful ops can watermark it.
    """
    return extract_transcripts(
        transcripts, cfg=cfg, with_words=with_words, keep_ts=True
    )


def stream_dedup_turns(
    transcripts: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup: first occurrence of each (conv_id, turn_idx,
    payload-fingerprint) wins; re-deliveries inside the watermark are dropped.

    Uses dropDuplicatesWithinWatermark: plain dropDuplicates on a subset
    WITHOUT the event-time column never evicts its state (the watermark only
    cleans keys that include the time column), which on an unbounded
    10^12-turn ingest means unbounded state-store growth. The
    within-watermark variant expires each key once the watermark passes its
    event time — exactly the re-delivery window an at-least-once source
    needs. The batch engine needs no such operator: deterministic span ids
    make re-runs idempotent (kernels/ids.py); a stream cannot re-run, it
    must dedup in flight with bounded state."""
    keyed = transcripts.withColumn("fp", F.md5(F.concat_ws("\x01", "text", "tool")))
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx", "fp"]
    )


def stream_reassemble(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming conversation reassembly with bounded late-data state.

    Extraction first (narrow), then watermark on the restored event-time
    column, then a per-(conv_id, event-window) aggregation. Sort keys travel
    with the data — the batch reassembly's ordered concat
    (operators/reassembly.py), ordered by (turn_idx, text) — so the result
    is deterministic under any arrival order, plus watermark-bounded state so
    an unbounded stream cannot accumulate unbounded conversations.
    """
    ex = stream_extract(transcripts, cfg=cfg, with_words=False)
    return (
        ex.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.window("ts", window).alias("win"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            _ordered_concat("extracted_text", "\n\n").alias("conv_text"),
        )
        .select(
            "conv_id",
            F.col("win.start").alias("window_start"),
            "n_turns",
            "conv_text",
        )
    )
