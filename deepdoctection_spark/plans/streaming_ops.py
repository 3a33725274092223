"""Streaming queries surfaced on the driver contract.

Each query materializes a BOUNDED run of the Structured Streaming pipeline
(file-arrival source over a freshly-written transcript directory →
trigger(availableNow) → memory sink) and returns the sink table — so the
driver's correctness gate checks the actual streaming execution path, not a
batch stand-in.

- stream_extract_text HAS a full DuckDB oracle: the streaming extraction of
  the whole table must hash-match the template ground truth exactly like the
  batch extract_text query (ONE code path, two execution modes — the
  engine's core streaming claim, now oracle-verified).
- stream_session_assembly (applyInPandasWithState with event-time timeouts)
  is value-checked too: a bounded single-data-batch availableNow run makes
  the stateful semantics deterministic (flush-at-final-watermark +
  gap-split), which oracle_session_assembly expresses in SQL over the
  template ground truth — closing the registry's last rows-only cell.
  tests/test_streaming.py additionally carries the batch-cut-independence
  semantics checks the bounded run cannot see.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from deepdoctection_spark.plans import oracles
from deepdoctection_spark.plans.registry import register
from deepdoctection_spark.sources.transcripts import build_transcripts
from deepdoctection_spark.streaming import stream_extract, stream_transcripts


def _bounded_stream_run(
    spark: SparkSession, sf_dir: str, stage_fn, complete: bool = False,
    pre=None,
) -> DataFrame:
    """Write transcripts as a multi-file dir, run `stage_fn(stream_df)` to a
    memory sink with availableNow, return the sink table. ``complete``
    selects complete output mode (whole-result aggregations: append would
    correctly hold back windows the watermark hasn't closed). ``pre``
    transforms the batch DataFrame before it is written (input shaping —
    e.g. the session query's deterministic ts stretch)."""
    path = tempfile.mkdtemp(prefix="ddspark_stream_q_")
    try:
        src = build_transcripts(spark, sf_dir)
        if pre is not None:
            src = pre(src)
        src.repartition(4).write.mode("overwrite").parquet(path)
        name = f"stream_q_{uuid.uuid4().hex[:8]}"
        q = (
            stage_fn(stream_transcripts(spark, path))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete" if complete else "append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        return spark.table(name)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _await_bounded(q, timeout: int = 600) -> None:
    """availableNow runs are bounded; a timeout means the sink is partial —
    raise instead of silently returning a partial memory table (which the
    parity gate would misreport as a data mismatch)."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"bounded streaming query {q.name} still running after "
            f"{timeout}s; memory sink would be partial"
        )


@register("stream_extract_text", oracles.oracle_extract_text())
def q_stream_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bounded_stream_run(spark, sf_dir, stream_extract).select(
        "conv_id", "turn_idx", "role", "tool", "extracted_text", "n_blocks"
    )


def _oracle_stream_reassemble() -> str:
    """Per (conv_id, 1-hour event window): ordered turn concat — the
    windowed-aggregation face of the conversation_text oracle (ts is a pure
    function of doc_id: epoch + doc_id·30s)."""
    from deepdoctection_spark.plans.oracles import _extracted_text_case
    from deepdoctection_spark.sources.transcripts import (
        EPOCH_2024,
        TRANSCRIPT_BASE_SQL,
    )

    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (
  SELECT conv_id, turn_idx, {_extracted_text_case()} AS t,
         ({EPOCH_2024} + doc_id * 30) AS tsec
  FROM base
)
SELECT conv_id,
       ((tsec // 3600) * 3600 * 1000000)::BIGINT AS window_start_us,
       count(*)::BIGINT AS n_turns,
       string_agg(t, chr(10) || chr(10) ORDER BY turn_idx) AS conv_text
FROM et GROUP BY conv_id, tsec // 3600
"""


@register("stream_reassemble_windows", _oracle_stream_reassemble())
def q_stream_reassemble_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed conversation reassembly (complete mode → every
    event-time window emitted), oracle-checked against the template ground
    truth — the watermark+window aggregation path itself, not a batch
    stand-in.

    Late-data contract (not visible to this bounded whole-table oracle,
    which has no late rows): rows delivered beyond the watermark are
    dropped EXACTLY — the streamed result equals the batch recompute minus
    precisely those rows, pinned by tests/test_streaming.py::
    test_reassemble_drops_beyond_watermark_rows_exactly (append mode,
    multi-micro-batch delivery, one-batch watermark propagation delay)."""
    from pyspark.sql import functions as F

    from deepdoctection_spark.streaming import stream_reassemble

    out = _bounded_stream_run(
        spark,
        sf_dir,
        lambda s: stream_reassemble(s, window="1 hour"),
        complete=True,
    )
    return out.select(
        "conv_id",
        F.unix_micros("window_start").alias("window_start_us"),
        "n_turns",
        "conv_text",
    )


def _oracle_stream_dedup() -> str:
    """The un-duplicated transcript table with per-turn payload length
    (payload length derives from the template pieces per family)."""
    from deepdoctection_spark.sources.transcripts import (
        HTML_PAYLOAD,
        PDFISH_PAYLOAD,
        TRANSCRIPT_BASE_SQL,
        sql_len,
    )

    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL})
SELECT conv_id, turn_idx, role, tool,
       (CASE (doc_id % 3)
          WHEN 0 THEN length(text)
          WHEN 1 THEN {sql_len(HTML_PAYLOAD)}
          ELSE {sql_len(PDFISH_PAYLOAD)} END)::INT AS n_chars
FROM base
"""


@register("stream_dedup_ingest", _oracle_stream_dedup())
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once ingest dedup, driven with REAL duplicate
    deliveries: the input directory is written TWICE (two copies of every
    file — the re-delivery an at-least-once source produces);
    dropDuplicatesWithinWatermark must collapse them back to exactly one row
    per (conv_id, turn_idx, payload-fingerprint). The oracle is simply the
    original (un-duplicated) transcript table."""
    from pyspark.sql import functions as F

    from deepdoctection_spark.streaming import stream_dedup_turns

    path = tempfile.mkdtemp(prefix="ddspark_stream_dup_")
    try:
        t = build_transcripts(spark, sf_dir).repartition(4)
        t.write.mode("overwrite").parquet(path)
        t.write.mode("append").parquet(path)  # the duplicate delivery
        name = f"stream_dup_{uuid.uuid4().hex[:8]}"
        q = (
            stream_dedup_turns(stream_transcripts(spark, path))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        out = spark.table(name)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out.select(
        "conv_id", "turn_idx", "role", "tool",
        F.length("text").cast("int").alias("n_chars"),
    )


@register("stream_session_assembly", oracles.oracle_session_assembly())
def q_stream_session_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session-gap assembly with a FULL value oracle (previously
    the registry's one rows-only cell): for a bounded single-data-batch
    availableNow run the applyInPandasWithState semantics are deterministic
    — a conversation flushes iff the final watermark (global max ts − 10
    min) strictly passed its last turn's ts + gap, and the flush gap-splits
    its turns — which oracle_session_assembly expresses in SQL over the
    template ground truth. The input ts is stretched +600 s every 5 turns
    (deterministically from turn_idx, mirrored in the oracle) so convs
    actually straddle the 300 s gap and the split path is exercised."""
    from pyspark.sql import functions as F

    from deepdoctection_spark.streaming.sessionize import sessionize_conversations

    def stretch(df):
        return df.withColumn(
            "ts",
            F.expr("timestamp_seconds(unix_seconds(ts) + (turn_idx div 5) * 600)"),
        )

    def stage(stream_df):
        return sessionize_conversations(
            stream_extract(stream_df, with_words=False), gap_seconds=300
        )

    return _bounded_stream_run(spark, sf_dir, stage, pre=stretch)


@register("stream_ice_sink", oracles.oracle_extract_text())
def q_stream_ice_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming extraction committed through the IceTable foreachBatch sink
    (exactly-once over retried epochs, one snapshot per micro-batch), read
    back from the table's current snapshot. The oracle is the same template
    ground truth as stream_extract_text / extract_text: agreement proves the
    stream → snapshot-commit → snapshot-read loop loses and duplicates
    nothing."""
    from deepdoctection_spark.sources.icetable import IceTable

    path = tempfile.mkdtemp(prefix="ddspark_stream_ice_")
    try:
        build_transcripts(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(f"{path}/src")
        tbl = IceTable(f"{path}/tbl")
        q = (
            stream_extract(
                stream_transcripts(spark, f"{path}/src", max_files_per_trigger=2)
            )
            .select("conv_id", "turn_idx", "role", "tool",
                    "extracted_text", "n_blocks")
            .writeStream.foreachBatch(tbl.streaming_sink("extract"))
            .option("checkpointLocation", f"{path}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        out = tbl.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "stream_interval_join",
    """
SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id,
       (epoch_us(c.ts) - epoch_us(e.ts))::BIGINT AS delta_us
FROM events e JOIN events c
  ON c.user_id = e.user_id
 AND e.event_type = 'error' AND c.event_type = 'click'
 AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 6 HOUR
""",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (the Structured Streaming
    feature the rest of the streaming surface doesn't touch): clicks and
    errors arrive as two file-source streams, both watermarked on event
    time, joined on user_id with the time-range predicate `click.ts in
    [error.ts, error.ts + 6h]` — Spark bounds each side's join state from
    the range condition + watermarks instead of buffering streams forever.
    The oracle is the plain batch range join of the same events: agreement
    proves the streaming join emits exactly the batch matches, none lost
    to state eviction, none duplicated across micro-batches."""
    from pyspark.sql import functions as F

    path = tempfile.mkdtemp(prefix="ddspark_stream_join_")
    try:
        spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
            4
        ).write.mode("overwrite").parquet(path)
        schema = spark.read.parquet(path).schema
        ev = spark.readStream.schema(schema).parquet(path).select(
            "event_id", "user_id", "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
        errors = (
            ev.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("error_ts"),
            )
            .withWatermark("error_ts", "1 hour")
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        joined = clicks.join(
            errors,
            F.expr(
                "c_user = e_user AND "
                "click_ts >= error_ts AND "
                "click_ts <= error_ts + INTERVAL 6 HOURS"
            ),
        ).select(
            "error_id",
            "click_id",
            F.col("c_user").alias("user_id"),
            (F.unix_micros("click_ts") - F.unix_micros("error_ts"))
            .cast("long")
            .alias("delta_us"),
        )
        name = f"stream_join_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _oracle_stream_neardup() -> str:
    """Unrolled serial replay of the 3-micro-batch near-dup ingest: batch b
    = documents with md5-bucket(doc_id)%3 == b; corpus after each epoch =
    accepted (is_new) docs so far; epoch 0 sees an empty corpus."""
    from deepdoctection_spark.plans.training_ops import _lsh_step

    return f"""
WITH split AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INT % 3 AS bucket
  FROM documents
),
b0 AS (SELECT doc_id, text FROM split WHERE bucket = 0),
b1 AS (SELECT doc_id, text FROM split WHERE bucket = 1),
b2 AS (SELECT doc_id, text FROM split WHERE bucket = 2),
{_lsh_step('1', 'b0', 'b1')},
acc1 AS (
  SELECT d.doc_id, d.text FROM b1 d JOIN v1 ON v1.doc_id = d.doc_id AND v1.is_new
),
c2 AS (SELECT * FROM b0 UNION ALL SELECT * FROM acc1),
{_lsh_step('2', 'c2', 'b2')}
SELECT doc_id, NULL::BIGINT AS dup_of, NULL::DOUBLE AS jaccard,
       true AS is_new, 0::BIGINT AS epoch
FROM b0
UNION ALL
SELECT doc_id, dup_of, jaccard, is_new, 1::BIGINT FROM v1
UNION ALL
SELECT doc_id, dup_of, jaccard, is_new, 2::BIGINT FROM v2
"""


@register("stream_neardup_ingest", _oracle_stream_neardup())
def q_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming near-dup ingest against a PERSISTED LSH index
    (streaming/ingest_neardup.py): three deterministic micro-batches of the
    documents table flow through foreachBatch; each batch is verified
    against the band-key index of everything accepted so far (cost ∝ batch,
    never ∝ corpus), and accepted docs + their band keys + verdicts land in
    three epoch-guarded IceTables. The oracle is DuckDB's unrolled serial
    replay of the same three steps."""
    import time

    from pyspark.sql import functions as F

    from deepdoctection_spark.streaming import NearDupIngest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int") % 3
    )
    root = tempfile.mkdtemp(prefix="ddspark_neardup_q_")
    try:
        for b in range(3):
            docs.where(bucket == b).coalesce(1).write.parquet(f"{root}/in/f{b}")
            time.sleep(1.05)  # distinct mod-times pin micro-batch order
        ing = NearDupIngest(f"{root}/tables", threshold=0.8)
        src = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in/*")
        )
        q = ing.run(src, f"{root}/ckpt")
        _await_bounded(q)
        rows = ing.verdicts.read(spark).select(
            "doc_id", "dup_of", "jaccard", "is_new", "epoch"
        ).collect()
        return spark.createDataFrame(
            rows,
            schema="doc_id bigint, dup_of bigint, jaccard double, "
                   "is_new boolean, epoch bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
