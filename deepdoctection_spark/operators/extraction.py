"""The extraction stage: transcripts → extracted text + typed spans.

Spark-first design notes
------------------------
- ONE ``mapInArrow`` stage runs the whole per-turn chain (decode → block
  segmentation → boilerplate strip → table segmentation → ordering → span
  finalization). The reference runs the same chain as N sequential per-row
  components (/root/reference/deepdoctection/pipe/base.py:282-292); fusing
  them into one Arrow stage means the Python↔JVM boundary is crossed once per
  batch, not once per row per component — the engine's replacement for
  pickle-over-ZeroMQ worker transport
  (/root/reference/deepdoctection/dataflow/parallel_map.py:337-444).
- The stage is NARROW: no shuffle. Spans never cross a turn, so every turn is
  independent; Catalyst keeps the parquet scan → mapInPandas pipeline in one
  stage, and input partitioning is preserved.
- Row-level error quarantine: a failing turn yields an ``error`` string and
  empty outputs instead of failing the task — the reference's
  MappingContextManager contract (log-and-drop, never throw:
  /root/reference/deepdoctection/mapper/maputils.py:41-110). At 10^12 turns a
  poison row must not kill the job.
- Column pruning: pass-through columns are limited to the keys + role/tool;
  the payload column is dropped after extraction so downstream stages never
  carry it (the reference does this manually via clear_image /
  remove_image_from_lower_hierachy,
  /root/reference/deepdoctection/datapoint/image.py:194-205, 536-545 —
  Catalyst's ColumnPruning does it for us as long as payload and outputs are
  separate columns).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from deepdoctection_spark.config import DEFAULT_CONFIG, PipelineConfig
from deepdoctection_spark.kernels.extract import (
    CELL,
    SCHEMA,
    SPAN,
    WORD,
    extract_turn,
    finalize_turn,
)

# The stage runs as mapInArrow and builds RecordBatches with pyarrow's C
# conversion path directly: PySpark's generic pandas→Arrow converter walks
# nested structs element-by-element in Python (≈20× the cost of the
# extraction kernel itself, measured at sf0.1); pa.array(list-of-dicts,
# type=...) does the same job in C. The Spark schema is derived from the
# kernel's Arrow layout, never written twice.
_SCHEMA_TS = SCHEMA.append(pa.field("ts_us", pa.int64()))
EXTRACTION_SCHEMA = from_arrow_schema(SCHEMA)
EXTRACTION_SCHEMA_TS = from_arrow_schema(_SCHEMA_TS)


def _batch_words(txt: pa.StringArray) -> pa.ListArray:
    """Tokenize the WHOLE batch's extracted text in one vectorized pass:
    one Arrow split (C) + numpy prefix sums replace the per-row
    kernels.textnorm.word_spans loop (which was ~1/3 of stage CPU).

    Output is bit-identical to per-row word_spans: tokens are maximal runs
    of non-separator chars (the contract emits exactly ' ' within a block
    and '\\n' between blocks), begin/end are codepoint offsets into the
    row's extracted_text, word_idx counts tokens within the row.
    Equivalence is property-tested against the per-row kernel
    (tests/test_property.py)."""
    # str.split(' ') semantics: empty fragments mark separator runs, so the
    # fragment lengths alone reconstruct every offset (fragment k of a row
    # begins at sum(previous fragment lengths) + k separators)
    parts = pc.split_pattern(pc.replace_substring(txt, "\n", " "), " ")
    flat = parts.flatten()
    lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False).astype(np.int64)
    offs = parts.offsets.to_numpy().astype(np.int64)  # n+1 row boundaries
    counts = np.diff(offs)
    row_start = np.repeat(offs[:-1], counts)  # first fragment index, per fragment
    k = np.arange(len(lens))
    cs = np.concatenate(([0], np.cumsum(lens)))
    begin = (cs[:-1] - cs[row_start]) + (k - row_start)
    nonempty = lens > 0
    nzcs = np.concatenate(([0], np.cumsum(nonempty)))
    word_idx = nzcs[:-1] - nzcs[row_start]
    sel = pa.array(nonempty)
    struct = pa.StructArray.from_arrays(
        [
            flat.filter(sel),
            pa.array(begin[nonempty].astype(np.int32), pa.int32()),
            pa.array((begin[nonempty] + lens[nonempty]).astype(np.int32), pa.int32()),
            pa.array(word_idx[nonempty].astype(np.int32), pa.int32()),
        ],
        fields=list(WORD),
    )
    w_offsets = nzcs[offs].astype(np.int32)  # words-per-row prefix sums
    return pa.ListArray.from_arrays(pa.array(w_offsets, pa.int32()), struct)


def _extract_batches(
    cfg: PipelineConfig, with_words: bool, keep_ts: bool = False
) -> "callable":
    ld, gap, td = cfg.link_density_threshold, cfg.column_gap, cfg.tag_density_threshold
    schema = _SCHEMA_TS if keep_ts else SCHEMA

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            # pass-through columns stay as Arrow arrays end-to-end (zero-copy
            # into the output batch); only the columns the Python kernels
            # actually read are materialized. `role` never enters Python.
            conv = rb.column("conv_id").to_pylist()
            tix = rb.column("turn_idx").to_pylist()
            texts = rb.column("text").to_pylist()
            tools = rb.column("tool").to_pylist()
            out_text: list[str] = [""] * n
            out_blocks: list[list] = [[]] * n
            out_cells: list[list] = [[]] * n
            out_html: list = [None] * n
            out_err: list = [None] * n
            for i in range(n):
                try:
                    blocks = extract_turn(texts[i], tools[i], ld, gap, td)
                    # words are NOT built per row: the whole batch's text is
                    # tokenized in one vectorized pass after the loop
                    # (_batch_words) — the per-row tokenizer was ~1/3 of
                    # stage CPU. int() quarantines a null turn_idx.
                    fin = finalize_turn(conv[i], int(tix[i]), blocks,
                                        with_words=False)
                except Exception as exc:  # quarantine, never throw
                    out_err[i] = f"{type(exc).__name__}: {exc}"[:500]
                    continue
                out_text[i] = fin.extracted_text
                out_blocks[i] = fin.blocks
                out_cells[i] = fin.cells
                out_html[i] = fin.table_html
            blocks_arr = pa.array(out_blocks, pa.list_(SPAN))
            text_arr = pa.array(out_text, pa.string())
            arrays = [
                rb.column("conv_id"),
                rb.column("turn_idx"),
                rb.column("role"),
                rb.column("tool"),
                text_arr,
                blocks_arr.value_lengths(),
                blocks_arr,
                pa.array(out_cells, pa.list_(CELL)),
                _batch_words(text_arr) if with_words else pa.array([[]] * n, pa.list_(WORD)),
                pa.array(out_html, pa.string()),
                pa.array(out_err, pa.string()),
            ]
            if keep_ts:
                arrays.append(rb.column("ts_us"))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return fn


def extract_transcripts(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_words: bool = True,
    keep_ts: bool = False,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction rows.

    Narrow (shuffle-free); schema is the engine's get_meta_annotation analogue
    (/root/reference/deepdoctection/pipe/base.py:118-128): a declared output
    contract per operator. Pass-through key columns are cast to their output
    types here, JVM-side, so the Arrow stage never casts.

    ``keep_ts`` threads the event-time column through the Arrow stage as
    int64 micros (restored to timestamp JVM-side) — required by the
    streaming surface, where the watermark column must survive the stage.
    """
    cols = [
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("role").cast("string"),
        "text",
        F.col("tool").cast("string"),
    ]
    if keep_ts:
        cols.append(F.unix_micros("ts").alias("ts_us"))
    out = transcripts.select(*cols).mapInArrow(
        _extract_batches(cfg, with_words, keep_ts),
        schema=EXTRACTION_SCHEMA_TS if keep_ts else EXTRACTION_SCHEMA,
    )
    if keep_ts:
        out = out.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")
    return out


def block_spans(extracted: DataFrame) -> DataFrame:
    """Flat per-block span table (the reference's Page.chunks export,
    /root/reference/deepdoctection/datapoint/view.py:733-764)."""
    return extracted.select(
        "conv_id", "turn_idx", F.explode("blocks").alias("b")
    ).select(
        "conv_id", "turn_idx",
        "b.span_id", "b.category", "b.span_begin", "b.span_end", "b.reading_order",
    )


def cell_spans(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "conv_id", "turn_idx", F.explode("cells").alias("c")
    ).select("conv_id", "turn_idx", "c.*")


def word_tokens(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "conv_id", "turn_idx", F.explode("words").alias("w")
    ).select(
        "conv_id", "turn_idx", "w.word_idx", "w.token", "w.span_begin", "w.span_end"
    )

