"""Matching + NMS as production operators over noisy block proposals.

Wires the span-geometry kernels (kernels/match.py) into the query surface:
per turn, deterministic overlapping scored proposals are synthesized around
the extracted blocks (kernels/noisy.py — the DetectResultGenerator analogue),
then the REAL kernels run end-to-end:

- ``noisy_candidates``: greedy NMS over all of a turn's proposals
  (AnnotationNmsService, /root/reference/deepdoctection/pipe/common.py:239-301)
  → every proposal with its kept/suppressed verdict.
- ``noisy_assignments``: IoA argmax child→parent matching of probe spans
  against the NMS survivors (MatchingService, pipe/common.py:76-168;
  max_parent_only mode, :129-141) → every child with its assigned parent (or
  -1) and its best IoA.

Spark shape: one NARROW mapInArrow stage over (conv_id, turn_idx, blocks) —
spans never cross a turn, so no shuffle; flat output columns (no
nested-struct conversion penalty). The Python↔JVM boundary is once per Arrow
batch; per-turn work is a handful of numpy ops over ≤ ~24 intervals.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from deepdoctection_spark.kernels.match import interval_ioa, match_children, nms_spans
from deepdoctection_spark.kernels.noisy import (
    MATCH_IOA_THRESHOLD,
    NMS_IOU_THRESHOLD,
    TURN_PROBE,
    candidate_proposals,
    probe_children,
)
from deepdoctection_spark.operators.quarantine import row_guard

_CAND_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("block_no", pa.int32()),
        ("cand_id", pa.int32()),
        ("cand_begin", pa.int32()),
        ("cand_end", pa.int32()),
        ("score", pa.float64()),
        ("kept", pa.bool_()),
    ]
)

_ASSIGN_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("block_no", pa.int32()),
        ("child_id", pa.int32()),
        ("child_begin", pa.int32()),
        ("child_end", pa.int32()),
        ("parent_block_no", pa.int32()),
        ("parent_cand_id", pa.int32()),
        ("best_ioa", pa.float64()),
    ]
)


def _round4(x: float) -> float:
    """floor(x*1e4 + 0.5)/1e4 — bit-deterministic vs the DuckDB oracle
    (same policy as operators/textstats._round4)."""
    return math.floor(x * 10000 + 0.5) / 10000


def _turn_candidates(blocks: list[dict]) -> list[tuple[int, int, int, int, float]]:
    """All proposals of a turn: (block_no, cand_id, begin, end, score),
    ordered by (block_no, cand_id) — the deterministic parent order."""
    out = []
    for blk in blocks:
        bno = blk["reading_order"]
        for cid, cb, ce, score in candidate_proposals(
            blk["span_begin"], blk["span_end"]
        ):
            out.append((bno, cid, cb, ce, score))
    return out


def _select_turn_cols(extracted: DataFrame) -> DataFrame:
    return extracted.select("conv_id", "turn_idx", "blocks")


def noisy_candidates(extracted: DataFrame) -> DataFrame:
    """Per proposal: kept/suppressed verdict from the real greedy-NMS kernel."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            conv = rb.column(0).to_pylist()
            tix = rb.column(1).to_pylist()
            blks = rb.column(2).to_pylist()
            cols: list[list] = [[] for _ in range(8)]
            for i in range(rb.num_rows):
                with row_guard(cols, (conv[i], tix[i])):
                    cands = _turn_candidates(blks[i])
                    if not cands:
                        continue
                    spans = np.array([[c[2], c[3]] for c in cands], dtype=np.float64)
                    scores = np.array([c[4] for c in cands], dtype=np.float64)
                    keep = set(nms_spans(spans, scores, NMS_IOU_THRESHOLD))
                    for j, (bno, cid, cb, ce, score) in enumerate(cands):
                        cols[0].append(conv[i])
                        cols[1].append(tix[i])
                        cols[2].append(bno)
                        cols[3].append(cid)
                        cols[4].append(cb)
                        cols[5].append(ce)
                        cols[6].append(score)
                        cols[7].append(j in keep)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t.type) for c, t in zip(cols, _CAND_SCHEMA)],
                schema=_CAND_SCHEMA,
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("block_no", T.IntegerType()),
            T.StructField("cand_id", T.IntegerType()),
            T.StructField("cand_begin", T.IntegerType()),
            T.StructField("cand_end", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )
    return _select_turn_cols(extracted).mapInArrow(fn, schema=schema)


def noisy_assignments(extracted: DataFrame) -> DataFrame:
    """Per probe child: argmax-IoA parent among NMS survivors (threshold 0.5,
    max-parent-only) or (-1, -1); best_ioa is the max over all survivors."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            conv = rb.column(0).to_pylist()
            tix = rb.column(1).to_pylist()
            blks = rb.column(2).to_pylist()
            cols: list[list] = [[] for _ in range(9)]
            for i in range(rb.num_rows):
                with row_guard(cols, (conv[i], tix[i])):
                    cands = _turn_candidates(blks[i])
                    if not cands:
                        continue
                    spans = np.array([[c[2], c[3]] for c in cands], dtype=np.float64)
                    scores = np.array([c[4] for c in cands], dtype=np.float64)
                    keep = nms_spans(spans, scores, NMS_IOU_THRESHOLD)
                    survivors = [cands[j] for j in sorted(keep)]  # (bno,cid) order
                    parents = np.array(
                        [[s[2], s[3]] for s in survivors], dtype=np.float64
                    )
                    children: list[tuple[int, int, int, int]] = []
                    for blk in blks[i]:
                        for cid, cb, ce in probe_children(
                            blk["span_begin"], blk["span_end"]
                        ):
                            children.append((blk["reading_order"], cid, cb, ce))
                    children.append((-1, 0, *TURN_PROBE))
                    carr = np.array([[c[2], c[3]] for c in children], dtype=np.float64)
                    assigned = dict(
                        (ci, pi)
                        for pi, ci in match_children(
                            parents, carr, MATCH_IOA_THRESHOLD, max_parent_only=True
                        )
                    )
                    m = interval_ioa(parents, carr)
                    best = m.max(axis=0) if len(parents) else np.zeros(len(children))
                    for ci, (bno, cid, cb, ce) in enumerate(children):
                        pi = assigned.get(ci)
                        cols[0].append(conv[i])
                        cols[1].append(tix[i])
                        cols[2].append(bno)
                        cols[3].append(cid)
                        cols[4].append(cb)
                        cols[5].append(ce)
                        cols[6].append(survivors[pi][0] if pi is not None else -1)
                        cols[7].append(survivors[pi][1] if pi is not None else -1)
                        cols[8].append(_round4(float(best[ci])))
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t.type) for c, t in zip(cols, _ASSIGN_SCHEMA)],
                schema=_ASSIGN_SCHEMA,
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("block_no", T.IntegerType()),
            T.StructField("child_id", T.IntegerType()),
            T.StructField("child_begin", T.IntegerType()),
            T.StructField("child_end", T.IntegerType()),
            T.StructField("parent_block_no", T.IntegerType()),
            T.StructField("parent_cand_id", T.IntegerType()),
            T.StructField("best_ioa", T.DoubleType()),
        ]
    )
    return _select_turn_cols(extracted).mapInArrow(fn, schema=schema)
