"""Refinement operator: noisy segmenter-style cell proposals → merged cells.

The extraction pipeline's tables carry DOM-declared spans; a detector-driven
segmenter instead proposes cells whose spans are guesses that overlap. This
operator synthesizes that situation deterministically (the variant selector
plays the role of detector noise) and runs the REAL refinement kernel
(kernels/refine.py — connected components + rectangle fixpoint, the
TableSegmentationRefinementService semantics of
/root/reference/deepdoctection/pipe/refine.py:44-296) per turn inside one
narrow Arrow stage.

Variants (variant = turn_idx % 3, SQL-reproducible):
  0  clean proposals (all 1×1)            → no merge, 4 refined cells
  1  cell (1,1) claims row_span=2         → shares tile (2,1) with the cell
     below → vertical merge, 3 refined cells
  2  additionally cell (2,1) claims
     column_span=2                        → L-shaped component; the rectangle
     fixpoint pulls in (1,2) → ALL cells merge into one 2×2 spanning cell
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepdoctection_spark.kernels.refine import (
    ProposedCell,
    cells_to_csv,
    refine_cells,
    refined_cells_to_html,
)
from deepdoctection_spark.operators.quarantine import row_guard

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("variant", pa.int32()),
        ("n_cells", pa.int32()),
        ("refined_html", pa.string()),
    ]
)


def _proposals(cells: list[dict], variant: int) -> list[ProposedCell]:
    out = []
    for c in cells:
        r, col = c["row_number"], c["column_number"]
        rs = cs = 1
        if variant >= 1 and (r, col) == (1, 1):
            rs = 2
        if variant == 2 and (r, col) == (2, 1):
            cs = 2
        out.append(ProposedCell(c["span_id"], r, col, rs, cs, c["cell_text"]))
    return out


def refined_tables(extracted: DataFrame) -> DataFrame:
    """Per table-bearing turn: refined cell count + merged-cell HTML."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            conv = rb.column(0).to_pylist()
            tix = rb.column(1).to_pylist()
            cells = rb.column(2).to_pylist()
            cols: list[list] = [[] for _ in range(5)]
            for i in range(rb.num_rows):
                with row_guard(cols, (conv[i], tix[i])):
                    if not cells[i]:
                        continue
                    variant = int(tix[i]) % 3
                    refined = refine_cells(_proposals(cells[i], variant))
                    n_rows = max(c.row_number + c.row_span - 1 for c in refined)
                    cols[0].append(conv[i])
                    cols[1].append(tix[i])
                    cols[2].append(variant)
                    cols[3].append(len(refined))
                    cols[4].append(refined_cells_to_html(refined, n_rows))
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t.type) for c, t in zip(cols, _SCHEMA)],
                schema=_SCHEMA,
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("variant", T.IntegerType()),
            T.StructField("n_cells", T.IntegerType()),
            T.StructField("refined_html", T.StringType()),
        ]
    )
    return (
        extracted.where(F.size("cells") > 0)
        .select("conv_id", "turn_idx", "cells")
        .mapInArrow(fn, schema=schema)
    )


_CSV_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("variant", pa.int32()),
        ("row_number", pa.int32()),
        ("csv_row", pa.string()),
    ]
)


def refined_csv_rows(extracted: DataFrame) -> DataFrame:
    """Table.csv export (view.py:332-344) over the refined cells: one output
    row per table row, tab-joined tiles, spanned tiles blank."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            conv = rb.column(0).to_pylist()
            tix = rb.column(1).to_pylist()
            cells = rb.column(2).to_pylist()
            cols: list[list] = [[] for _ in range(5)]
            for i in range(rb.num_rows):
                with row_guard(cols, (conv[i], tix[i])):
                    if not cells[i]:
                        continue
                    variant = int(tix[i]) % 3
                    refined = refine_cells(_proposals(cells[i], variant))
                    n_rows = max(c.row_number + c.row_span - 1 for c in refined)
                    n_cols = max(c.column_number + c.column_span - 1 for c in refined)
                    for r, row in enumerate(cells_to_csv(refined, n_rows, n_cols), 1):
                        cols[0].append(conv[i])
                        cols[1].append(tix[i])
                        cols[2].append(variant)
                        cols[3].append(r)
                        cols[4].append(row)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t.type) for c, t in zip(cols, _CSV_SCHEMA)],
                schema=_CSV_SCHEMA,
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("variant", T.IntegerType()),
            T.StructField("row_number", T.IntegerType()),
            T.StructField("csv_row", T.StringType()),
        ]
    )
    return (
        extracted.where(F.size("cells") > 0)
        .select("conv_id", "turn_idx", "cells")
        .mapInArrow(fn, schema=schema)
    )
