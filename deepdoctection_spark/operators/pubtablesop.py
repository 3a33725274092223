"""Pubtables segmentation operator: stripe geometry → intersection-cell grid.

Synthesizes deterministic detector-style stripe geometry per turn (the
table-transformer stand-in: row/column stripes + spanning-cell boxes with
PARTIAL overlaps, so the weighted-IoA matching rule is exercised for real)
and runs the full segmentation kernel (kernels/pubtables.py) in one narrow
Arrow stage.

Geometry per turn (t = turn_idx):
  rows:    R = 2 + t % 2 stripes of height 20, full width 90 — fed in
           REVERSED order (center-sort must restore numbering)
  columns: 3 stripes of width 30, full height — also reversed
  spanning (v = t % 3):
    v0  box (200, 200, 210, 210): intersects NO stripe → dropped and counted
        in n_unmatched (the quarantine path, oracle-checked)
    v1  box (2, 3, 28, 37): covers rows 1-2 at IoA 0.5 each (weighted ×2 =
        1.0 > thr) and column 1 fully → placed (1,1) rowspan 2
    v2  box (33, 2, 87, 18): covers row 1 fully, columns 2-3 at IoA 0.5
        each (weighted ×2) → placed (1,2) colspan 2
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from deepdoctection_spark.kernels.pubtables import Box, segment_pubtables_grid
from deepdoctection_spark.operators.quarantine import row_guard

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("n_rows", pa.int32()),
        ("n_cols", pa.int32()),
        ("n_cells", pa.int32()),
        ("max_row_span", pa.int32()),
        ("max_col_span", pa.int32()),
        ("table_html", pa.string()),
        ("n_unmatched", pa.int32()),
    ]
)


def stripe_geometry(turn_idx: int) -> tuple[list[Box], list[Box], list[Box]]:
    """(row_stripes, col_stripes, spanning_boxes) for a turn — reversed
    stripe order on purpose."""
    n_rows = 2 + turn_idx % 2
    height = 20.0 * n_rows
    rows = [(0.0, 20.0 * i, 90.0, 20.0 * (i + 1)) for i in range(n_rows)]
    cols = [(30.0 * j, 0.0, 30.0 * (j + 1), height) for j in range(3)]
    variant = turn_idx % 3
    if variant == 1:
        spanning: list[Box] = [(2.0, 3.0, 28.0, 37.0)]
    elif variant == 2:
        spanning = [(33.0, 2.0, 87.0, 18.0)]
    else:
        # intersects no stripe: must be dropped + counted, never placed at
        # the (0, *) sentinel position
        spanning = [(200.0, 200.0, 210.0, 210.0)]
    return rows[::-1], cols[::-1], spanning


def pubtables_grids(transcripts: DataFrame) -> DataFrame:
    """One segmented grid per turn (flat columns, narrow stage)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            conv = rb.column(0).to_pylist()
            tix = rb.column(1).to_pylist()
            cols: list[list] = [[] for _ in range(9)]
            for i in range(rb.num_rows):
                with row_guard(cols, (conv[i], tix[i])):
                    t = int(tix[i])
                    rows_s, cols_s, span_s = stripe_geometry(t)
                    res = segment_pubtables_grid(rows_s, cols_s, span_s)
                    cols[0].append(conv[i])
                    cols[1].append(t)
                    cols[2].append(res.n_rows)
                    cols[3].append(res.n_cols)
                    cols[4].append(len(res.cells))
                    cols[5].append(res.max_row_span)
                    cols[6].append(res.max_col_span)
                    cols[7].append(res.html)
                    cols[8].append(res.n_unmatched)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t.type) for c, t in zip(cols, _SCHEMA)],
                schema=_SCHEMA,
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("n_rows", T.IntegerType()),
            T.StructField("n_cols", T.IntegerType()),
            T.StructField("n_cells", T.IntegerType()),
            T.StructField("max_row_span", T.IntegerType()),
            T.StructField("max_col_span", T.IntegerType()),
            T.StructField("table_html", T.StringType()),
            T.StructField("n_unmatched", T.IntegerType()),
        ]
    )
    return transcripts.select("conv_id", "turn_idx").mapInArrow(fn, schema=schema)
