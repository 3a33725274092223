"""PDF-like layout parse: positioned lines → columns → reading order.

The transcript analogue of the reference's reading-order engine
(/root/reference/deepdoctection/pipe/order.py):
- group positioned text lines into columns by x-coordinate clustering
  (reference: column building + consolidation, order.py:173-309),
- order columns left→right, lines within a column top→down
  (reference: final (column, y, x) sort, order.py:280-290),
- classify the unique topmost line as the title block (reference: layout
  category assignment via ImageLayoutService, pipe/layout.py:37-121).

Payload wire format ("pdf_reader" turns): one line per positioned text run,
``@x,y:content``, in y-down reader coordinates. Synthetic transcripts carry
it directly; kernels/pdf.pdf_positioned_pages produces it from real PDF
bytes (the ``pdf_layout_spans`` query runs that path end to end).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from operator import itemgetter

from deepdoctection_spark.kernels.table import Block
from deepdoctection_spark.kernels.textnorm import normalize_ws

_LINE_RE = re.compile(r"^@(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?):(.*)$")


@dataclass(slots=True)
class PositionedLine:
    x: float
    y: float
    content: str


def looks_like_layout(payload: str) -> bool:
    return payload.startswith("@") and _LINE_RE.match(payload.split("\n", 1)[0]) is not None


def cluster_columns(lines: list[PositionedLine], column_gap: float) -> list[list[PositionedLine]]:
    """Bucket lines into columns: sorted distinct x starts a new column when
    the gap from the previous x exceeds ``column_gap`` (order.py:173-290
    column-building semantics on 1-D x instead of box intervals)."""
    if not lines:
        return []
    xs = sorted({ln.x for ln in lines})
    col_of_x: dict[float, int] = {}
    col = 0
    prev = xs[0]
    for x in xs:
        if x - prev > column_gap:
            col += 1
        col_of_x[x] = col
        prev = x
    ncols = col + 1
    buckets: list[list[PositionedLine]] = [[] for _ in range(ncols)]
    for ln in lines:
        buckets[col_of_x[ln.x]].append(ln)
    for b in buckets:
        b.sort(key=lambda ln: (ln.y, ln.x))
    return buckets


_LINE_SCAN = re.compile(_LINE_RE.pattern, re.M)
_YX = itemgetter(0, 1)


def extract_layout_blocks(
    payload: str,
    column_gap: float = 100.0,
    paragraph_break: float | None = None,
) -> list[Block]:
    """title block (unique topmost line) + one text block per column, in
    reading order (title, then columns left→right, sub-lines top→down).
    paragraph_break defaults to column_gap (a within-line gap wide enough to
    start a column also starts a sub-line).

    Fused hot path (the PDF-ish third of every extraction batch): one
    multiline finditer parses all positioned runs as (y, x, content) tuples,
    one stable (y, x) sort replaces a per-line dict and sort, and the
    gap-split + merge walk allocates PositionedLine objects only for EMITTED
    sub-lines (a handful per document) instead of every run. Output is
    block-for-block identical to the unfused parse → sub-line → column
    composition in tests/layout_oracle.py (tests/test_property.py pins it)."""
    runs = [
        (float(m.group(2)), float(m.group(1)), m.group(3))
        for m in _LINE_SCAN.finditer(payload)
    ]
    if not runs:
        return []
    blocks: list[Block] = []
    min_y = min(r[0] for r in runs)
    brk = column_gap if paragraph_break is None else paragraph_break
    tops = [r for r in runs if r[0] == min_y]
    if len(tops) == 1:
        tnorm = normalize_ws(tops[0][2])
        if tnorm:
            blocks.append(Block("title", tnorm))
            # unique min-y run: any equal tuple would also be a top, so
            # remove-by-equality is remove-by-identity here
            runs.remove(tops[0])
    srt = sorted(runs, key=_YX)  # same row order as by-y grouping + x sort
    sub: list[PositionedLine] = []
    i, n_ = 0, len(srt)
    while i < n_:
        first = srt[i]
        y = first[0]
        texts = []
        t = normalize_ws(first[2])
        if t:
            texts.append(t)
        prev_x = first[1]
        i += 1
        while i < n_ and srt[i][0] == y:
            r = srt[i]
            if r[1] - prev_x >= brk:  # start-to-start gap: new sub-line
                sub.append(PositionedLine(first[1], y, " ".join(texts)))
                first = r
                texts = []
            t = normalize_ws(r[2])
            if t:
                texts.append(t)
            prev_x = r[1]
            i += 1
        sub.append(PositionedLine(first[1], y, " ".join(texts)))
    for bucket in cluster_columns(sub, column_gap):
        text = "\n".join(ln.content for ln in bucket if ln.content)
        if text:
            blocks.append(Block("text", text))
    return blocks
