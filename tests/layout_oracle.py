"""Unfused reference for the layout extractor.

``extract_layout_blocks`` composes the straightforward reading of the
layout rules: parse every positioned run (``parse_positioned_lines``), take
the unique topmost run as the title, merge each line's runs into sub-lines
at wide gaps (``make_sub_lines``), then bucket the sub-lines into columns.
tests/test_property.py holds the production
``kernels.layout.extract_layout_blocks``, which fuses these passes into one
scan and one sort, block-for-block identical to it.
"""

from __future__ import annotations

from deepdoctection_spark.kernels.layout import _LINE_RE, PositionedLine, cluster_columns
from deepdoctection_spark.kernels.table import Block
from deepdoctection_spark.kernels.textnorm import normalize_ws


def parse_positioned_lines(payload: str) -> list[PositionedLine]:
    out = []
    for raw in payload.split("\n"):
        m = _LINE_RE.match(raw)
        if m:
            out.append(
                PositionedLine(float(m.group(1)), float(m.group(2)), m.group(3))
            )
    return out


def make_sub_lines(
    runs: list[PositionedLine],
    paragraph_break: float,
    char_width: float = 0.0,
) -> list[PositionedLine]:
    """Split each LINE (same-y runs, x-sorted) into sub-lines at horizontal
    gaps ≥ paragraph_break — the reference's TextLineGenerator sub-line pass
    (deepdoctection/pipe/order.py:345-563 in the reference: consecutive words
    stay in one sub-line while current.ulx - prev.lrx < paragraph_break).
    Runs within a sub-line merge into one positioned line (x = first run's x,
    texts space-joined) so multi-column structure is detected per LINE, not
    per whole-payload x histogram.

    ``char_width`` models a run's rendered width (prev.lrx = prev.x +
    char_width·len(prev)); the text wire format carries only start positions,
    so the default 0.0 measures start-to-start distance — the strongest
    signal available without font metrics."""
    by_y: dict[float, list[PositionedLine]] = {}
    for r in runs:
        by_y.setdefault(r.y, []).append(r)
    out: list[PositionedLine] = []
    for y in sorted(by_y):
        row = sorted(by_y[y], key=lambda r: r.x)
        cur: list[PositionedLine] = [row[0]]
        for prev, nxt in zip(row, row[1:]):
            prev_end = prev.x + char_width * len(normalize_ws(prev.content))
            if nxt.x - prev_end < paragraph_break:
                cur.append(nxt)
            else:
                out.append(_merge_sub_line(cur))
                cur = [nxt]
        out.append(_merge_sub_line(cur))
    return out


def _merge_sub_line(runs: list[PositionedLine]) -> PositionedLine:
    texts = [t for t in (normalize_ws(r.content) for r in runs) if t]
    return PositionedLine(runs[0].x, runs[0].y, " ".join(texts))


def extract_layout_blocks(
    payload: str,
    column_gap: float = 100.0,
    paragraph_break: float | None = None,
) -> list[Block]:
    lines = parse_positioned_lines(payload)
    if not lines:
        return []
    blocks: list[Block] = []
    min_y = min(ln.y for ln in lines)
    top = [ln for ln in lines if ln.y == min_y]
    rest = lines
    if len(top) == 1 and normalize_ws(top[0].content):
        blocks.append(Block("title", normalize_ws(top[0].content)))
        rest = [ln for ln in lines if ln is not top[0]]
    sub = make_sub_lines(rest, column_gap if paragraph_break is None else paragraph_break)
    for bucket in cluster_columns(sub, column_gap):
        text = "\n".join(ln.content for ln in bucket if ln.content)
        if text:
            blocks.append(Block("text", text))
    return blocks
