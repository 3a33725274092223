"""Table cells: the cell record, span parsing, and HTML synthesis.

Reference semantics re-expressed on DOM tables:
- cell → (row_number, column_number, row_span, column_span), 1-based, via
  occupancy-grid placement inside the HTML scan
  (kernels/html.extract_blocks_stream) — the reference derives the same
  quadruple from box-center sorting + interval matching
  (/root/reference/deepdoctection/pipe/segment.py:399-486, 641-799).
- HTML synthesis mirrors generate_html_string
  (/root/reference/deepdoctection/pipe/refine.py:297-346): golden tests pin
  strings shaped like ``<table><tr><td rowspan=2>...`` (see
  /root/reference/tests/analyzer/test_dd.py:100-107) — span attributes are
  unquoted and emitted only when > 1, rowspan before colspan.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass


@dataclass
class TableCell:
    text: str
    row_number: int  # 1-based
    column_number: int  # 1-based
    row_span: int = 1
    column_span: int = 1


@dataclass(slots=True)
class Block:
    """One content block in reading order: what every payload decoder (HTML,
    layout, plain text) emits and ``kernels/extract.finalize_turn`` reads.
    Only table blocks carry cells."""

    category: str  # title | text | list | table
    text: str
    cells: Sequence[TableCell] = ()


# Span cap — browsers clamp similarly (HTML spec caps rowspan at 65534;
# we cap far lower). Without it, <td rowspan=2000000000> makes the occupancy
# fill O(rs*cs): a single poison row would hang/OOM an executor, the one
# failure mode the per-row quarantine cannot catch (same rationale as
# html.MAX_DEPTH). 256 bounds per-cell work at 64k grid inserts.
MAX_SPAN = 256


def _int_attr(attrs: dict, name: str, default: int = 1) -> int:
    v = attrs.get(name)
    if v is None:  # the common case: span-less cell — skip str/int churn
        return default
    try:
        v = int(str(v).strip() or default)
        return min(max(v, 1), MAX_SPAN)
    except (TypeError, ValueError):
        return default


def cells_to_html(cells: list[TableCell]) -> str:
    """Deterministic HTML string from segmented cells (refine.py:297-346
    semantics; golden string format per tests/analyzer/test_dd.py:100-107).

    Precondition: cells arrive row-major / column-ascending —
    :func:`kernels.html.extract_blocks_stream` (the only producer) places
    them in that order, so one consecutive-grouping walk replaces the dict
    build + two sorts."""
    parts = ["<table>"]
    cur_row = None
    for c in cells:
        if c.row_number != cur_row:
            if cur_row is not None:
                parts.append("</tr>")
            parts.append("<tr>")
            cur_row = c.row_number
        rs, cs = c.row_span, c.column_span
        if rs > 1 or cs > 1:
            attrs = (f" rowspan={rs}" if rs > 1 else "") + (
                f" colspan={cs}" if cs > 1 else ""
            )
            parts.append(f"<td{attrs}>{c.text}</td>")
        else:
            parts.append(f"<td>{c.text}</td>")
    if cur_row is not None:
        parts.append("</tr>")
    parts.append("</table>")
    return "".join(parts)
