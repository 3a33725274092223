"""Per-turn extraction dispatch + span finalization (offsets, ids, order).

The per-row core of the engine — the analogue of the reference's full
analyzer chain (layout → segmentation → text → matching → ordering → page
parsing, /root/reference/deepdoctection/analyzer/dd.py:256-401) collapsed into
one pure function over a (text, tool) payload:

    extract_turn(text, tool) -> [Block]
    finalize_turn(conv_id, turn_idx, blocks) -> TurnExtraction

Payload dispatch mirrors the reference's source-sensitive _entry
(/root/reference/deepdoctection/pipe/doctectionpipe.py:142-163): the ``tool``
column selects the decoder (browser → HTML DOM walk; pdf_reader → positioned
layout parse; anything else → plain-text normalize), with a content sniff as
fallback.

Output contract (pinned once — SURVEY.md §7 hard-part #1):
- block texts join with a single "\n" to form extracted_text
  (reference: Page._make_text, view.py:665-671);
- span offsets are [begin, end) char offsets into extracted_text;
- reading_order enumerates blocks 0.. in emit order
  (reference: TextOrderService, pipe/order.py:566-772);
- span ids are content-addressed md5 (kernels/ids.py);
- block and cell rows are dicts in the Arrow layout declared below
  (``SCHEMA``), the only declaration of the stage's output: the Arrow stage
  (operators/extraction.py) assigns the rows as they are and derives its
  Spark schema from ``SCHEMA``.
"""

from __future__ import annotations

from dataclasses import dataclass
from hashlib import md5 as _md5

import pyarrow as pa

from deepdoctection_spark.kernels.html import extract_blocks_stream, looks_like_html
from deepdoctection_spark.kernels.layout import extract_layout_blocks, looks_like_layout
from deepdoctection_spark.kernels.table import Block, cells_to_html
from deepdoctection_spark.kernels.textnorm import normalize_ws, word_spans

SPAN = pa.struct(
    [
        ("span_id", pa.string()),
        ("category", pa.string()),
        ("span_begin", pa.int32()),
        ("span_end", pa.int32()),
        ("reading_order", pa.int32()),
        ("parent_id", pa.string()),
        ("score", pa.float32()),
    ]
)
CELL = pa.struct(
    [
        ("span_id", pa.string()),
        ("span_begin", pa.int32()),
        ("span_end", pa.int32()),
        ("row_number", pa.int32()),
        ("column_number", pa.int32()),
        ("row_span", pa.int32()),
        ("column_span", pa.int32()),
        ("parent_id", pa.string()),
        ("cell_text", pa.string()),
    ]
)
WORD = pa.struct(
    [
        ("token", pa.string()),
        ("span_begin", pa.int32()),
        ("span_end", pa.int32()),
        ("word_idx", pa.int32()),
    ]
)
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("tool", pa.string()),
        ("extracted_text", pa.string()),
        ("n_blocks", pa.int32()),
        ("blocks", pa.list_(SPAN)),
        ("cells", pa.list_(CELL)),
        ("words", pa.list_(WORD)),
        ("table_html", pa.string()),
        ("error", pa.string()),
    ]
)


# Word-level spans travel as plain (idx, token, begin, end) tuples — the
# single hottest per-row object (≈60 words/turn): no per-word class
# construction, no per-word id hashing. Word span_ids are NOT materialized in
# the hot path at all; a consumer that needs the deterministic id derives it
# JVM-side from the same key, md5(concat_ws('|', conv_id, turn_idx, 'word',
# span_begin, span_end)), a vectorized column expression over the flat
# exploded rows.
WordTuple = tuple[int, str, int, int]


@dataclass(slots=True)
class TurnExtraction:
    extracted_text: str
    blocks: list[dict]  # SPAN rows
    cells: list[dict]  # CELL rows
    words: list[WordTuple]
    table_html: str | None  # every table's HTML in block order, "\n"-joined


def extract_turn(
    text: str,
    tool: str,
    link_density_threshold: float = 0.5,
    column_gap: float = 100.0,
    tag_density_threshold: float = 8.0,
) -> list[Block]:
    """Dispatch by payload kind and return ordered content blocks."""
    if text is None:
        return []
    if tool == "browser" or (tool not in ("pdf_reader",) and looks_like_html(text)):
        # the single-pass streaming extractor (no element tree); block-
        # identical to the tree reference in tests/html_oracle.py
        return extract_blocks_stream(text, link_density_threshold, tag_density_threshold)
    if tool == "pdf_reader" or looks_like_layout(text):
        return extract_layout_blocks(text, column_gap)
    norm = normalize_ws(text)
    return [Block("text", norm)] if norm else []


def finalize_turn(
    conv_id: str, turn_idx: int, blocks: list[Block], with_words: bool = True
) -> TurnExtraction:
    """Assemble extracted_text and all span levels with deterministic ids.

    ``with_words=False`` skips per-row word tokenization: the Arrow stage
    (operators/extraction.py) tokenizes the whole batch in one vectorized
    pass instead — per-row word_spans was the hottest single kernel
    (~1/3 of stage CPU at sf0.1)."""
    extracted = "\n".join([b.text for b in blocks])
    spans: list[dict] = []
    cell_rows: list[dict] = []
    table_htmls: list[str] = []
    offset = 0
    # span_id contract inlined (kernels/ids.py): the "{conv}|{turn}|" prefix
    # is constant per turn — format it once, not once per span
    pre = f"{conv_id}|{turn_idx}|"
    for order, b in enumerate(blocks):
        begin, end = offset, offset + len(b.text)
        sid = _md5(f"{pre}{b.category}|{begin}|{end}".encode()).hexdigest()
        spans.append(
            {
                "span_id": sid,
                "category": b.category,
                "span_begin": begin,
                "span_end": end,
                "reading_order": order,
                "parent_id": None,
                "score": 1.0,
            }
        )
        if b.cells:
            table_htmls.append(cells_to_html(b.cells))
            # cell offsets: walk the block's own text, which was assembled as
            # rows joined by \n and cells by single spaces (kernels/html.py) —
            # recompute positions by scanning within [begin, end). Cells
            # arrive row-major / column-ascending from extract_blocks_stream
            # (the only producer), so a consecutive walk needs no sorting.
            cursor = begin
            cur_row = None
            first_in_row = True
            for c in b.cells:
                if c.row_number != cur_row:
                    if cur_row is not None:
                        cursor += 1  # the joining \n
                    cur_row = c.row_number
                    first_in_row = True
                if not c.text:
                    continue
                if not first_in_row:
                    cursor += 1  # the joining space
                cb, ce = cursor, cursor + len(c.text)
                cell_rows.append(
                    {
                        "span_id": _md5(f"{pre}cell|{cb}|{ce}".encode()).hexdigest(),
                        "span_begin": cb,
                        "span_end": ce,
                        "row_number": c.row_number,
                        "column_number": c.column_number,
                        "row_span": c.row_span,
                        "column_span": c.column_span,
                        "parent_id": sid,
                        "cell_text": extracted[cb:ce],
                    }
                )
                cursor = ce
                first_in_row = False
        offset = end + 1  # block-joining \n
    return TurnExtraction(
        extracted,
        spans,
        cell_rows,
        word_spans(extracted) if with_words else [],
        "\n".join(table_htmls) if table_htmls else None,
    )
