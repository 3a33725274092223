"""Frozen hostile-table corpus through the production path.

Each payload runs through ``extract_turn`` + ``finalize_turn`` (the per-row
core of the Arrow stage) and its blocks, cell rows and ``table_html`` are
pinned literally: a change to the table kernel that moves one cell, one span
or one byte of cell text fails here by name, not just as a stream-vs-tree
disagreement.
"""

from __future__ import annotations

import time

import pytest

from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn
from deepdoctection_spark.kernels.html import extract_blocks_stream

# name -> (payload, blocks, cells, table_html); blocks are (category, text),
# cells are (row, col, row_span, col_span, span_begin, span_end, cell_text)
CORPUS = {
    "span_spellings": (
        '<table><tr><td ROWSPAN="2">a</td><td colspan=&#50;>b</td></tr>'
        "<tr><td rowspan=0>c</td><td colspan=-3>d</td>"
        '<td rowspan=abc colspan="">e</td></tr></table>',
        [("table", "a b\nc d e")],
        [(1, 1, 2, 1, 0, 1, "a"), (1, 2, 1, 2, 2, 3, "b"), (2, 2, 1, 1, 4, 5, "c"),
         (2, 3, 1, 1, 6, 7, "d"), (2, 4, 1, 1, 8, 9, "e")],
        "<table><tr><td rowspan=2>a</td><td colspan=2>b</td></tr>"
        "<tr><td>c</td><td>d</td><td>e</td></tr></table>",
    ),
    "span_overflow": (
        "<table><tr><td rowspan=2000000000 colspan=2000000000>x</td><td>y</td></tr>"
        "<tr><td>z</td></tr></table>",
        [("table", "x y\nz")],
        [(1, 1, 256, 256, 0, 1, "x"), (1, 257, 1, 1, 2, 3, "y"),
         (2, 257, 1, 1, 4, 5, "z")],
        "<table><tr><td rowspan=256 colspan=256>x</td><td>y</td></tr>"
        "<tr><td>z</td></tr></table>",
    ),
    "sections_and_caption": (
        "<table><caption>Cap</caption><thead><tr><th>H1</th><th>H2</th></tr></thead>"
        "<tbody><tr><td>1</td><td>2</td></tr></tbody>"
        "<tfoot><tbody><tr><td>f</td></tr></tbody></tfoot></table>",
        [("table", "H1 H2\n1 2\nf")],
        [(1, 1, 1, 1, 0, 2, "H1"), (1, 2, 1, 1, 3, 5, "H2"), (2, 1, 1, 1, 6, 7, "1"),
         (2, 2, 1, 1, 8, 9, "2"), (3, 1, 1, 1, 10, 11, "f")],
        "<table><tr><td>H1</td><td>H2</td></tr><tr><td>1</td><td>2</td></tr>"
        "<tr><td>f</td></tr></table>",
    ),
    "not_rows": (
        "<table><div><tr><td>hidden</td></tr></div><tr>loose<td>kept</td></tr></table>",
        [("table", "kept")],
        [(1, 1, 1, 1, 0, 4, "kept")],
        "<table><tr><td>kept</td></tr></table>",
    ),
    "unclosed": (
        "<table><tr><td>a<td>b</tr><tr><td>c</table><p>after</p>",
        [("table", "ab\nc"), ("text", "after")],
        [(1, 1, 1, 1, 0, 2, "ab"), (2, 1, 1, 1, 3, 4, "c")],
        "<table><tr><td>ab</td></tr><tr><td>c</td></tr></table>",
    ),
    "nested_br_entities": (
        "<table><tr><td>x<br>y &amp; z</td>"
        "<td><table><tr><td>inner</td></tr></table>&nbsp;</td></tr></table>",
        [("table", "x y & z inner \xa0")],
        [(1, 1, 1, 1, 0, 7, "x y & z"), (1, 2, 1, 1, 8, 15, "inner \xa0")],
        "<table><tr><td>x y & z</td><td>inner \xa0</td></tr></table>",
    ),
    "link_farm": (
        "<table><tr><td><a href=/a>nav one</a></td><td><a href=/b>nav two</a></td></tr>"
        "</table><p>body text</p>",
        [("text", "body text")],
        [],
        None,
    ),
    # a cell whose only child is one text node is stripped of all Unicode
    # whitespace (&nbsp; included); any other cell keeps edge \xa0
    "blank_cells": (
        "<table><tr><td> </td><td>&nbsp;</td></tr>"
        "<tr><td>&nbsp;v&nbsp;</td><td>&nbsp;w<b></b></td></tr></table>",
        [("table", "\nv \xa0w")],
        [(2, 1, 1, 1, 1, 2, "v"), (2, 2, 1, 1, 3, 5, "\xa0w")],
        "<table><tr><td></td><td></td></tr><tr><td>v</td><td>\xa0w</td></tr></table>",
    ),
}


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_hostile_table_corpus(name):
    payload, blocks, cells, table_html = CORPUS[name]
    fin = finalize_turn("c", 0, extract_turn(payload, "browser"))
    et = fin.extracted_text
    assert [(b["category"], et[b["span_begin"]:b["span_end"]]) for b in fin.blocks] == blocks
    assert [
        (c["row_number"], c["column_number"], c["row_span"], c["column_span"],
         c["span_begin"], c["span_end"], c["cell_text"])
        for c in fin.cells
    ] == cells
    assert fin.table_html == table_html


def test_table_depth_bomb_bounded_and_matches_tree():
    """5,000 nested <table><tr><td>: the depth cap bounds the scan, and the
    one reached table's single cell holds everything the capped subtree
    kept."""
    from tests.html_oracle import extract_blocks

    n = 5000
    doc = "<table><tr><td>" * n + "deep" + "</td></tr></table>" * n
    t0 = time.monotonic()
    blocks = extract_blocks_stream(doc)
    assert time.monotonic() - t0 < 5.0
    key = [(b.category, b.text,
            [(c.row_number, c.column_number, c.row_span, c.column_span, c.text)
             for c in b.cells]) for b in blocks]
    assert key == [("table", "deep", [(1, 1, 1, 1, "deep")])]
    assert key == [(b.category, b.text,
                    [(c.row_number, c.column_number, c.row_span, c.column_span, c.text)
                     for c in b.cells]) for b in extract_blocks(doc)]
