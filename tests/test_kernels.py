"""Kernel unit tests on hand-built micro-fixtures — mirrors the reference's
fixture-driven component tests (/root/reference/tests/pipe/test_order.py,
test_common.py, test_segment.py, test_refine.py) re-targeted to char spans.
"""

from __future__ import annotations

import numpy as np
import pytest

from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn
from deepdoctection_spark.kernels.html import extract_blocks_stream, parse_html
from deepdoctection_spark.kernels.ids import span_id
from deepdoctection_spark.kernels.layout import extract_layout_blocks
from deepdoctection_spark.kernels.match import (
    interval_ioa,
    match_children,
    nms_spans,
)
from deepdoctection_spark.kernels.table import cells_to_html
from deepdoctection_spark.kernels.textnorm import normalize_ws, word_spans
from tests.html_oracle import extract_blocks, segment_table_grid

# ---------------------------------------------------------------------------
# text contract
# ---------------------------------------------------------------------------


def test_normalize_ws():
    assert normalize_ws("  a\t b\n\nc  ") == "a b c"
    assert normalize_ws("") == ""
    assert normalize_ws(" \n\t ") == ""


def test_word_spans_offsets():
    text = "ab c\nde"
    spans = word_spans(text)
    assert spans == [(0, "ab", 0, 2), (1, "c", 3, 4), (2, "de", 5, 7)]
    for _, tok, b, e in spans:
        assert text[b:e] == tok


def test_span_id_deterministic():
    a = span_id("c", 1, "text", 0, 5)
    assert a == span_id("c", 1, "text", 0, 5)
    assert a != span_id("c", 2, "text", 0, 5)
    assert len(a) == 32


# ---------------------------------------------------------------------------
# boilerplate strip (FIXTURES.md §3 "boilerplate")
# ---------------------------------------------------------------------------

NAV = '<nav><a href="/">Home</a> <a href="/x">About</a></nav>'
FOOTER = '<footer><a href="/p">P</a> <a href="/t">T</a></footer>'


def test_boilerplate_dropped_content_kept():
    html = f"<html><body>{NAV}<h1>Head</h1><p>Body text here</p>{FOOTER}</body></html>"
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [
        ("title", "Head"),
        ("text", "Body text here"),
    ]


def test_boilerplate_only_page_empty():
    blocks = extract_blocks(f"<html><body>{NAV}{FOOTER}</body></html>")
    assert blocks == []


def test_link_density_threshold_boundary():
    # half link text / half plain at exactly 0.5 → kept (strict > drop rule)
    html = "<body><p><a href='/'>aaaa</a> bbbb</p></body>"
    blocks = extract_blocks(html, link_density_threshold=0.5)
    assert len(blocks) == 1
    blocks = extract_blocks(html, link_density_threshold=0.49)
    assert blocks == []


def test_tag_density_drops_markup_heavy_text():
    # breadcrumb row: link density 8/17 = 0.47 (under 0.5) but 3 descendant
    # elements for 17 chars → 5.7 chars/tag < 8 → boilerplate
    html = "<body><div><a href='/'>Home</a> &gt; <a href='/d'>Docs</a> &gt; <span>Page</span></div><p>Real paragraph content here.</p></body>"
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [
        ("text", "Real paragraph content here."),
    ]


def test_tag_density_keeps_inline_markup_paragraph():
    # a real paragraph with inline markup: plenty of chars per tag
    html = "<body><p>Some <b>bold</b> and <i>italic</i> and <a href='/x'>linked</a> words inside one normal sentence.</p></body>"
    blocks = extract_blocks(html)
    assert len(blocks) == 1 and blocks[0].category == "text"


def test_tag_density_min_tags_guard():
    # short text + ONE inline tag never trips the filter (tags < min_tags)
    html = "<body><p><b>Note:</b> ok.</p></body>"
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [("text", "Note: ok.")]


def test_tag_density_exempts_lists_and_tables():
    # list/table blocks legitimately spend one element per item/cell: exempt
    html = (
        "<body><ul><li>a</li><li>b</li><li>c</li><li>d</li></ul>"
        "<table><tr><td>x</td><td>y</td></tr></table></body>"
    )
    blocks = extract_blocks(html)
    assert [b.category for b in blocks] == ["list", "table"]


def test_entities_decoded_after_tokenization():
    # named + hex + decimal references decode; a decoded '<' is DATA
    html = "<body><p>A &amp; B &#x3c;tag&#x3e; &#169; now</p></body>"
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [("text", "A & B <tag> © now")]


def test_bare_ampersand_and_unknown_entity_pass_through():
    html = "<body><p>AT&T and &notareal; stay</p></body>"
    blocks = extract_blocks(html)
    # html.unescape browser semantics: '&notareal;' begins with the known
    # '&not' reference, so it decodes to '¬areal;'; bare '&' survives as-is
    assert blocks[0].text == "AT&T and ¬areal; stay"


def test_entities_decoded_in_attributes():
    root = parse_html('<a href="/x?a=1&amp;b=2">t</a>')
    a = root.children[0]
    assert a.attrs["href"] == "/x?a=1&b=2"


def test_head_script_style_ignored():
    html = (
        "<html><head><title>T</title><style>p{}</style></head>"
        "<body><script>var x='<p>no</p>';</script><p>yes</p></body></html>"
    )
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [("text", "yes")]


def test_deep_nesting_flattens_not_crashes():
    html = "<div>" * 5000 + "<p>deep</p>" + "</div>" * 5000
    blocks = extract_blocks(html)
    assert any(b.text == "deep" for b in blocks)


def test_list_and_bare_div():
    html = "<body><ul><li>a 1</li><li>b 2</li></ul><div>bare text</div></body>"
    blocks = extract_blocks(html)
    assert [(b.category, b.text) for b in blocks] == [
        ("list", "a 1\nb 2"),
        ("text", "bare text"),
    ]


# ---------------------------------------------------------------------------
# table segmentation (FIXTURES.md §3 "table": 3×2 with a rowspan=2 cell)
# ---------------------------------------------------------------------------


def test_table_rowspan_grid_and_html():
    html = (
        "<table>"
        "<tr><td rowspan=2>span</td><td>b</td></tr>"
        "<tr><td>d</td></tr>"
        "<tr><td>e</td><td>f</td></tr>"
        "</table>"
    )
    (block,) = extract_blocks_stream(html)
    for cells in (segment_table_grid(parse_html(html).children[0]), block.cells):
        grid = {(c.row_number, c.column_number): (c.text, c.row_span, c.column_span) for c in cells}
        assert grid == {
            (1, 1): ("span", 2, 1),
            (1, 2): ("b", 1, 1),
            (2, 2): ("d", 1, 1),  # col 1 occupied by the rowspan cell
            (3, 1): ("e", 1, 1),
            (3, 2): ("f", 1, 1),
        }
        assert cells_to_html(cells) == (
            "<table><tr><td rowspan=2>span</td><td>b</td></tr>"
            "<tr><td>d</td></tr><tr><td>e</td><td>f</td></tr></table>"
        )


def test_table_colspan():
    html = "<table><tr><td colspan=2>w</td><td>x</td></tr><tr><td>a</td><td>b</td><td>c</td></tr></table>"
    (block,) = extract_blocks_stream(html)
    for cells in (segment_table_grid(parse_html(html).children[0]), block.cells):
        grid = {(c.row_number, c.column_number): c.text for c in cells}
        assert grid == {(1, 1): "w", (1, 3): "x", (2, 1): "a", (2, 2): "b", (2, 3): "c"}


# ---------------------------------------------------------------------------
# reading order on positioned lines (FIXTURES.md §3 "ordering")
# ---------------------------------------------------------------------------


def test_two_column_reading_order():
    payload = (
        "@72,40:The Title\n"
        "@306,100:right top\n"
        "@72,100:left top\n"
        "@72,150:left bottom\n"
        "@306,150:right bottom"
    )
    blocks = extract_layout_blocks(payload)
    assert [(b.category, b.text) for b in blocks] == [
        ("title", "The Title"),
        ("text", "left top\nleft bottom"),
        ("text", "right top\nright bottom"),
    ]


def test_single_column_no_title_when_tie():
    # two lines share min y → no unique title
    payload = "@72,40:a\n@80,40:b\n@72,90:c"
    blocks = extract_layout_blocks(payload)
    assert [b.category for b in blocks] == ["text"]
    # a+b share y with gap 8 < paragraph_break → ONE sub-line ("a b"),
    # stacked above c (order.py:345-563 sub-line semantics)
    assert blocks[0].text == "a b\nc"


def test_column_gap_parameter():
    # three runs on ONE line: sub-line grouping is gap-driven (the
    # paragraph_break defaults to column_gap), columns from sub-line starts
    payload = "@0,10:l\n@90,10:m\n@250,10:r"
    one = extract_layout_blocks(payload, column_gap=300)
    assert len(one) == 1 and one[0].text == "l m r"
    two = extract_layout_blocks(payload, column_gap=100)
    assert [b.text for b in two] == ["l m", "r"]


# ---------------------------------------------------------------------------
# matching + NMS (FIXTURES.md §3 "matching", incl. just-below-threshold case
# mirroring /root/reference/tests/pipe/test_common.py ioa=0.499)
# ---------------------------------------------------------------------------


def test_interval_ioa_and_threshold():
    parents = np.array([[0, 100], [100, 200]])
    children = np.array([[10, 20], [95, 105], [98, 102], [150, 160]])
    m = interval_ioa(parents, children)
    assert m[0, 0] == 1.0
    assert m[0, 1] == pytest.approx(0.5)
    # just-below-threshold: child [95,105] has ioa 0.5 with each parent;
    # at threshold 0.501 it matches nothing
    pairs = match_children(parents, children, threshold=0.501)
    assert (0, 1) not in pairs and (1, 1) not in pairs
    pairs = match_children(parents, children, threshold=0.5)
    assert (0, 0) in pairs and (1, 3) in pairs


def test_match_max_parent_only_argmax():
    parents = np.array([[0, 10], [5, 30]])
    children = np.array([[6, 10]])  # fully inside both? [6,10) in [0,10) and [5,30)
    pairs = match_children(parents, children, threshold=0.5, max_parent_only=True)
    assert len(pairs) == 1  # argmax picks exactly one parent
    pairs_all = match_children(parents, children, threshold=0.5, max_parent_only=False)
    assert len(pairs_all) == 2


def test_nms_keeps_high_score():
    spans = np.array([[0, 100], [10, 90], [200, 300]])
    scores = np.array([0.9, 0.8, 0.7])
    keep = nms_spans(spans, scores, iou_threshold=0.5)
    assert keep == [0, 2]


def test_nms_deterministic_tiebreak():
    spans = np.array([[0, 10], [0, 10]])
    scores = np.array([0.5, 0.5])
    assert nms_spans(spans, scores) == [0]


# ---------------------------------------------------------------------------
# dispatch + finalize (degenerate cases, FIXTURES.md §3 "degenerate")
# ---------------------------------------------------------------------------


def test_extract_plain_and_empty():
    assert extract_turn("  hello   world ", "") == extract_turn("hello world", "")
    assert extract_turn("", "") == []
    assert extract_turn("   \n ", "") == []
    assert extract_turn(None, "") == []


def test_finalize_offsets_and_ids():
    blocks = extract_turn("<body><h1>T</h1><p>body</p></body>", "browser")
    fin = finalize_turn("c", 0, blocks)
    assert fin.extracted_text == "T\nbody"
    (b0, b1) = fin.blocks
    assert (b0["span_begin"], b0["span_end"], b0["reading_order"]) == (0, 1, 0)
    assert (b1["span_begin"], b1["span_end"], b1["reading_order"]) == (2, 6, 1)
    assert b0["span_id"] == span_id("c", 0, "title", 0, 1)
    # word spans over extracted text: (idx, token, begin, end) tuples
    assert [(wb, we) for _i, _t, wb, we in fin.words] == [(0, 1), (2, 6)]


def test_content_sniff_fallback():
    # tool='' but payload is html → sniffed
    blocks = extract_turn("<body><p>sniffed</p></body>", "")
    assert [(b.category, b.text) for b in blocks] == [("text", "sniffed")]
    blocks = extract_turn("@72,40:positioned", "")
    assert blocks[0].text == "positioned"


def test_teds_identity_rename_and_delete():
    from deepdoctection_spark.kernels.html import parse_html
    from deepdoctection_spark.kernels.teds import teds, tree_edit_distance

    assert teds("<a><b>x</b></a>", "<a><b>x</b></a>") == 1.0
    # rename one of 3 nodes (root, a, b)
    d, m, n = tree_edit_distance(parse_html("<a><b></b></a>"), parse_html("<a><c></c></a>"))
    assert (d, m, n) == (1, 3, 3)
    # delete a leaf element + its text
    gt = "<t><r><c>x</c><c>y</c></r></t>"
    pred = "<t><r><c>x</c></r></t>"
    d, m, n = tree_edit_distance(parse_html(gt), parse_html(pred))
    assert (d, m, n) == (2, 7, 5)
    assert round(teds(gt, pred), 6) == round(1 - 2 / 7, 6)
    # text change = one rename
    d, _, _ = tree_edit_distance(parse_html("<p>hello</p>"), parse_html("<p>world</p>"))
    assert d == 1


# ---------------------------------------------------------------------------
# regressions from the round-1 code review
# ---------------------------------------------------------------------------


def test_truncated_skip_content_terminates():
    # '</script' with no closing '>' must not loop forever
    blocks = extract_blocks("<p>ok</p><script>x</script")
    assert [(b.category, b.text) for b in blocks] == [("text", "ok")]
    extract_blocks("<style>p{}</style")  # terminates, nothing to assert


def test_inline_whitespace_preserved():
    blocks = extract_blocks("<p><b>bold</b> <i>italic</i> words</p>")
    assert blocks[0].text == "bold italic words"


def test_doctype_and_pi_not_content():
    blocks = extract_blocks(
        "<?xml version='1.0'?><!DOCTYPE html><html><body><p>hello world</p></body></html>"
    )
    assert [(b.category, b.text) for b in blocks] == [("text", "hello world")]


def test_truncated_tag_is_linear_not_redos():
    """A truncated open tag ('<a bbbb…' with no closing '>') must tokenize in
    linear time. The tag regex's attr tail scans unquoted runs possessively
    (`[^>\"']++`); a backtracking `+` under the outer `*` is the classic
    (x+)* ReDoS shape — a 40-char truncated tag already takes minutes, and
    crawled HTML is full of truncated payloads. The unmatched tail falls
    through as a text node (browser error recovery), so the content before
    it still extracts."""
    import time

    doc = "<p>real content here</p><a " + "b" * 200_000
    t0 = time.monotonic()
    blocks = extract_blocks(doc)
    assert time.monotonic() - t0 < 2.0
    assert ("text", "real content here") in [(b.category, b.text) for b in blocks]


def test_unquoted_href_trailing_slash_is_link_text():
    blocks = extract_blocks(
        "<div><a href=http://x.com/>Home</a> <a href=http://y.com/>About</a></div>"
    )
    assert blocks == []  # pure nav boilerplate must be dropped


def test_multiple_tables_all_in_html():
    html = (
        "<body><table><tr><td>a</td></tr></table>"
        "<p>mid</p>"
        "<table><tr><td>b</td></tr></table></body>"
    )
    fin = finalize_turn("c", 0, extract_turn(html, "browser"))
    first, second = fin.table_html.split("\n")
    assert "a" in first and "b" in second


def test_adversarial_rowspan_capped():
    """<td rowspan=2000000000> must not hang/OOM the executor (MAX_SPAN cap;
    the per-row quarantine cannot catch a hang)."""
    import time

    from deepdoctection_spark.kernels.table import MAX_SPAN

    html = "<table><tr><td rowspan=2000000000 colspan=999999>x</td></tr></table>"
    t0 = time.monotonic()
    cells = segment_table_grid(parse_html(html).children[0])
    assert time.monotonic() - t0 < 2.0
    assert cells[0].row_span == MAX_SPAN and cells[0].column_span == MAX_SPAN
    t0 = time.monotonic()
    (block,) = extract_blocks_stream(html)
    assert time.monotonic() - t0 < 2.0
    cell = block.cells[0]
    assert (cell.row_span, cell.column_span, cell.text) == (MAX_SPAN, MAX_SPAN, "x")


def test_teds_spans_in_labels_and_size_cap():
    from deepdoctection_spark.kernels.teds import TreeTooLarge, teds, tree_edit_distance
    import pytest as _pytest

    # colspan difference is a structural difference (reference TableTree
    # encodes spans into labels) — must NOT score 1.0
    a = '<table><tr><td colspan="2">x</td></tr></table>'
    b = "<table><tr><td>x</td></tr></table>"
    assert teds(a, b) < 1.0
    d, _, _ = tree_edit_distance(parse_html(a), parse_html(b))
    assert d == 1  # one rename (same tag/text, different span label)

    big = "<p>" + "<b>x</b>" * 1500 + "</p>"
    with _pytest.raises(TreeTooLarge):
        tree_edit_distance(parse_html(big), parse_html(big))


# --- sub-line splitting (TextLineGenerator, order.py:345-563) ---------------


def test_sub_line_merges_close_runs_on_one_line():
    from deepdoctection_spark.kernels.layout import extract_layout_blocks

    payload = "@72,40:T\n@72,100:alpha\n@140,100:beta\n@72,160:gamma"
    blocks = extract_layout_blocks(payload)
    # gap 68 < 100: same sub-line, space-joined — NOT two stacked lines
    assert [b.text for b in blocks] == ["T", "alpha beta\ngamma"]


def test_sub_line_wide_gap_splits_into_columns():
    from deepdoctection_spark.kernels.layout import extract_layout_blocks

    payload = "@72,40:T\n@72,100:left\n@500,100:right"
    blocks = extract_layout_blocks(payload)
    assert [(b.category, b.text) for b in blocks] == [
        ("title", "T"), ("text", "left"), ("text", "right")
    ]


def test_paragraph_break_boundary_is_strict_less_than():
    from tests.layout_oracle import make_sub_lines, parse_positioned_lines

    # gap exactly == break → split (reference: same sub-line only if < break)
    runs = parse_positioned_lines("@0,0:a\n@100,0:b")
    assert len(make_sub_lines(runs, 100.0)) == 2
    assert len(make_sub_lines(runs, 100.5)) == 1
