"""Property-based kernel tests (hypothesis): totality + span invariants.

The reference has no property-based testing (SURVEY §5); at 10^12 turns the
kernels see adversarial inputs statistically, so totality (never throw) and
offset validity are load-bearing properties, not nice-to-haves.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn
from deepdoctection_spark.kernels.html import extract_blocks_stream, parse_html
from deepdoctection_spark.kernels.layout import extract_layout_blocks
from deepdoctection_spark.kernels.teds import teds
from deepdoctection_spark.kernels.table import Block
from deepdoctection_spark.kernels.textnorm import collapse_ws, normalize_ws, word_spans
from tests import layout_oracle, ws_oracle
from tests.html_oracle import _gather_text, extract_blocks

# text with plenty of HTML-ish structure mixed in
_frag = st.sampled_from(
    list("abc <>/=\"'&\n\t!-xyzp1")
    + ["<p>", "</p>", "<a href='x'>", "</a>", "<table>", "<tr>", "<td>",
       "</td>", "</tr>", "</table>", "<div>", "</div>", "<!--", "-->"]
)
_soup = st.lists(_frag, max_size=80).map("".join)


@settings(max_examples=120, deadline=None, derandomize=True)
@given(_soup)
def test_parser_total_on_tag_soup(s):
    parse_html(s)  # must not raise on any input
    extract_blocks(s)
    extract_blocks_stream(s)  # the production hot path is total too


@settings(max_examples=120, deadline=None, derandomize=True)
@given(
    st.text(max_size=300),
    st.sampled_from(["", "browser", "pdf_reader"]),
)
def test_extract_turn_total_and_offsets_valid(text, tool):
    blocks = extract_turn(text, tool)
    fin = finalize_turn("conv", 0, blocks)
    et = fin.extracted_text
    # every span's offsets slice to a consistent substring
    for s in fin.blocks:
        assert 0 <= s["span_begin"] <= s["span_end"] <= len(et)
    for c in fin.cells:
        assert et[c["span_begin"] : c["span_end"]] == c["cell_text"]
    for _wi, tok, wb, we in fin.words:
        assert et[wb:we] == tok
        assert " " not in tok and "\n" not in tok
    # block texts joined with \n reconstruct extracted_text
    assert "\n".join(et[s["span_begin"] : s["span_end"]] for s in fin.blocks) == et
    # reading order is dense 0..n-1
    assert [s["reading_order"] for s in fin.blocks] == list(range(len(fin.blocks)))


@settings(max_examples=80, deadline=None, derandomize=True)
@given(st.text(max_size=200))
def test_normalize_idempotent_and_word_spans_cover(s):
    n = normalize_ws(s)
    assert normalize_ws(n) == n
    ws = word_spans(n)
    # tokens tile the normalized text with single separators
    rebuilt_len = sum(e - b for _, _, b, e in ws) + max(0, len(ws) - 1)
    assert rebuilt_len == len(n)


# every ASCII whitespace char and a double space, next to the characters
# str.isspace() knows but the contract keeps inside words (\x1c-\x1f, \x85
# and the Unicode spaces) and letters; framed by a fragment on each side so
# each lands at a run edge as well as in the middle
_WS_FRAGS = [" ", "\t", "\n", "\r", "\f", "\v", "  ", "\x1c", "\x1d", "\x1e",
             "\x1f", "\x85", "\xa0", "\u2028", "\u2029", "\u3000"]
_ws_frag = st.sampled_from(_WS_FRAGS + ["a", "b", "xy", "\xe9"] * 2)
_ws_text = st.builds(
    lambda a, mid, b: a + "".join(mid) + b,
    _ws_frag, st.lists(_ws_frag, max_size=24), _ws_frag,
)


@settings(max_examples=400, deadline=None, derandomize=True)
@given(_ws_text, _ws_text)
def test_whitespace_collapse_matches_regex_reference(s, t):
    """collapse_ws skips the regex on text it cannot change; it, normalize_ws
    and the HTML text feed (hot loop and trailing run) must still equal the
    plain ``[ \t\r\n\f\v]+`` -> " " collapse on every input."""
    assert collapse_ws(s) == ws_oracle.collapse(s)
    assert normalize_ws(s) == ws_oracle.normalize(s)
    ref = ws_oracle.collapse(s).strip(" ")
    want = [Block("text", ref)] if ref else []
    assert extract_blocks_stream(f"<p>{s}</p>") == want
    assert extract_blocks_stream(s) == want
    html = f"<div>{s}<b>{t}</b>{s}<p>{t}</p>{t}</div>{s}"
    assert extract_blocks_stream(html) == extract_blocks(html)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(_soup, _soup)
def test_teds_bounded_and_reflexive(a, b):
    assert teds(a, a) == 1.0
    v = teds(a, b)
    assert 0.0 <= v <= 1.0


# --- equivalence oracles for the fused/split fast paths ---------------------


def _gather_text_reference(node):
    """The pre-fusion reference implementation: raw subtree text + density
    counters, normalized afterwards. The fused _gather_text must match it
    exactly on arbitrary tag soup."""
    from deepdoctection_spark.kernels.html import _BLOCKISH

    parts, total, linked, tags = [], 0, 0, -1  # -1: don't count `node` itself

    def rec(nd, in_link):
        nonlocal total, linked, tags
        if nd.tag == "":
            parts.append(nd.text)
            ws = [w for w in ws_oracle.WS_RE.split(nd.text) if w]
            stripped = sum(map(len, ws)) + max(0, len(ws) - 1)
            total += stripped
            if in_link:
                linked += stripped
            return
        tags += 1
        for c in nd.children:
            rec(c, in_link or nd.tag == "a")
        if nd.tag in _BLOCKISH:
            parts.append(" ")

    rec(node, False)
    return "".join(parts), total, linked, tags


@settings(max_examples=200, deadline=None, derandomize=True)
@given(_soup)
def test_fused_gather_matches_reference(s):
    root = parse_html(s)
    norm, total, linked, tags = _gather_text(root)
    raw, rtotal, rlinked, rtags = _gather_text_reference(root)
    assert (norm, total, linked, tags) == (ws_oracle.normalize(raw), rtotal, rlinked, rtags)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.text(alphabet=list("ab \n\tx\xa0é"), max_size=120))
def test_word_spans_matches_finditer(s):
    import re

    ref = [(i, m[0], *m.span())
           for i, m in enumerate(re.finditer(r"[^ \n]+", s))]
    assert word_spans(s) == ref


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(st.text(alphabet=list("ab \n\tx\xa0é日"), max_size=60), max_size=12))
def test_batch_words_matches_per_row(texts):
    """The Arrow-vectorized batch tokenizer (operators/extraction.py
    _batch_words) is bit-identical to per-row word_spans on arbitrary text,
    including unicode, separator runs, and empty rows."""
    from deepdoctection_spark.operators.extraction import _batch_words

    got = _batch_words(pa.array(texts, pa.string())).to_pylist()
    exp = [
        [
            {"token": t, "span_begin": b, "span_end": e, "word_idx": i}
            for (i, t, b, e) in word_spans(s)
        ]
        for s in texts
    ]
    assert got == exp


# positioned runs on a few shared rows and x starts, so y ties, title
# candidates, wide and narrow gaps and blank runs all occur; some lines are
# not runs at all
_layout_line = st.one_of(
    st.builds(
        "@{},{}:{}".format,
        st.sampled_from(["0", "50", "72", "100", "150", "306", "-5", "72.5"]),
        st.sampled_from(["10", "40", "40.0", "150"]),
        st.sampled_from(["a", "b", "a\tb  c", "", " ", "\xa0a\r"]),
    ),
    st.sampled_from(["", "noise", "@x,1:bad", " @0,10:lead"]),
)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(_layout_line, max_size=12).map("\n".join),
       st.sampled_from([(100.0, None), (300.0, None), (100.0, 50.0)]))
def test_fused_layout_matches_reference(payload, gaps):
    """The fused layout extractor (the production path) is block-for-block
    identical to the unfused parse → sub-line → column composition."""
    assert extract_layout_blocks(payload, *gaps) == \
        layout_oracle.extract_layout_blocks(payload, *gaps)


_pdf_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF,
                           blacklist_categories=("Cs",)),
    min_size=1, max_size=40,
).map(lambda s: s.strip() or "x")

_pdf_pages = st.lists(
    st.lists(
        st.tuples(
            st.integers(40, 500),        # x
            st.integers(100, 740),       # y
            st.sampled_from([9, 11, 12]),
            _pdf_text,
        ).map(lambda t: (float(t[0]), float(t[1]), float(t[2]), t[3])),
        min_size=1, max_size=4,
    ),
    min_size=1, max_size=3,
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(_pdf_pages)
def test_pdf_layout_matrix_equivalence(pages):
    """EVERY writer layout decodes to the same per-page text: classic,
    ObjStm/xref-stream, CID font (which also survives non-latin-1 chars
    the simple font would replace), RC4-128, AESV2 — the property the
    mixed-corpus query relies on. CID is the reference decode (it is
    lossless for the full generated alphabet); latin-1 layouts are
    compared on their own encode of the same pages."""
    from deepdoctection_spark.kernels.pdf import pdf_encode, pdf_texts

    base = pdf_texts(pdf_encode(pages))
    assert pdf_texts(pdf_encode(pages, object_streams=True)) == base
    assert pdf_texts(pdf_encode(pages, encrypt_bits=128)) == base
    assert pdf_texts(pdf_encode(pages, encrypt_bits=128,
                                cipher="aes")) == base
    cid = pdf_texts(pdf_encode(pages, cid_font=True))
    cid_objstm = pdf_texts(pdf_encode(pages, cid_font=True,
                                      object_streams=True))
    assert cid == cid_objstm
    # CID is exact on the full alphabet; the simple-font layouts agree
    # with it whenever the text is latin-1-representable
    if all(all(t == t.encode("latin-1", "replace").decode("latin-1")
               for _x, _y, _s, t in page) for page in pages):
        assert cid == base


@settings(max_examples=400, deadline=None, derandomize=True)
@given(_soup)
def test_stream_matches_tree_extractor(s):
    """The single-pass streaming extractor (the production hot path since
    round 4) is block-for-block identical to the tree fold on arbitrary tag
    soup — categories, texts, and full table-cell grids."""

    def key(bs):
        return [
            (
                b.category,
                b.text,
                [
                    (c.row_number, c.column_number, c.row_span, c.column_span, c.text)
                    for c in b.cells
                ],
            )
            for b in bs
        ]

    assert key(extract_blocks(s)) == key(extract_blocks_stream(s))


def test_stream_matches_tree_on_structured_nesting():
    """Deterministic structured-nesting sweep (deep lists, unclosed tags,
    tables in containers) — heavier structure than the flat soup strategy."""
    import random

    from deepdoctection_spark.kernels.html import MAX_DEPTH

    def key(bs):
        return [(b.category, b.text, [(c.row_number, c.column_number, c.text) for c in b.cells]) for b in bs]

    tags = ["div", "p", "span", "ul", "li", "table", "tr", "td", "h2", "a",
            "b", "nav", "pre", "blockquote", "ol", "th", "dd", "dl", "section"]
    rng = random.Random(7)

    def gen(depth):
        if depth > 6 or rng.random() < 0.3:
            return rng.choice(["hello", "x y z", " ", "&amp;", "w" * rng.randint(1, 8), ""])
        t = rng.choice(tags)
        inner = "".join(gen(depth + 1) for _ in range(rng.randint(0, 4)))
        if rng.random() < 0.15:
            return f"<{t}>{inner}"  # unclosed
        return f"<{t}>{inner}</{t}>"

    for _ in range(3000):
        s = "".join(gen(0) for _ in range(rng.randint(1, 4)))
        assert key(extract_blocks(s)) == key(extract_blocks_stream(s)), s[:200]
    for s in (
        "<div>" * (MAX_DEPTH + 5) + "<p>past cap</p>x" + "</div>" * (MAX_DEPTH + 5),
        "<a>" * 260 + "linky" + "</a>" * 260,
        "<ul>" + "<li>i<div>" * 200 + "</div></li>" * 200 + "</ul>",
    ):
        assert key(extract_blocks(s)) == key(extract_blocks_stream(s))


def test_stream_matches_tree_on_stray_angle_hostile():
    """Stray '<' / mis-nested close / unterminated-tag sweep: pins the
    round-5 fused-lexer chunking contract (consecutive text matches buffer
    into ONE chunk so chunk boundaries — which the total/stripped char
    count is sensitive to at the tag-density threshold — land exactly where
    the tree parser's between-match slices do). The seed-7 generator here
    reproduced the one divergence the flat-soup strategy missed."""
    import random


    def key(bs):
        return [
            (b.category, b.text,
             [(c.row_number, c.column_number, c.row_span, c.column_span, c.text)
              for c in b.cells])
            for b in bs
        ]

    tags = ["div", "p", "span", "a href='/x'", "ul", "li", "table", "tr",
            "td", "b", "h2", "br", "img", "script", "style"]
    texts = ["hello world", "a&amp;b", "x<y", "<", "&lt;tag&gt;", " ", "",
             "mixed  ws\ttext", "trail ", " lead"]
    rng = random.Random(7)

    def gen(depth=0):
        out = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.45 or depth > 5:
                out.append(rng.choice(texts))
            else:
                t = rng.choice(tags)
                name = t.split(" ")[0]
                out.append(f"<{t}>")
                out.append("".join(gen(depth + 1)))
                if rng.random() < 0.85:
                    out.append(f"</{name}>")
                elif rng.random() < 0.3:
                    out.append(f"</{rng.choice(['div', 'p', 'span'])}>")
        return out

    for trial in range(5000):
        s = "".join(gen())
        assert key(extract_blocks(s)) == key(extract_blocks_stream(s)), (
            trial, s[:300])


def test_stream_matches_tree_on_table_shapes():
    """Seeded stream-vs-tree sweep over table shapes the soup generators
    never emit: span attributes in every spelling (quoted, unquoted,
    entity-encoded, uppercase, out-of-range, junk), th/caption and
    thead/tbody/tfoot chains, a tr under a div inside the table (not a row),
    text directly in a tr, unclosed rows and cells, nested tables, <br> and
    entities in cells, and rows at the depth cap. Compared cell for cell on
    (row, col, row_span, col_span, text)."""
    import random

    from deepdoctection_spark.kernels.html import MAX_DEPTH

    def key(bs):
        return [
            (b.category, b.text,
             [(c.row_number, c.column_number, c.row_span, c.column_span, c.text)
              for c in b.cells])
            for b in bs
        ]

    span_values = ["2", '"2"', "'3'", "&#50;", '"&#x33;"', "0", "-3", "abc",
                   '""', "2000000000", '" 2 "', "1", "4"]
    span_names = ["rowspan", "colspan", "ROWSPAN", "ColSpan"]
    cell_texts = ["a", "b c", " ", "", "&nbsp;", "&nbsp;x&nbsp;", "\xa0y\xa0",
                  "p&amp;q", "&lt;td&gt;", "x<br>y", "<br>", "<b>bo</b>ld",
                  "u <i>v</i> w", "<a href=/l>link</a>", "<p>para</p>tail",
                  "<ul><li>i1</li><li>i2</li></ul>", "k<!--c-->l",
                  "m<script>n</script>o", "<img src=x>img", "  spaced\tout  ",
                  "&#1;<!---->&nbsp;z", " <!---->&nbsp;z"]
    rng = random.Random(8)

    def span_attrs():
        out = ""
        for _ in range(rng.choice([0, 0, 0, 1, 1, 2])):
            v = rng.choice(span_values)
            if v == "2000000000" and rng.random() < 0.7:
                v = "3"  # keep the 256x256 capped fill rare
            out += f" {rng.choice(span_names)}={v}"
        return out

    def cell(depth):
        tag = rng.choice(["td", "td", "th", "TD"])
        body = "".join(rng.choice(cell_texts) for _ in range(rng.randint(0, 3)))
        if depth < 2 and rng.random() < 0.12:
            body += table(depth + 1)
        end = f"</{tag}>" if rng.random() < 0.8 else ""
        return f"<{tag}{span_attrs()}>{body}{end}"

    def row(depth):
        tag = rng.choice(["tr", "tr", "TR"])
        parts = [cell(depth) for _ in range(rng.randint(0, 4))]
        if rng.random() < 0.15:
            parts.insert(rng.randint(0, len(parts)), rng.choice(["loose", " ", "r&amp;s"]))
        end = f"</{tag}>" if rng.random() < 0.8 else ""
        return f"<{tag}>{''.join(parts)}{end}"

    def section(depth, level=0):
        r = rng.random()
        if r < 0.25 and level < 2:
            tag = rng.choice(["thead", "tbody", "tfoot"])
            inner = "".join(section(depth, level + 1) for _ in range(rng.randint(1, 3)))
            end = f"</{tag}>" if rng.random() < 0.85 else ""
            return f"<{tag}>{inner}{end}"
        if r < 0.32:
            return f"<caption>{rng.choice(cell_texts)}</caption>"
        if r < 0.38:
            return f"<div>{row(depth)}</div>"  # a tr under a div: not a row
        if r < 0.42:
            return rng.choice(["stray text", " ", "<b>bold</b>"])
        return row(depth)

    def table(depth=0):
        inner = "".join(section(depth) for _ in range(rng.randint(0, 5)))
        end = "</table>" if rng.random() < 0.85 else ""
        return f"<table>{inner}{end}"

    fixed = [
        "<table><tr><td>a<td>b</tr></table>",
        "<table><tr><td>a<td>b</tr><tr><td>c</table>",
        "<table><tbody><thead><tfoot><tr><td>deep</td></tr></tfoot></thead></tbody></table>",
        "<table><div><tr><td>no</td></tr></div><tr>loose<td>yes</td></tr></table>",
        "<table><tr><td><table><tr><td>in</td></tr></table>out</td></tr></table>",
        "<table><tr><td>&nbsp;x&nbsp;</td><td>&nbsp;x<b></b></td></tr></table>",
        "<table><tr><td rowspan=&#50; COLSPAN='2'>s</td><td>t</td></tr><tr><td>u</td></tr></table>",
        "<table><tr><td rowspan=0 colspan=-3>z</td><td rowspan=abc colspan=\"\">y</td></tr></table>",
        "<table><tr><td rowspan=2000000000>big</td><td>r1</td></tr><tr><td>r2</td></tr></table>",
        "<table><caption>cap</caption><tr><th>h</th></tr></table>",
        # two text nodes (one decodes to "", one is bare whitespace): the
        # cell keeps its edge \xa0, unlike a single-text-node cell
        "<table><tr><td>&#1;<!---->&nbsp;x</td><td> <!---->&nbsp;y</td></tr></table>",
        # the tr under the inner group is capped but still numbers row 1
        "<div>" * (MAX_DEPTH - 4) + "<table><tbody><thead><tr><td>h</td></tr>"
        "</thead></tbody><tr><td>b</td></tr></table>" + "</div>" * (MAX_DEPTH - 4),
    ]
    for pad in (MAX_DEPTH - 4, MAX_DEPTH - 3, MAX_DEPTH - 2):
        # pad divs + table + tr: at MAX_DEPTH - 3 the tr is the last frame
        # the stack admits, so its td is capped (text ""); one more pad caps
        # the tr itself, one fewer admits the td
        fixed.append("<div>" * pad + "<table><tr><td>capped</td><td rowspan=2>c2</td>"
                     "</tr><tr><td>next</td></tr></table>" + "</div>" * pad)
    for s in fixed:
        assert key(extract_blocks(s)) == key(extract_blocks_stream(s)), s[-200:]
    for trial in range(2500):
        s = rng.choice(["", "<div>", "<p>lead</p>", "text "]) + table()
        if rng.random() < 0.3:
            s = f"<div>{s}<p>after</p></div>"
        assert key(extract_blocks(s)) == key(extract_blocks_stream(s)), (trial, s[:300])
