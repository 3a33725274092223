"""Tree reference for the streaming HTML extractor.

``extract_blocks`` parses a payload into an element tree (``parse_html``)
and folds it into blocks; ``segment_table_grid`` places a table subtree's
cells on an occupancy grid. This is the straightforward reading of the
extraction rules, and the property sweeps in tests/test_property.py and
the corpus in tests/test_table_corpus.py hold the production
``kernels.html.extract_blocks_stream`` block-for-block and cell-for-cell
identical to it.
"""

from __future__ import annotations

from deepdoctection_spark.kernels.html import (
    _BLOCKISH,
    _CONTAINERS,
    _HEADINGS,
    _LISTS,
    Node,
    parse_html,
)
from deepdoctection_spark.kernels.table import Block, TableCell, _int_attr
from deepdoctection_spark.kernels.textnorm import _WS_RE, normalize_ws


def _gather_text(node: Node, want_text: bool = True) -> tuple[str, int, int, int]:
    """(normalized_text, total_chars, link_chars, tag_count) for a subtree —
    link_chars counts text under <a> descendants (the readability
    link-density numerator) and tag_count counts descendant ELEMENT nodes
    (the tag-density denominator: markup-heavy/text-poor subtrees are
    boilerplate). The text is returned ALREADY whitespace-normalized
    (normalize_ws semantics, fused into the walk): words accumulate across
    text-node boundaries when no whitespace separates them ('<b>a</b>x' →
    'ax'), whitespace runs and blockish-subtree boundaries become single
    spaces, and the result is stripped. One pass replaces the old
    gather-raw-then-regex-normalize double scan.

    Iterative (explicit stack, post-order markers for blockish word
    boundaries): the recursive-closure version spent ~40% of its time on
    frame setup/nonlocal cells at ~50 visits per document. ``want_text=False``
    skips word-list accumulation for callers that only need the density
    stats (list/table blocks, whose text is assembled separately) — the
    counters are unchanged, the join is skipped.
    Property-tested equivalent to a recursive reference walk
    (tests/test_property.py::test_fused_gather_matches_reference)."""
    words: list[str] = []
    total = 0
    linked = 0
    tags = 0
    open_word = False  # last emitted chunk ended mid-word (no trailing ws)
    split = _WS_RE.split
    append_words = words.extend
    # stack entries: (node, in_link); None node = blockish post-order marker
    stack = [(node, False)]
    pop = stack.pop
    push = stack.append
    while stack:
        nd, in_link = pop()
        if nd is None:
            open_word = False  # blockish subtree edge = word boundary
            continue
        tag = nd.tag
        if tag == "":
            # split on the SAME ASCII whitespace class normalize_ws collapses
            # (str.split() would also split on Unicode whitespace like \xa0
            # that _WS_RE deliberately keeps inside words); empty first/last
            # pieces mark boundary whitespace
            pieces = split(nd.text)
            ws = [w for w in pieces if w]
            if not ws:
                if len(pieces) > 1:  # pure-whitespace node: word boundary
                    open_word = False
                continue
            stripped = sum(map(len, ws)) + len(ws) - 1
            total += stripped
            if in_link:
                linked += stripped
            if want_text:
                start = 0
                if open_word and pieces[0] and words:
                    words[-1] += ws[0]  # continue the word across the seam
                    start = 1
                append_words(ws[start:])
            open_word = bool(pieces[-1])
            continue
        tags += 1
        child_link = in_link or tag == "a"
        if tag in _BLOCKISH:
            push((None, False))  # fires AFTER the children (LIFO)
        ch = nd.children
        if ch:
            for i in range(len(ch) - 1, -1, -1):
                push((ch[i], child_link))
    # the loop counted `node` itself; tag_count is DESCENDANT elements only,
    # so a plain-text <p> scores 0 and can never trip the tag-density filter.
    return (" ".join(words) if want_text else ""), total, linked, tags - 1


def _has_block_child(node: Node) -> bool:
    return any(c.tag in _BLOCKISH and c.tag != "" for c in node.children)


def extract_blocks(
    html: str,
    link_density_threshold: float = 0.5,
    tag_density_threshold: float = 8.0,
    tag_density_min_tags: int = 3,
) -> list[Block]:
    """Document-order main-content blocks after boilerplate stripping.

    Two readability-style density filters (reference analogue: score/NMS
    filtering of proposed layout blocks, pipe/layout.py + pipe/common.py):

    - link density: drop a block whose text is mostly anchor text
      (`linked/total > link_density_threshold`) — nav / footer / sidebar.
    - tag density: drop a TEXT block that is markup-heavy and text-poor
      (≥ `tag_density_min_tags` descendant elements AND fewer than
      `tag_density_threshold` text chars per element) — share widgets,
      breadcrumbs, icon rows whose link density alone can sit under 0.5.
      Scoped to category "text": titles are short by nature, and list/table
      blocks legitimately spend one element per item/cell.
    """
    root = parse_html(html)
    out: list[Block] = []

    def emit(
        node: Node,
        category: str,
        text: str | None = None,
        cells: list[TableCell] | None = None,
    ) -> None:
        """One subtree walk serves both the density filters and (when `text`
        is None) the block text itself — the subtree is never gathered
        twice. When `text` is pre-assembled (list/table), the gather runs
        stats-only (no word-list build)."""
        norm, total, linked, tags = _gather_text(node, want_text=text is None)
        if total == 0:
            return
        if linked / total > link_density_threshold:
            return  # boilerplate: mostly anchor text
        if (
            category == "text"
            and tags >= tag_density_min_tags
            and tags > 0  # a tag-free block is never markup-heavy (min_tags=0 guard)
            and total / tags < tag_density_threshold
        ):
            return  # boilerplate: markup-heavy, text-poor
        if text is None:
            text = norm  # _gather_text output is already normalized
        if text:
            out.append(Block(category, text, cells or ()))

    def walk(node: Node) -> None:
        # inline runs (text nodes + inline elements) between block children
        # form anonymous text blocks — CSS anonymous-box semantics; needed so
        # depth-cap flattening (parse_html MAX_DEPTH) never loses content
        pending: list[Node] = []

        def flush() -> None:
            if not pending:
                return
            wrapper = Node("#anon", children=list(pending))
            pending.clear()
            emit(wrapper, "text")

        for c in node.children:
            if c.tag == "" or c.tag not in _BLOCKISH:
                pending.append(c)
                continue
            flush()
            tag = c.tag
            if tag in _HEADINGS:
                emit(c, "title")
            elif tag == "p" or tag == "pre":
                emit(c, "text")
            elif tag in _LISTS:
                items = [
                    _gather_text(li)[0]
                    for li in c.children
                    if li.tag == "li"
                ]
                emit(c, "list", "\n".join(i for i in items if i))
            elif tag == "table":
                cells = segment_table_grid(c)
                rows: dict[int, list[TableCell]] = {}
                for cell in cells:
                    rows.setdefault(cell.row_number, []).append(cell)
                text = "\n".join(
                    " ".join(cl.text for cl in sorted(rows[r], key=lambda x: x.column_number) if cl.text)
                    for r in sorted(rows)
                )
                emit(c, "table", text, cells)
            elif tag in _CONTAINERS or tag in _BLOCKISH:
                if _has_block_child(c):
                    walk(c)  # container: recurse
                else:
                    emit(c, "text")
        flush()

    walk(root)
    return out



def _find_rows(table_node: Node) -> list[Node]:
    rows: list[Node] = []

    def rec(nd) -> None:
        for c in nd.children:
            if c.tag == "tr":
                rows.append(c)
            elif c.tag in ("thead", "tbody", "tfoot"):
                rec(c)

    rec(table_node)
    return rows


def segment_table_grid(table_node: Node) -> list[TableCell]:
    """Place td/th cells on an occupancy grid honoring rowspan/colspan.

    Occupancy bookkeeping is LAZY: within a row the column cursor only moves
    right, so a cell's own-row coverage (any colspan) can never be probed by
    a later cell in that row — only ``rowspan > 1`` coverage of LATER rows
    is ever queried. Span-free tables (the overwhelmingly common case) touch
    no set at all; single-text-child cells skip the subtree walk (and so
    get ``normalize_ws``'s full ``str.strip()``)."""
    occupied: set[tuple[int, int]] | None = None
    normalize = normalize_ws
    cells: list[TableCell] = []
    for r, tr in enumerate(_find_rows(table_node), start=1):
        col = 1
        for td in tr.children:
            if td.tag not in ("td", "th"):
                continue
            if occupied:
                while (r, col) in occupied:
                    col += 1
            rs = _int_attr(td.attrs, "rowspan")
            cs = _int_attr(td.attrs, "colspan")
            if rs > 1:
                if occupied is None:
                    occupied = set()
                for rr in range(r + 1, r + rs):
                    for cc in range(col, col + cs):
                        occupied.add((rr, cc))
            ch = td.children
            if len(ch) == 1 and not ch[0].tag:
                text = normalize(ch[0].text)  # single text child: no walk
            else:
                text = _gather_text(td)[0]  # already normalized
            cells.append(
                TableCell(
                    text=text,
                    row_number=r,
                    column_number=col,
                    row_span=rs,
                    column_span=cs,
                )
            )
            col += cs
    return cells

