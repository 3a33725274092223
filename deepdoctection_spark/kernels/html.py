"""HTML main-content extraction: one streaming scan + tag/link-density
boilerplate strip.

This is the transcript-payload analogue of the reference's layout-detection +
matching + NMS chain (/root/reference/deepdoctection/pipe/layout.py:37-121,
pipe/common.py:76-168, 239-301): instead of a vision model proposing pixel
blocks that are then filtered by score/NMS, a scan of the DOM's open/close
events proposes candidate blocks (headings, paragraphs, lists, tables, leaf
containers) that are then filtered by a readability-style link-density
heuristic — a block whose text is mostly anchor text is boilerplate (nav /
footer / sidebar) and is dropped.

``extract_blocks_stream`` is the production path: it builds no element tree,
and segments tables into grid cells during the same scan. ``parse_html``
builds the tolerant element tree that TEDS (kernels/teds.py) compares and
that the test-side tree reference folds (tests/html_oracle.py).

Output categories follow the reference's LayoutType enum
(/root/reference/deepdoctection/utils/settings.py:105-131):
title | text | list | table (+ cell sub-structures from kernels/table.py).
"""

from __future__ import annotations

import re
import types
from html import unescape as _unescape

from deepdoctection_spark.kernels.table import Block, TableCell, _int_attr
from deepdoctection_spark.kernels.textnorm import collapse_ws

# Alternatives: element tag | comment | DOCTYPE-style declaration | processing
# instruction. The last two would otherwise fall through as text nodes and be
# emitted as a garbage first content block on every real-world page.
# The attr tail scans unquoted runs with a POSSESSIVE `++` (Python 3.11+):
# run-at-a-time instead of char-at-a-time (~5% whole-kernel), and — unlike a
# backtracking `+` — linear on truncated tags ('<a bbbb…' with no '>'), where
# the (x+)* shape is otherwise exponential (ReDoS on crawled HTML). No
# capture change: '>' is excluded from the class, so backtracking into the
# group could never have produced a match the possessive scan misses.
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']++|\"[^\"]*\"|'[^']*')*+)/?>"
    r"|<!--.*?-->|<![a-zA-Z][^>]*>|<\?[^>]*>",
    re.DOTALL,
)
_ATTR_RE = re.compile(r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+)")

# Fused lexer for the streaming extractor: the _TAG_RE alternatives PLUS a
# final text branch, so ONE finditer drives the whole scan (no per-event
# search() call). Branch order matters: a '<' that opens a valid construct
# takes a tag branch; a stray '<' falls through to the single-char text
# branch, and consecutive text matches are fed as one run, so runs land
# where parse_html's text nodes do (property-tested vs the tree fold).
# Branch-split variant of _TAG_RE for the streaming loop: close tags are a
# SEPARATE alternative so m.lastindex alone routes the event and a close
# fetches ONE group (the tag) instead of the (slash, tag, attrs) triple. The
# matched span set is identical to _TAG_RE's (the close branch's junk-attr
# tail consumes any trailing "/" the shared pattern's /? would have).
# lastindex: 1 = close tag, 3 = open tag (2=tag, 3=attrs — 3 always
# participates, possibly empty), 4 = text run, None = comment/decl/PI.
_SCAN_RE = re.compile(
    r"</([a-zA-Z][a-zA-Z0-9]*)(?:[^>\"']++|\"[^\"]*\"|'[^']*')*+>"
    r"|<([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']++|\"[^\"]*\"|'[^']*')*+)/?>"
    r"|<!--.*?-->|<![a-zA-Z][^>]*>|<\?[^>]*>"
    r"|([^<]+|<)",
    re.DOTALL,
)

# elements whose entire content is non-rendered metadata
_SKIP_CONTENT = {"script", "style", "head", "noscript", "template"}
# void elements never pushed on the stack
_VOID = {
    "br", "img", "hr", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
}
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_LISTS = {"ul", "ol"}
# containers: recurse if they hold block children, else they are leaf
# candidates themselves (a bare <div>text</div> is a paragraph)
_CONTAINERS = {
    "div", "section", "article", "main", "body", "html", "nav", "footer",
    "header", "aside", "form", "figure", "blockquote", "center",
}
_BLOCKISH = (
    _HEADINGS | _LISTS | _CONTAINERS | {"p", "table", "pre", "li", "tr", "td", "th",
                                        "thead", "tbody", "tfoot", "caption", "dl", "dt", "dd"}
)


# Shared empty-attrs mapping: attrs are only ever read after parse, and most
# nodes — every text node in particular — have none; a per-node
# default_factory dict allocation showed up in profiles. MappingProxyType so
# accidental mutation raises instead of silently aliasing every node.
_NO_ATTRS: types.MappingProxyType = types.MappingProxyType({})


def _decode_attrs(raw: str) -> dict:
    """Attribute dict of a raw tag tail: lowercased names (a repeated name
    keeps its last value), quotes stripped, entities decoded when the value
    holds a '&'."""
    return {
        k.lower(): (_unescape(sv) if "&" in (sv := v.strip("\"'")) else sv)
        for k, v in _ATTR_RE.findall(raw)
    }


class Node:
    __slots__ = ("tag", "text", "children", "_attrs", "_raw")

    def __init__(
        self,
        tag: str,  # "" for text nodes
        text: str = "",
        attrs: dict | None = None,
        children: list | None = None,
        _raw: str | None = None,
    ):
        self.tag = tag
        self.text = text
        self._attrs = attrs
        self._raw = _raw
        self.children = [] if children is None else children

    @property
    def attrs(self) -> dict:
        """Attribute dict, decoded LAZILY from the raw tag tail on first
        access (only TEDS and td/th spans read attrs), memoized, with the
        same ``_decode_attrs`` the streaming scan applies to cells."""
        a = self._attrs
        if a is None:
            raw = self._raw
            self._attrs = a = (_decode_attrs(raw) if raw else None) or _NO_ATTRS
        return a

    def __repr__(self) -> str:  # debugging parity with the old dataclass
        return f"Node(tag={self.tag!r}, text={self.text!r}, children={len(self.children)})"


# Depth cap: browsers flatten pathological nesting too; this bounds every
# later tree walk (a 10^6-deep <div> chain in crawled HTML must not blow the
# recursion limit of a 10^12-turn job — row quarantine is the backstop, this
# avoids even that).
MAX_DEPTH = 256


def parse_html(html: str) -> Node:
    """Tolerant tag-soup parser → element tree. Unclosed tags auto-close when
    an ancestor closes; content of script/style/head is skipped entirely;
    nesting beyond MAX_DEPTH flattens into the deepest allowed element.

    Character references (named, decimal, hex — '&amp;', '&#169;',
    '&#x27;') are decoded in text nodes and attribute values at parse time,
    AFTER tokenization, so a decoded '<' is data, never markup. Bare '&'
    and unknown entities pass through verbatim (html.unescape semantics,
    matching browser error recovery). The decode is gated on '&' so
    entity-free documents pay one substring scan."""
    root = Node("#root")
    stack = [root]
    top = root  # cached stack[-1] — the loop's hottest attribute chain
    pos = 0
    n = len(html)
    search = _TAG_RE.search  # bind hot lookups once per document
    while pos < n:
        m = search(html, pos)
        if m is None:
            txt = html[pos:]
            if txt:
                if "&" in txt:
                    txt = _unescape(txt)
                top.children.append(Node("", text=txt))
            break
        start = m.start()
        if start > pos:
            # whitespace-only text nodes are KEPT: '<b>a</b> <i>b</i>' must
            # not merge to 'ab' — normalization collapses them later
            txt = html[pos:start]
            if "&" in txt:
                txt = _unescape(txt)
            top.children.append(Node("", text=txt))
        pos = m.end()
        g1, tag, rawattrs = m.group(1, 2, 3)  # one C call, not three
        if tag is None:  # comment / declaration / processing instr.
            continue
        tag = tag.lower()
        if g1 == "/":
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    top = stack[-1]
                    break
            continue
        # attrs stay RAW here (decoded lazily by Node.attrs on first access);
        # tags with no '=' share the empty mapping with no per-node alloc
        if rawattrs and "=" in rawattrs:
            node = Node(tag, _raw=rawattrs)
        else:
            node = Node(tag, attrs=_NO_ATTRS)
        if tag in _SKIP_CONTENT:
            close = html.find(f"</{tag}", pos)
            if close < 0:
                pos = n  # truncated payload: rest of document is dead content
            else:
                gt = html.find(">", close)
                # truncated close tag ('</script' with no '>'): consume to EOF
                # — gt+1 with gt == -1 would rewind pos to 0 and loop forever
                pos = n if gt < 0 else gt + 1
            continue
        top.children.append(node)
        if tag == "br":
            top.children.append(Node("", text="\n"))
        # Per HTML5, self-closing syntax ("/>") has no effect on non-void
        # elements — and a trailing "/" may simply belong to an unquoted
        # attribute value (<a href=http://x.com/>). Only _VOID controls it.
        if tag not in _VOID and len(stack) < MAX_DEPTH:
            stack.append(node)
            top = node
    return root


def looks_like_html(text: str) -> bool:
    return "<" in text and _TAG_RE.search(text) is not None


# ---------------------------------------------------------------------------
# Streaming single-pass extractor: the production HTML path
# ---------------------------------------------------------------------------

# Scope list slots (plain lists, not objects: the hot loop touches them per
# text run and per tag, and attribute access on a slotted class measured
# ~15% of the whole kernel):
#   0 chunks     normalized text chunks (text scopes only), joined by " "
#   1 total      stripped text chars          (link-density denominator)
#   2 linked     of those, chars under an <a> opened inside the scope
#   3 tags       descendant elements          (tag-density denominator)
#   4 open_word  the last chunk ended mid-word (the next run may glue on)
#   5 link_base  <a> nesting depth when the scope opened
#   6 want_text  accumulate chunks, not only counters
#   7 tee        capture scope (li, table cell): counters tee into the
#                stats scope directly beneath
#   8 runs       text runs fed while the scope was on top (cells read it)

# Frame roles. Roles >= _R_PLAIN own no scope and close like any inline or
# unreached element; _R_GROUP and _R_ROW only mark a reached table's row
# path, so a tr or td opening under them can be told apart from one under
# a div or a nested table.
_R_CONTAINER = 0  # reached container: direct blockish children become blocks
_R_TITLE = 1      # reached heading
_R_TEXT = 2       # reached p / pre
_R_LIST = 3       # reached ul/ol: stats scope + per-li text captures
_R_TABLE = 4      # reached table: stats scope + cell grid
_R_ITEM = 5       # direct li child of a reached list (capture, tees to list)
_R_CELL = 6       # td/th direct child of a row (capture, tees to table)
_R_PLAIN = 7      # everything else (inline, unreached blockish, table guts)
_R_GROUP = 8      # thead/tbody/tfoot whose parent is the table or a group
_R_ROW = 9        # tr whose parent is the table or a group

_ROW_GROUPS = {"thead", "tbody", "tfoot"}


def _new_scope(want_text: bool, link_base: int, tee: bool = False) -> list:
    return [[], 0, 0, 0, False, link_base, want_text, tee, 0]


def extract_blocks_stream(
    html: str,
    link_density_threshold: float = 0.5,
    tag_density_threshold: float = 8.0,
    tag_density_min_tags: int = 3,
) -> list[Block]:
    """Document-order main-content blocks after boilerplate stripping, in
    ONE scan: lexer, density-stats gather, block walk and table grid
    segmentation are fused and no element tree is built.

    Two readability-style density filters (reference analogue: score/NMS
    filtering of proposed layout blocks, pipe/layout.py + pipe/common.py):

    - link density: drop a block whose text is mostly anchor text
      (`linked/total > link_density_threshold`): nav / footer / sidebar.
    - tag density: drop a TEXT block that is markup-heavy and text-poor
      (>= `tag_density_min_tags` descendant elements AND fewer than
      `tag_density_threshold` text chars per element): share widgets,
      breadcrumbs, icon rows whose link density alone can sit under 0.5.
      Scoped to category "text": titles are short by nature, and list/table
      blocks legitimately spend one element per item/cell.

    Mechanics: the frame stack mirrors parse_html's element stack exactly
    (same MAX_DEPTH cap, skip-content jump, auto-close, void and entity
    handling), and a parallel SCOPE stack accumulates text and counters for
    the innermost emission scope. Blocks emit at element CLOSE; a
    container's pending inline run flushes as an anonymous text block the
    instant its first blockish direct child OPENS. Each text run enters its
    scope as one whitespace-normalized chunk; a run with no leading
    whitespace glues onto the previous chunk when that one ended mid-word,
    and a blockish element's close is a word boundary.

    Tables: a reached <table> owns a stats scope and a cell grid. A tr is a
    row when its parent is the table or a thead/tbody/tfoot on that path; a
    td/th is a cell when its parent is a row. A cell is placed on the grid
    when it opens (rowspan/colspan through ``_int_attr``, capped at
    MAX_SPAN; occupancy is recorded only for rowspan > 1) and opens a
    capture scope whose counters tee into the table's, the way a list item
    tees into its list. A cell past MAX_DEPTH is placed with text "". A
    nested table is plain content of its cell, and nothing under a table
    is reached.

    The tree parse + fold in tests/html_oracle.py is the reference; the
    stream-vs-tree property sweeps in tests/test_property.py and the frozen
    corpus in tests/test_table_corpus.py hold the two block-for-block and
    cell-for-cell identical. The hot paths (text feed, plain-frame
    open/close, tag bumps, item/cell close) are inlined in the main loop;
    the other reached and table-structure opens and closes, a handful per
    document, pay a function call."""
    out: list[Block] = []
    n = len(html)
    blockish_set = _BLOCKISH
    void_set = _VOID
    skip_set = _SKIP_CONTENT

    def emit_from(
        scope: list, category: str, text: str | None, cells: list | None = None
    ) -> None:
        total = scope[1]
        if total == 0:
            return
        if scope[2] / total > link_density_threshold:
            return
        tags = scope[3]
        if (
            category == "text"
            and tags >= tag_density_min_tags
            and tags > 0  # a tag-free block is never markup-heavy (min_tags=0 guard)
            and total / tags < tag_density_threshold
        ):
            return
        if text is None:
            text = " ".join(scope[0])
        if text:
            out.append(Block(category, text, cells or ()))

    # frame: [tag, role, scope_or_None, aux]
    #   aux: list -> its items' texts; item -> that same list;
    #        table -> grid [cells, row_number, next_col, occupied];
    #        cell -> its TableCell
    root_scope = _new_scope(True, 0)
    stack: list[list] = [["#root", _R_CONTAINER, root_scope, None]]
    scopes: list[list] = [root_scope]
    link_depth = 0
    grid: list = []  # the reached table's grid (at most one is open)

    def close_reached(frame: list) -> None:
        """Emission for a popped scope-owning frame."""
        role, scope, aux = frame[1], frame[2], frame[3]
        if role == _R_CONTAINER or role == _R_TEXT:
            emit_from(scope, "text", None)
        elif role == _R_TITLE:
            emit_from(scope, "title", None)
        elif role == _R_LIST:
            emit_from(scope, "list", "\n".join(t for t in aux if t))
        elif role == _R_ITEM:
            aux.append(" ".join(scope[0]))
        elif role == _R_CELL:
            aux.text = _cell_text(scope)
        else:  # _R_TABLE
            cells = aux[0]
            # cells are placed row-major / column-ascending, so one
            # consecutive-grouping walk builds the row lines; a row whose
            # cells are all empty still contributes its "" line
            row_texts: list[str] = []
            cur_row = None
            parts: list[str] = []
            for cl in cells:
                if cl.row_number != cur_row:
                    if cur_row is not None:
                        row_texts.append(" ".join(parts))
                    parts = []
                    cur_row = cl.row_number
                if cl.text:
                    parts.append(cl.text)
            if cur_row is not None:
                row_texts.append(" ".join(parts))
            emit_from(scope, "table", "\n".join(row_texts), cells)
        scopes.pop()
        if scopes:  # blockish-close boundary on whatever lies beneath
            scopes[-1][4] = False

    def open_reached(tag: str, parent: list) -> None:
        """Open a reached blockish element: push frame + scope."""
        nonlocal grid
        if tag in _HEADINGS:
            scope = _new_scope(True, link_depth)
            stack.append([tag, _R_TITLE, scope, None])
        elif tag == "p" or tag == "pre":
            scope = _new_scope(True, link_depth)
            stack.append([tag, _R_TEXT, scope, None])
        elif tag in _LISTS:
            scope = _new_scope(False, link_depth)
            stack.append([tag, _R_LIST, scope, []])
        elif tag == "table":
            scope = _new_scope(False, link_depth)
            grid = [[], 0, 1, None]
            stack.append([tag, _R_TABLE, scope, grid])
        elif parent[1] == _R_LIST:  # tag == "li"
            scope = _new_scope(True, link_depth, tee=True)
            stack.append([tag, _R_ITEM, scope, parent[3]])
        else:
            scope = _new_scope(True, link_depth)
            stack.append([tag, _R_CONTAINER, scope, None])
        scopes.append(scope)

    def open_table_part(tag: str, prole: int, rawattrs) -> bool:
        """Open a blockish child of a reached table, row group or row. True
        when it is a row group, row or cell (the table scope, on top here,
        counts it); False leaves it to the plain-element path."""
        if prole == _R_ROW:
            if tag != "td" and tag != "th":
                return False
            r, col, occupied = grid[1], grid[2], grid[3]
            if occupied:
                while (r, col) in occupied:
                    col += 1
            rs = cs = 1
            if rawattrs and "=" in rawattrs:
                attrs = _decode_attrs(rawattrs)
                rs = _int_attr(attrs, "rowspan")
                cs = _int_attr(attrs, "colspan")
                if rs > 1:
                    if occupied is None:
                        occupied = grid[3] = set()
                    for rr in range(r + 1, r + rs):
                        for cc in range(col, col + cs):
                            occupied.add((rr, cc))
            cell = TableCell("", r, col, rs, cs)
            grid[0].append(cell)
            grid[2] = col + cs
            scopes[-1][3] += 1
            if len(stack) < MAX_DEPTH:
                scope = _new_scope(True, link_depth, tee=True)
                stack.append([tag, _R_CELL, scope, cell])
                scopes.append(scope)
            return True
        if tag == "tr":
            grid[1] += 1  # a capped tr still numbers a (cell-less) row
            grid[2] = 1
            role = _R_ROW
        elif tag in _ROW_GROUPS:
            role = _R_GROUP
        else:
            return False
        scopes[-1][3] += 1
        if len(stack) < MAX_DEPTH:
            stack.append([tag, role, None, None])
        return True

    # Fused finditer drive: every char lands in exactly one match (tag /
    # comment / text-run / stray '<'), so there is no per-event search()
    # call. Consecutive text-branch matches (runs split at stray '<') BUFFER
    # into one pending run fed at the next non-text event: run boundaries
    # land exactly where the tree parser's text nodes do, which the
    # single-text-child cell rule depends on. The iterator restarts only
    # after a skip-content jump (<script>/<style>/<head>, a handful per
    # document). `top` caches scopes[-1]; every scope push/pop refreshes it.
    pos = 0
    scan_iter = _SCAN_RE.finditer
    top = root_scope
    pending: str | None = None
    while pos < n:
        jumped = False
        for m in scan_iter(html, pos):
            li = m.lastindex  # 4 = text branch, None = comment/PI, else tag
            if li == 4:
                t = m.group(4)
                pending = t if pending is None else pending + t
                continue
            if pending is not None:
                # ---- text feed (inlined hot path) ----
                txt = pending
                pending = None
                if "&" in txt:
                    txt = _unescape(txt)
                norm = collapse_ws(txt)
                chunk = norm.strip(" ")  # never .strip(): \xa0 is a word char
                if chunk:
                    k = len(chunk)
                    top[1] += k
                    if link_depth > top[5]:
                        top[2] += k
                    if top[6]:
                        chunks = top[0]
                        if top[4] and norm[0] != " " and chunks:
                            chunks[-1] += chunk  # continue the word across the seam
                        else:
                            chunks.append(chunk)
                    top[4] = norm[-1] != " "
                    if top[7]:  # capture: tee counters into the stats scope
                        s = scopes[-2]
                        s[1] += k
                        if link_depth > s[5]:
                            s[2] += k
                        top[8] += 1
                else:
                    if norm:  # pure whitespace: word boundary
                        top[4] = False
                    if top[7]:  # (an entity-only run can decode to "")
                        top[8] += 1
            if li is None:  # comment / declaration / processing instruction
                continue
            if li == 1:
                tag = m.group(1)
                if not tag.islower():
                    tag = tag.lower()
                # ---- close tag: well-nested fast path (top frame matches)
                f = stack[-1]
                if f[0] == tag and len(stack) > 1:
                    role = f[1]
                    if role >= _R_PLAIN:
                        if tag == "a":
                            link_depth -= 1
                        elif tag in blockish_set:
                            top[4] = False
                    elif role == _R_ITEM:
                        f[3].append(" ".join(top[0]))
                        scopes.pop()
                        top = scopes[-1]
                    elif role == _R_CELL:
                        f[3].text = _cell_text(top)
                        scopes.pop()
                        top = scopes[-1]
                    else:
                        close_reached(f)
                        top = scopes[-1]
                    stack.pop()
                    continue
                # ---- general close: pop to the matching frame, innermost-out
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i][0] == tag:
                        for j in range(len(stack) - 1, i - 1, -1):
                            f = stack[j]
                            if f[1] >= _R_PLAIN:  # inlined common case
                                ftag = f[0]
                                if ftag == "a":
                                    link_depth -= 1
                                elif ftag in blockish_set:
                                    scopes[-1][4] = False
                            else:
                                close_reached(f)
                        del stack[i:]
                        top = scopes[-1]
                        break
                continue
            # ---- open tag ----
            tag = m.group(2)
            if not tag.islower():
                tag = tag.lower()
            if tag in skip_set:
                # parse_html `continue`s BEFORE appending the node: script/
                # style elements exist in NO tree and count in NO stats
                close = html.find(f"</{tag}", m.end())
                if close < 0:
                    pos = n
                else:
                    gt = html.find(">", close)
                    pos = n if gt < 0 else gt + 1
                jumped = True
                break
            blockish = tag in blockish_set
            if blockish:
                parent = stack[-1]
                prole = parent[1]
                if prole == _R_CONTAINER or (prole == _R_LIST and tag == "li"):
                    # reached block child. A container's pending inline run
                    # flushes NOW (walk-commit instant); the child never counts.
                    if prole == _R_CONTAINER:
                        scope = parent[2]
                        if scope[1]:
                            emit_from(scope, "text", None)
                            scope = parent[2] = _new_scope(True, link_depth)
                            scopes[-1] = scope
                            top = scope
                        elif scope[0] or scope[3] or scope[4]:
                            scope[0] = []
                            scope[1] = scope[2] = scope[3] = 0
                            scope[4] = False
                    if len(stack) < MAX_DEPTH:
                        open_reached(tag, parent)
                        top = scopes[-1]
                    continue  # past the cap: childless in the tree -> emits nothing
                if (prole == _R_TABLE or prole >= _R_GROUP) and open_table_part(
                    tag, prole, m.group(3)
                ):
                    top = scopes[-1]
                    continue
            # ---- plain element (inline, unreached blockish, table guts) ----
            top[3] += 1
            if top[7]:
                scopes[-2][3] += 1
            if tag == "br":  # the "\n" text node is pure whitespace: boundary
                top[4] = False
                continue
            if tag in void_set:
                continue
            if len(stack) < MAX_DEPTH:
                stack.append([tag, _R_PLAIN, None, None])
                if tag == "a":
                    link_depth += 1
            elif blockish:
                top[4] = False
            continue
        if not jumped:
            break
    if pending is not None:
        # trailing text after the last tag event (cold path: once per doc at
        # most; same feed semantics as the inlined loop body)
        norm = collapse_ws(_unescape(pending) if "&" in pending else pending)
        chunk = norm.strip(" ")
        if chunk:
            k = len(chunk)
            top[1] += k
            if link_depth > top[5]:
                top[2] += k
            if top[6]:
                if top[4] and norm[0] != " " and top[0]:
                    top[0][-1] += chunk
                else:
                    top[0].append(chunk)
            if top[7]:
                s = scopes[-2]
                s[1] += k
                if link_depth > s[5]:
                    s[2] += k
        if top[7]:
            top[8] += 1
    # EOF: close every open frame innermost-out; the root frame flushes its
    # final pending run (the tree walk's trailing anonymous block)
    for f in reversed(stack):
        if f[1] < _R_PLAIN:
            close_reached(f)
    return out


def _cell_text(scope: list) -> str:
    """A cell's text. A cell whose only child is one text node is normalized
    with ``normalize_ws``, whose ``str.strip()`` also trims edge Unicode
    whitespace (\xa0) that the chunk join keeps everywhere else."""
    text = " ".join(scope[0])
    if scope[8] == 1 and not scope[3]:
        return text.strip()
    return text
