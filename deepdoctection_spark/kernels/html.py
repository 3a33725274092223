"""HTML main-content extraction: DOM walk + tag/link-density boilerplate strip.

This is the transcript-payload analogue of the reference's layout-detection +
matching + NMS chain (/root/reference/deepdoctection/pipe/layout.py:37-121,
pipe/common.py:76-168, 239-301): instead of a vision model proposing pixel
blocks that are then filtered by score/NMS, a DOM walk proposes candidate
blocks (headings, paragraphs, lists, tables, leaf containers) that are then
filtered by a readability-style link-density heuristic — a block whose text is
mostly anchor text is boilerplate (nav / footer / sidebar) and is dropped.

Output categories follow the reference's LayoutType enum
(/root/reference/deepdoctection/utils/settings.py:105-131):
title | text | list | table (+ cell sub-structures from kernels/table.py).
"""

from __future__ import annotations

import re
import types
from html import unescape as _unescape

from deepdoctection_spark.kernels.table import Block, TableCell, segment_table_grid
from deepdoctection_spark.kernels.textnorm import _WS_RE

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
# branch, and the word-seam feed rules make split text chunks equivalent to
# the old between-match slices (property-tested vs the tree fold).
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
        access. Only td/th (row/col spans) and TEDS ever read attrs, so the
        parse-time findall + dict build for every nav anchor / id'd div was
        pure waste in the hot path — the raw substring is kept instead and
        decoded here once, memoized. Value semantics are unchanged
        (lowercased names, quote-strip, entity decode gated on '&')."""
        a = self._attrs
        if a is None:
            raw = self._raw
            if raw:
                a = {
                    k.lower(): (
                        _unescape(sv) if "&" in (sv := v.strip("\"'")) else sv
                    )
                    for k, v in _ATTR_RE.findall(raw)
                }
            self._attrs = a = a or _NO_ATTRS
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


def looks_like_html(text: str) -> bool:
    return "<" in text and _TAG_RE.search(text) is not None


# ---------------------------------------------------------------------------
# Streaming single-pass extractor (round 4): same output as the tree fold
# ---------------------------------------------------------------------------

# Scope list indices (plain lists, not objects — the hot loop touches these
# per text node and per tag; attribute-protocol overhead on a slotted class
# measured ~15% of the whole kernel in the tree version).
_S_WORDS, _S_TOTAL, _S_LINKED, _S_TAGS, _S_OPENW, _S_LINKBASE, _S_WANT, _S_ITEM = (
    range(8)
)

# Frame roles
_R_CONTAINER = 0  # reached container: direct blockish children become blocks
_R_TITLE = 1      # reached heading
_R_TEXT = 2       # reached p / pre
_R_LIST = 3       # reached ul/ol: stats scope + per-li text captures
_R_ITEM = 4       # direct li child of a reached list (capture, tees to list)
_R_TABLE = 5      # reached table: stats scope + materialized subtree
_R_PLAIN = 6      # everything else (inline, non-reached blockish, table guts)




def _new_scope(want_text: bool, link_base: int, is_item: bool = False) -> list:
    # [words, total, linked, tags, open_word, link_base, want_text, is_item]
    return [[], 0, 0, 0, False, link_base, want_text, is_item]


def extract_blocks_stream(
    html: str,
    link_density_threshold: float = 0.5,
    tag_density_threshold: float = 8.0,
    tag_density_min_tags: int = 3,
) -> list[Block]:
    """Single-pass streaming equivalent of :func:`extract_blocks`: lexer,
    density-stats gather, and block walk FUSED into one scan — no element
    tree is materialized except under a reached ``<table>`` (whose grid
    segmentation genuinely needs the subtree). Output is block-for-block
    identical to the tree fold; the permanent property test
    (tests/test_property.py::test_stream_matches_tree_extractor) and the
    template/golden oracles enforce it.

    Mechanics: the frame stack mirrors parse_html's element stack exactly
    (same MAX_DEPTH cap, skip-content fast-skip, auto-close, void and
    entity handling — tolerant parsing is decision-identical), and a
    parallel SCOPE stack accumulates (words, total, linked, tags,
    open_word) for the innermost emission scope. Blocks emit at element
    CLOSE; a container's pending inline run flushes as an anonymous text
    block the instant its first blockish direct child OPENS (the same
    instant the tree version commits to walking the container). Word-seam,
    blockish-boundary (post-order), and link/tag-density rules are the
    _gather_text semantics verbatim; li captures TEE into their list's
    stats scope — the one case with two live scopes per event. The hot
    paths (text feed, plain-frame open/close, tag bumps) are inlined in
    the main loop; only reached-element open/close — a handful per
    document — pays a function call."""
    out: list[Block] = []
    split = _WS_RE.split
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
    #   aux: list frames -> item-text list; table frames -> root Node
    root_scope = _new_scope(True, 0)
    stack: list[list] = [["#root", _R_CONTAINER, root_scope, None]]
    scopes: list[list] = [root_scope]
    link_depth = 0
    table_depth = 0
    node_stack: list[Node] = []  # materialization pointers inside a table

    def close_reached(frame: list) -> None:
        """Emission for a popped reached frame (rare: a few per document)."""
        nonlocal table_depth
        role, scope, aux = frame[1], frame[2], frame[3]
        if role == _R_CONTAINER or role == _R_TEXT:
            emit_from(scope, "text", None)
        elif role == _R_TITLE:
            emit_from(scope, "title", None)
        elif role == _R_LIST:
            emit_from(scope, "list", "\n".join(t for t in aux if t))
        elif role == _R_ITEM:
            aux.append(" ".join(scope[0]))  # aux = parent list's item texts
        else:  # _R_TABLE
            table_depth -= 1
            node_stack.pop()
            cells = segment_table_grid(aux)
            # segment_table_grid emits row-major / column-ascending (rows
            # enumerate top-down, col only increases within a row), so one
            # consecutive-grouping walk replaces the dict + two sorts; a row
            # whose cells are all empty still contributes its "" line
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
            text = "\n".join(row_texts)
            emit_from(scope, "table", text, cells)
        scopes.pop()
        if scopes:  # blockish-close boundary on whatever lies beneath
            top = scopes[-1]
            top[4] = False
            if top[7]:
                scopes[-2][4] = False

    def open_reached(tag: str, parent: list, rawattrs) -> None:
        """Open a reached blockish element (rare): push frame + scope."""
        nonlocal table_depth, link_depth
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
            if rawattrs and "=" in rawattrs:
                tnode = Node(tag, _raw=rawattrs)
            else:
                tnode = Node(tag, attrs=_NO_ATTRS)
            stack.append([tag, _R_TABLE, scope, tnode])
            node_stack.append(tnode)
            table_depth += 1
        elif parent[1] == _R_LIST:  # tag == "li"
            scope = _new_scope(True, link_depth, is_item=True)
            stack.append([tag, _R_ITEM, scope, parent[3]])
        else:
            scope = _new_scope(True, link_depth)
            stack.append([tag, _R_CONTAINER, scope, None])
        scopes.append(scope)

    # Fused finditer drive: every char lands in exactly one match (tag /
    # comment / text-run / stray '<'), so there is no per-event search()
    # call. Consecutive text-branch matches (runs split at stray '<') BUFFER
    # into one pending chunk fed at the next non-text event — chunk
    # boundaries land exactly where the tree parser's between-match slices
    # do, which the total/stripped char count is sensitive to (inter-chunk
    # whitespace gaps are never counted, so boundaries must agree). The
    # iterator restarts only after a skip-content jump (<script>/<style>/
    # <head> — a handful per document). `top` caches scopes[-1]; every scope
    # push/pop refreshes it.
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
                # ---- text feed (inlined hot path; _gather_text seam rules)
                txt = pending
                pending = None
                if "&" in txt:
                    txt = _unescape(txt)
                if table_depth:
                    node_stack[-1].children.append(Node("", text=txt))
                # _WS_RE.split collapses runs: only the FIRST and LAST piece
                # can be empty — no filter pass needed
                pieces = split(txt)
                np_ = len(pieces)
                a = 0 if pieces[0] else 1
                b = np_ if (np_ == 1 or pieces[-1]) else np_ - 1
                if a >= b:
                    if np_ > 1:  # pure whitespace: word boundary
                        top[4] = False
                        if top[7]:
                            scopes[-2][4] = False
                else:
                    stripped = sum(map(len, pieces)) + (b - a) - 1
                    last_open = b == np_
                    top[1] += stripped
                    if link_depth > top[5]:
                        top[2] += stripped
                    if top[6]:
                        words = top[0]
                        if top[4] and a == 0 and words:
                            words[-1] += pieces[0]
                            words.extend(pieces[1:b])
                        else:
                            words.extend(pieces[a:b])
                    top[4] = last_open
                    if top[7]:  # li capture: tee counters into the list scope
                        s = scopes[-2]
                        s[1] += stripped
                        if link_depth > s[5]:
                            s[2] += stripped
                        s[4] = last_open
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
                    if role == _R_PLAIN:
                        if table_depth:
                            node_stack.pop()
                        if tag == "a":
                            link_depth -= 1
                        if tag in blockish_set:
                            top[4] = False
                            if top[7]:
                                scopes[-2][4] = False
                    elif role == _R_ITEM:
                        # inlined close_reached item case (the most frequent
                        # reached close): capture tees into the parent list
                        scope = f[2]
                        f[3].append(" ".join(scope[0]))
                        scopes.pop()
                        top = scopes[-1]
                        top[4] = False
                        if top[7]:
                            scopes[-2][4] = False
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
                            if f[1] == _R_PLAIN:  # inlined common case
                                ftag = f[0]
                                if table_depth:
                                    node_stack.pop()
                                if ftag == "a":
                                    link_depth -= 1
                                if ftag in blockish_set:
                                    top = scopes[-1]
                                    top[4] = False
                                    if top[7]:
                                        scopes[-2][4] = False
                            else:
                                close_reached(f)
                        del stack[i:]
                        top = scopes[-1]
                        break
                continue
            # ---- open tag ---- (attrs tail fetched lazily: only the table
            # materialization paths read it)
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
            parent = stack[-1]
            blockish = tag in blockish_set
            prole = parent[1]
            if (
                blockish
                and not table_depth
                and (prole == _R_CONTAINER or (prole == _R_LIST and tag == "li"))
            ):
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
                    open_reached(
                        tag, parent, m.group(3) if tag == "table" else None
                    )
                    top = scopes[-1]
                continue  # past the cap: childless in the tree -> emits nothing
            # ---- plain element (inline, non-reached blockish, table guts) --
            top[3] += 1
            if top[7]:
                scopes[-2][3] += 1
            if table_depth:
                rawattrs = m.group(3)
                if rawattrs and "=" in rawattrs:
                    node = Node(tag, _raw=rawattrs)
                else:
                    node = Node(tag, attrs=_NO_ATTRS)
                node_stack[-1].children.append(node)
                if tag == "br":
                    node_stack[-1].children.append(Node("", text="\n"))
                    top[4] = False
                    if top[7]:
                        scopes[-2][4] = False
                    continue
                if tag in void_set:
                    continue
                if len(stack) < MAX_DEPTH:
                    stack.append([tag, _R_PLAIN, None, None])
                    node_stack.append(node)
                    if tag == "a":
                        link_depth += 1
                elif blockish:
                    top[4] = False
                    if top[7]:
                        scopes[-2][4] = False
                continue
            if tag == "br":  # the "\n" text node is pure whitespace: boundary
                top[4] = False
                if top[7]:
                    scopes[-2][4] = False
                continue
            if tag in void_set:
                continue
            if len(stack) < MAX_DEPTH:
                stack.append([tag, _R_PLAIN, None, None])
                if tag == "a":
                    link_depth += 1
            elif blockish:
                top[4] = False
                if top[7]:
                    scopes[-2][4] = False
            continue
        if not jumped:
            break
    if pending is not None:
        # trailing text after the last tag event (cold path: once per doc at
        # most; same feed semantics as the inlined loop body)
        txt = pending
        if "&" in txt:
            txt = _unescape(txt)
        if table_depth:
            node_stack[-1].children.append(Node("", text=txt))
        top = scopes[-1]
        pieces = split(txt)
        np_ = len(pieces)
        a = 0 if pieces[0] else 1
        b = np_ if (np_ == 1 or pieces[-1]) else np_ - 1
        if a >= b:
            if np_ > 1:
                top[4] = False
                if top[7]:
                    scopes[-2][4] = False
        else:
            stripped = sum(map(len, pieces)) + (b - a) - 1
            last_open = b == np_
            top[1] += stripped
            if link_depth > top[5]:
                top[2] += stripped
            if top[6]:
                words = top[0]
                if top[4] and a == 0 and words:
                    words[-1] += pieces[0]
                    words.extend(pieces[1:b])
                else:
                    words.extend(pieces[a:b])
            top[4] = last_open
            if top[7]:
                s = scopes[-2]
                s[1] += stripped
                if link_depth > s[5]:
                    s[2] += stripped
                s[4] = last_open
    # EOF: close every open frame innermost-out; the root frame flushes its
    # final pending run (identical to walk(root)'s trailing flush())
    for j in range(len(stack) - 1, -1, -1):
        f = stack[j]
        if f[1] == _R_PLAIN:
            ftag = f[0]
            if table_depth:
                node_stack.pop()
            if ftag == "a":
                link_depth -= 1
            if ftag in blockish_set:
                top = scopes[-1]
                top[4] = False
                if top[7]:
                    scopes[-2][4] = False
        else:
            close_reached(f)
    return out
