"""Whitespace normalization + word tokenization with char offsets.

Pin-once text contract (SURVEY.md §7 "hard parts" #1): within a block, runs of
whitespace collapse to a single space and the block is stripped; blocks join
with a single "\n". This mirrors the reference's Page._make_text policy
(/root/reference/deepdoctection/datapoint/view.py:665-671): words joined by
single spaces, floating blocks joined by line breaks.
"""

from __future__ import annotations

import re

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")


def normalize_ws(text: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return _WS_RE.sub(" ", text).strip()


def word_spans(extracted_text: str) -> list[tuple[int, str, int, int]]:
    """(word_idx, token, begin, end) over the extracted text.

    Tokens are maximal runs of non-separator chars; separators are the two
    chars the text contract emits (space within block, \n between blocks).
    Equivalent SQL: unnest(string_split_regex(t, '[ \n]')) with a running
    length sum — the DuckDB oracle reproduces offsets that way.

    Implemented as a C-level split + running offset (≈5× the regex finditer
    it replaces — this is the hottest tokenizer in the extraction stage);
    empty fragments from separator runs are skipped, so the output is
    identical to `[^ \n]+` finditer on ANY input, contract-shaped or not.
    """
    out = []
    pos = 0
    i = 0
    for tok in extracted_text.replace("\n", " ").split(" "):
        if tok:
            out.append((i, tok, pos, pos + len(tok)))
            i += 1
        pos += len(tok) + 1
    return out

