r"""Whitespace normalization + word tokenization with char offsets.

Pin-once text contract (SURVEY.md §7 "hard parts" #1): within a block, runs of
whitespace collapse to a single space and the block is stripped; blocks join
with a single "\n". This mirrors the reference's Page._make_text policy
(/root/reference/deepdoctection/datapoint/view.py:665-671): words joined by
single spaces, floating blocks joined by line breaks.

``collapse_ws`` is the one whitespace collapse every decoder uses: a run of
``[ \t\r\n\f\v]`` becomes one space. It returns its input unchanged when
the input holds none of ``\t \n \r \f \v`` and no two consecutive spaces,
which are exactly the strings that collapse cannot change; only the others
pay the regex. Other Unicode whitespace (``\xa0``, ``\u2028``, ...) is a
word character here.
"""

from __future__ import annotations

import re

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")


def collapse_ws(s: str) -> str:
    """Collapse every ASCII whitespace run to a single space. Single-spaced
    text, the common case, is returned as is: the regex would replace each
    space with an identical one, at ~10x the cost of these six tests."""
    if "  " in s or "\t" in s or "\n" in s or "\r" in s or "\f" in s or "\v" in s:
        return _WS_RE.sub(" ", s)
    return s


def normalize_ws(text: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return collapse_ws(text).strip()


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

