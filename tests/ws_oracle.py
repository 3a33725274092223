"""The text contract's whitespace rule, written out for the test references.

Every ASCII whitespace run becomes one space (``collapse``), and a block is
then stripped (``normalize``). The package's ``kernels.textnorm`` skips the
regex on text it cannot change; the references here always run it, so the
stream-vs-tree and fused-vs-unfused sweeps never compare that fast path with
itself.
"""

from __future__ import annotations

import re

WS_RE = re.compile(r"[ \t\r\n\f\v]+")


def collapse(s: str) -> str:
    return WS_RE.sub(" ", s)


def normalize(s: str) -> str:
    return collapse(s).strip()
