"""Row-level quarantine for flat-column Arrow stages.

The engine's fault-tolerance contract (the reference's MappingContextManager,
/root/reference/deepdoctection/mapper/maputils.py:41-110): one poison row
must never fail the task. The extraction stage records failures in an
``error`` column; downstream derived stages (matching/NMS, refinement,
pubtables) consume data that is well-formed by construction, so their
contract is the reference's other mode — log-and-DROP: on any per-row
failure, roll back the row's partially-appended outputs and continue.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

_log = logging.getLogger(__name__)


@contextmanager
def row_guard(cols: list[list], row_key: object = None):
    """Append-rollback guard: on exception, truncate every output column
    back to its length at entry (dropping the failed row's partial output)
    and swallow the error after logging."""
    marks = [len(c) for c in cols]
    try:
        yield
    except Exception as exc:  # quarantine: drop the row, never throw
        for c, m in zip(cols, marks):
            del c[m:]
        _log.warning("row quarantined (dropped) key=%r: %s", row_key, exc)
