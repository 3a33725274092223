"""DuckDB oracle SQL for the extraction query family.

The oracle never parses payloads: it reconstructs the EXPECTED extraction
output directly from the template ground truth (sources/transcripts.py piece
lists) with pure SQL string/length arithmetic. The Spark side must arrive at
the same result by actually parsing the synthesized payload with the real
kernels — so agreement is a genuine end-to-end correctness check of the
parsers, offsets, ids, and ordering (the analogue of the reference's golden
analyzer tests, /root/reference/tests/analyzer/test_dd.py:95-196).
"""

from __future__ import annotations

from deepdoctection_spark.sources.transcripts import (
    EXPECTED_BLOCKS,
    EXPECTED_CELLS,
    TRANSCRIPT_BASE_SQL,
    Lit,
    sql_concat,
    sql_len,
)

_MOD_OF_TOOL = {"": 0, "browser": 1, "pdf_reader": 2}


def _extracted_text_sql(tool: str) -> str:
    """Expected extracted_text for a tool: block strings joined by \n."""
    pieces: list[Lit] = []
    for i, (_cat, bp) in enumerate(EXPECTED_BLOCKS[tool]):
        if i:
            pieces.append(("lit", "\n"))
        pieces.extend(bp)
    return sql_concat(pieces)


def _extracted_text_case() -> str:
    return (
        "CASE (doc_id % 3) "
        f"WHEN 0 THEN {_extracted_text_sql('')} "
        f"WHEN 1 THEN {_extracted_text_sql('browser')} "
        f"ELSE {_extracted_text_sql('pdf_reader')} END"
    )


def _cells_by_row() -> list[tuple[int, list[tuple[int, list[Lit]]]]]:
    """EXPECTED_CELLS grouped into (row, [(col, pieces)...]) in grid order —
    shared by the cells and HTML oracles so the two can never disagree about
    the same table."""
    rows: dict[int, list[tuple[int, list[Lit]]]] = {}
    for r, c, pieces in EXPECTED_CELLS:
        rows.setdefault(r, []).append((c, pieces))
    return [(r, sorted(rows[r], key=lambda x: x[0])) for r in sorted(rows)]


def _span_id_sql(cat_sql: str, begin_sql: str, end_sql: str) -> str:
    return (
        "md5(conv_id || '|' || turn_idx || '|' || "
        f"{cat_sql} || '|' || ({begin_sql}) || '|' || ({end_sql}))"
    )


def block_geometry():
    """Yield (mod, k, cat, begin_sql, end_sql, len_sql) per template block:
    the ``doc_id % 3`` class of its tool, its reading order, its category,
    and its offsets in the extracted text as SQL arithmetic (block k starts
    after the pieces of the blocks before it plus k '\\n' separators)."""
    for tool, blocks in EXPECTED_BLOCKS.items():
        mod = _MOD_OF_TOOL[tool]
        prefix: list[Lit] = []  # pieces of all preceding blocks
        for k, (cat, bp) in enumerate(blocks):
            begin = sql_len(prefix) + (f" + {k}" if k else "")
            length = sql_len(bp)
            yield mod, k, cat, begin, f"({begin}) + ({length})", length
            prefix = prefix + bp


def _span_select(k: int, cat: str, begin: str, end: str) -> str:
    return (
        f"SELECT conv_id, turn_idx, "
        f"{_span_id_sql(repr(cat), begin, end)} AS span_id, "
        f"'{cat}' AS category, ({begin})::INT AS span_begin, "
        f"({end})::INT AS span_end, {k}::INT AS reading_order FROM base"
    )


def oracle_extract_text() -> str:
    n_blocks = {t: len(b) for t, b in EXPECTED_BLOCKS.items()}
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL})
SELECT conv_id, turn_idx, role, tool,
       {_extracted_text_case()} AS extracted_text,
       (CASE (doc_id % 3) WHEN 0 THEN {n_blocks['']} WHEN 1 THEN {n_blocks['browser']}
        ELSE {n_blocks['pdf_reader']} END)::INT AS n_blocks
FROM base
"""


def oracle_extract_spans() -> str:
    selects = [
        f"{_span_select(k, cat, begin, end)} WHERE (doc_id % 3) = {mod}"
        for mod, k, cat, begin, end, _len in block_geometry()
    ]
    union = "\nUNION ALL\n".join(selects)
    return f"WITH base AS ({TRANSCRIPT_BASE_SQL})\n{union}"


def oracle_table_cells() -> str:
    """Cells exist only on browser turns; the table is the last block."""
    begin, end = next((b, e) for mod, _k, cat, b, e, _len in block_geometry()
                      if mod == _MOD_OF_TOOL["browser"] and cat == "table")
    tbl_begin = f"({begin})"
    parent_id = _span_id_sql("'table'", tbl_begin, f"({end})")

    # within-block cell offsets: rows joined by \n, cells by ' '
    selects = []
    inner: list[Lit] = []  # pieces preceding current cell inside the block
    for r, row_cells in _cells_by_row():
        for j, (c, pieces) in enumerate(row_cells):
            cb = f"({tbl_begin} + {sql_len(inner) if inner else '0'})"
            ce = f"({cb} + ({sql_len(pieces)}))"
            cell_sid = _span_id_sql("'cell'", cb, ce)
            selects.append(
                f"SELECT conv_id, turn_idx, "
                f"{cell_sid} AS span_id, "
                f"({cb})::INT AS span_begin, ({ce})::INT AS span_end, "
                f"{r}::INT AS row_number, {c}::INT AS column_number, "
                f"1::INT AS row_span, 1::INT AS column_span, "
                f"{parent_id} AS parent_id, {sql_concat(pieces)} AS cell_text "
                f"FROM base WHERE (doc_id % 3) = 1"
            )
            inner = inner + pieces + [("lit", " ")]
        inner = inner[:-1] + [("lit", "\n")]  # row join is \n not space
    union = "\nUNION ALL\n".join(selects)
    return f"WITH base AS ({TRANSCRIPT_BASE_SQL})\n{union}"


def oracle_word_tokens() -> str:
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (SELECT conv_id, turn_idx, {_extracted_text_case()} AS t FROM base),
toks AS (
  SELECT conv_id, turn_idx,
         unnest(string_split_regex(t, '[ \n]')) AS token,
         unnest(range(len(string_split_regex(t, '[ \n]')))) AS i
  FROM et
),
pos AS (
  SELECT conv_id, turn_idx, token, i,
         sum(length(token) + 1) OVER (
           PARTITION BY conv_id, turn_idx ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM toks
)
SELECT conv_id, turn_idx,
       -- word_idx numbers NON-EMPTY tokens (the kernel enumerates regex
       -- matches only); empty split elements from adjacent separators must
       -- consume offsets (cum) but not indices
       (row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY i) - 1)::INT
         AS word_idx,
       token,
       (cum - length(token) - 1)::INT AS span_begin,
       (cum - 1)::INT AS span_end
FROM pos WHERE length(token) > 0
"""


def oracle_conversation_text() -> str:
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (SELECT conv_id, turn_idx, {_extracted_text_case()} AS t FROM base)
SELECT conv_id, count(*)::BIGINT AS n_turns,
       string_agg(t, chr(10) || chr(10) ORDER BY turn_idx) AS conv_text
FROM et GROUP BY conv_id
"""


def oracle_table_html() -> str:
    cells_html: list[Lit] = [("lit", "<table>")]
    for _r, row_cells in _cells_by_row():
        cells_html.append(("lit", "<tr>"))
        for _c, pieces in row_cells:
            cells_html.append(("lit", "<td>"))
            cells_html.extend(pieces)
            cells_html.append(("lit", "</td>"))
        cells_html.append(("lit", "</tr>"))
    cells_html.append(("lit", "</table>"))
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL})
SELECT conv_id, turn_idx, {sql_concat(cells_html)} AS table_html
FROM base WHERE (doc_id % 3) = 1
"""


def oracle_pdf_layout_spans() -> str:
    """Expected spans for the REAL-PDF layout path: every document gets one
    pdf_reader turn (conv_id = 'pdfconv-%06d', turn_idx = 0) whose payload
    is the PDFISH template rendered → encoded as genuine PDF bytes → parsed
    back by the stdlib codec → segmented by the layout kernels. The expected
    spans are therefore exactly the pdf_reader branch of
    oracle_extract_spans over the all-docs base."""
    base = """
  SELECT doc_id, text, lang, source,
         printf('pdfconv-%06d', doc_id) AS conv_id, 0::INT AS turn_idx
  FROM documents
"""
    selects = [
        _span_select(k, cat, begin, end)
        for mod, k, cat, begin, end, _len in block_geometry()
        if mod == _MOD_OF_TOOL["pdf_reader"]
    ]
    union = "\nUNION ALL\n".join(selects)
    return f"WITH base AS ({base})\n{union}"


def oracle_session_assembly(
    gap_s: int = 300, wm_s: int = 600,
    stretch_every: int = 5, stretch_s: int = 600,
) -> str:
    """Expected output of the STREAMING session-gap assembly — the
    previously rows-only-checked query, now value-checked.

    The streaming semantics are deterministic for a bounded availableNow
    run that ingests in one data batch (no maxFilesPerTrigger): the single
    data batch runs at watermark 0 (accumulate only), then the final batch
    advances the watermark to ``global_max_ts - wm_s`` and fires the
    event-time timers — a conversation's state flushes iff its timeout
    horizon ``conv_max_ts + gap_s`` lies strictly below that watermark
    (millisecond space, Spark's GroupState timer comparison), and the flush
    emits ALL its sessions, split where consecutive event times are more
    than ``gap_s`` apart, each session's text joined by blank lines in
    turn_idx order. All of that is plain SQL over the template ground truth:
    ts is synthesized from doc_id (whole seconds), and the query stretches
    it by ``stretch_s`` every ``stretch_every`` turns (mirrored here) so
    the gap-split path is actually exercised, not vacuous."""
    from deepdoctection_spark.sources.transcripts import EPOCH_2024

    gap_us = gap_s * 1_000_000
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
t AS (
  SELECT conv_id, turn_idx,
         ({EPOCH_2024}::BIGINT + doc_id * 30
          + (turn_idx // {stretch_every}) * {stretch_s}) * 1000000 AS ts_us,
         {_extracted_text_case()} AS text
  FROM base
),
closed AS (
  SELECT conv_id FROM t GROUP BY conv_id
  HAVING max(ts_us) // 1000 + {gap_s * 1000}
         < (SELECT max(ts_us) FROM t) // 1000 - {wm_s * 1000}
),
g AS (
  SELECT t.*,
         CASE WHEN ts_us - lag(ts_us) OVER (
                PARTITION BY t.conv_id ORDER BY ts_us, turn_idx)
              > {gap_us} THEN 1 ELSE 0 END AS brk
  FROM t JOIN closed USING (conv_id)
),
s AS (
  SELECT *, SUM(brk) OVER (
      PARTITION BY conv_id ORDER BY ts_us, turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
)
SELECT conv_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       COUNT(*) AS n_turns,
       STRING_AGG(text, chr(10) || chr(10) ORDER BY turn_idx) AS conv_text
FROM s
GROUP BY conv_id, sess
"""
