"""Correctness gate: the program's output against DuckDB oracles.

Every check reduces both sides to rows of ``(k, h, w)``: a key, a digest
of the row's content, and the number of turns the row stands for. The two
sides are compared as multisets of ``(k, h)``; a turn fails if its row is
missing, duplicated or different. A different row shows up once as missing
and once as extra, so the failed-turn count is the larger of the two sums.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deepdoctection_spark.plans.oracles import oracle_extract_spans, oracle_extract_text

_US = "chr(31)"  # field separator inside a digest (never in payload text)


def _s(c) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("string")


def _count_cols() -> list[Column]:
    """Per-turn counts the gate pass also reports as layer counts."""
    return [
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.size("words").cast("long").alias("n_words"),
        F.col("error"),
    ]


def extraction_digest(extracted: DataFrame) -> DataFrame:
    """Spark side of the extraction gate: one ``(k, h, w)`` row per output
    turn, ``h`` = md5 over turn_idx, extracted_text, n_blocks and blocks."""
    blocks = F.array_join(
        F.transform(
            "blocks",
            lambda b: F.concat_ws(
                ",", b["span_id"], b["category"], _s(b["span_begin"]),
                _s(b["span_end"]), _s(b["reading_order"]),
            ),
        ),
        ";",
    )
    return extracted.select(
        F.concat_ws("/", "conv_id", _s("turn_idx")).alias("k"),
        F.md5(
            F.concat_ws("\x1f", _s("turn_idx"), "extracted_text", _s("n_blocks"), blocks)
        ).alias("h"),
        F.lit(1).cast("long").alias("w"),
        *_count_cols(),
    )


def extraction_oracle(con: duckdb.DuckDBPyConnection) -> pa.Table:
    """DuckDB side: the same rows, from the template ground truth in
    ``plans/oracles.py`` over the ``documents`` table registered on ``con``."""
    return con.sql(
        f"""
        WITH t AS ({oracle_extract_text()}),
             s AS ({oracle_extract_spans()}),
             b AS (
               SELECT conv_id, turn_idx,
                      string_agg(concat_ws(',', span_id, category, span_begin::VARCHAR,
                                           span_end::VARCHAR, reading_order::VARCHAR),
                                 ';' ORDER BY reading_order) AS blocks
               FROM s GROUP BY conv_id, turn_idx)
        SELECT t.conv_id || '/' || t.turn_idx::VARCHAR AS k,
               md5(concat_ws({_US}, t.turn_idx::VARCHAR, t.extracted_text,
                             t.n_blocks::VARCHAR, coalesce(b.blocks, ''))) AS h,
               1::BIGINT AS w
        FROM t LEFT JOIN b USING (conv_id, turn_idx)
        """
    ).arrow()


def reassembly_digest(convs: DataFrame) -> DataFrame:
    """Spark side of the reassembly gate: one row per conversation."""
    return convs.select(
        F.col("conv_id").alias("k"),
        F.md5(F.concat_ws("\x1f", _s("n_turns"), "conv_text")).alias("h"),
        F.col("n_turns").cast("long").alias("w"),
    )


def reassembly_oracle(con: duckdb.DuckDBPyConnection, turns: str) -> pa.Table:
    """DuckDB ``string_agg(extracted_text ORDER BY turn_idx)`` per
    conversation over the pre-extracted turns in table ``turns``."""
    return con.sql(
        f"""
        SELECT conv_id AS k,
               md5(count(*)::VARCHAR || {_US} ||
                   string_agg(extracted_text, chr(10) || chr(10) ORDER BY turn_idx)) AS h,
               count(*)::BIGINT AS w
        FROM {turns} GROUP BY conv_id
        """
    ).arrow()


def resumable_digest(loaded: DataFrame) -> DataFrame:
    """Spark side of the resume gate: a committed row is its text, or its
    error class if it was quarantined."""
    canon = F.when(
        F.col("error").isNull(), F.col("extracted_text")
    ).otherwise(F.concat(F.lit("ERR:"), F.substring_index("error", ":", 1)))
    return loaded.select(
        F.concat_ws("/", "conv_id", F.coalesce(_s("turn_idx"), F.lit("null"))).alias("k"),
        F.md5(canon).alias("h"),
        F.lit(1).cast("long").alias("w"),
        *_count_cols(),
    )


def resumable_oracle(con: duckdb.DuckDBPyConnection, inputs: str) -> pa.Table:
    """Expected committed rows for the input turns in table ``inputs``: a
    plain-text turn extracts to its whitespace-normalised text; a turn with
    a null ``turn_idx`` is quarantined with a ``TypeError``."""
    return con.sql(
        f"""
        SELECT conv_id || '/' || coalesce(turn_idx::VARCHAR, 'null') AS k,
               md5(CASE WHEN turn_idx IS NULL THEN 'ERR:TypeError'
                        ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) END) AS h,
               1::BIGINT AS w
        FROM {inputs}
        """
    ).arrow()


def failed_turns(expected: pa.Table, actual: pa.Table) -> int:
    """Turns that are missing, duplicated or different in ``actual``."""
    con = duckdb.connect()
    try:
        con.register("e_in", expected.select(["k", "h", "w"]))
        con.register("a_in", actual.select(["k", "h", "w"]))
        missing, extra = con.sql(
            """
            WITH e AS (SELECT k, h, count(*) AS n, max(w) AS w FROM e_in GROUP BY k, h),
                 a AS (SELECT k, h, count(*) AS n, max(w) AS w FROM a_in GROUP BY k, h)
            SELECT coalesce(sum(greatest(coalesce(e.n, 0) - coalesce(a.n, 0), 0)
                                * coalesce(e.w, 0)), 0),
                   coalesce(sum(greatest(coalesce(a.n, 0) - coalesce(e.n, 0), 0)
                                * coalesce(a.w, 0)), 0)
            FROM e FULL OUTER JOIN a
              ON e.k IS NOT DISTINCT FROM a.k AND e.h = a.h
            """
        ).fetchone()
    finally:
        con.close()
    return int(max(missing, extra))
