"""Engine invariants (SURVEY.md §5): deterministic results under any physical
parallelism, salted-vs-unsalted equivalence, and plan-shape guarantees
(pushdown / broadcast / narrow extraction) asserted on the optimized plans.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from deepdoctection_spark.operators.extraction import extract_transcripts
from deepdoctection_spark.operators.reassembly import reassemble_conversations
from deepdoctection_spark.sources.transcripts import TURNS_PER_CONV, build_transcripts


def _salted(df, salt_buckets):
    """A hot conv_id spread over salt_buckets of 16 partitions."""
    salt = F.pmod(F.hash("turn_idx"), F.lit(salt_buckets))
    return df.repartition(16, F.col("conv_id"), salt)


def build_skewed_transcripts(spark, sf_dir):
    """Skew-stressed variant: the ~30% of turns with doc_id % 10 < 3 are
    reassigned to ONE mega-conversation (`conv-mega`, turn_idx = doc_id so
    keys stay unique). This is the mega-conversation shape the north rule's
    skew handling must survive: a single conv_id holding 30% of the corpus
    would serialize a naive conv-partitioned stage; the narrow extraction
    doesn't care (per-turn), and only the one reassembly group of
    `conv-mega` touches conv granularity."""
    base = build_transcripts(spark, sf_dir)
    # recover doc identity from (conv, turn): doc_id = conv_no * TURNS + turn.
    # Both outputs derive from the ORIGINAL columns in one select — chained
    # withColumn would re-evaluate `hot` against the rewritten turn_idx.
    conv_no = F.regexp_extract("conv_id", r"conv-(\d+)", 1).cast("long")
    doc_id = conv_no * TURNS_PER_CONV + F.col("turn_idx")
    hot = (doc_id % 10) < 3
    # pmod keeps turn_idx in positive int32 range (the input_hint contract);
    # unique while doc_id < 2^31-1, which covers every sandbox scale tier
    mega_turn = F.pmod(doc_id, F.lit(2147483647)).cast("int")
    return base.select(
        F.when(hot, F.lit("conv-mega")).otherwise(F.col("conv_id")).alias("conv_id"),
        F.when(hot, mega_turn).otherwise(F.col("turn_idx")).alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def _conv_fp(df):
    """Deterministic fingerprint of reassembled conversations."""
    return sorted(
        (r["conv_id"], r["n_turns"], r["conv_text"])
        for r in df.collect()
    )


def test_reassembly_stable_under_repartition(spark, sf_small):
    t = build_transcripts(spark, sf_small)
    base = _conv_fp(reassemble_conversations(extract_transcripts(t, with_words=False)))
    for k in (1, 5, 17):
        shuffled = t.repartition(k)
        got = _conv_fp(
            reassemble_conversations(extract_transcripts(shuffled, with_words=False))
        )
        assert got == base, f"result changed under repartition({k})"


def test_salted_equals_unsalted(spark, sf_small):
    t = build_transcripts(spark, sf_small)
    base = _conv_fp(reassemble_conversations(extract_transcripts(t, with_words=False)))
    salted = _salted(t, 4)
    got = _conv_fp(
        reassemble_conversations(extract_transcripts(salted, with_words=False))
    )
    assert got == base


def test_extraction_stage_is_narrow(spark, sf_small):
    """No shuffle between the scan and the Arrow stage: the physical plan of
    the extraction must contain no Exchange below the mapInArrow node."""
    t = build_transcripts(spark, sf_small)  # no repartition requested
    plan = (
        extract_transcripts(t, with_words=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_scan_prunes_columns(spark, sf_small):
    """Selecting only ids from the extraction must not read the payload
    template columns beyond what synthesis needs, and the documents scan
    must not read unreferenced columns (Catalyst column pruning reaches the
    parquet ReadSchema)."""
    docs_cols_needed = {"doc_id", "text", "lang", "source"}
    t = build_transcripts(spark, sf_small)
    plan = (
        t.select("conv_id", "turn_idx")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # conv_id/turn_idx derive from doc_id only -> ReadSchema must shrink
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan
    full_plan = t._jdf.queryExecution().executedPlan().toString()
    for c in docs_cols_needed:
        assert c in full_plan


def test_small_dim_join_broadcasts(spark, sf_parity):
    """rel_join_revenue joins lineitem against small dims — the optimized
    plan must pick BroadcastHashJoin, not sort-merge, for the dim side."""
    import deepdoctection_spark.plans.relational  # noqa: F401
    from deepdoctection_spark.plans.registry import QUERIES

    plan = (
        QUERIES["rel_join_revenue"](spark, sf_parity)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_parity):
    df = spark.read.parquet(f"{sf_parity}/lineitem.parquet").where(
        F.col("l_quantity") > 45
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan, plan


def test_mega_conversation_skew_path(spark, sf_small):
    """A single conv holding ~30% of all turns: extraction + reassembly stay
    correct, salted == unsalted, and the mega conversation's text is ordered
    by turn_idx."""
    t = build_skewed_transcripts(spark, sf_small)
    n_total = t.count()
    n_mega = t.where(F.col("conv_id") == "conv-mega").count()
    assert abs(n_mega / n_total - 0.3) < 0.05

    base = _conv_fp(reassemble_conversations(extract_transcripts(t, with_words=False)))
    salted = _salted(t, 8)
    got = _conv_fp(
        reassemble_conversations(extract_transcripts(salted, with_words=False))
    )
    assert got == base

    mega = [r for r in base if r[0] == "conv-mega"]
    assert len(mega) == 1 and mega[0][1] == n_mega
    # ordered by turn_idx: first chunk of conv_text = extraction of min turn
    first_turn = (
        extract_transcripts(
            t.where(F.col("conv_id") == "conv-mega"), with_words=False
        )
        .orderBy("turn_idx")
        .limit(1)
        .collect()[0]["extracted_text"]
    )
    assert mega[0][2].startswith(first_turn)


@pytest.mark.parametrize("tix_type", ["int", "bigint"])
def test_poison_row_quarantined_not_fatal(spark, tix_type):
    """Row-level error quarantine (the MappingContextManager contract,
    SURVEY §2.9): a poison row yields an `error` value and empty outputs;
    the batch and the job survive. A bigint turn_idx is cast to int before
    the Arrow stage and quarantines the same way."""
    rows = [
        ("c1", 0, "user", "good text", "", None),
        ("c1", None, "user", "poison: null turn_idx", "", None),  # int(None) raises
        ("c1", 2, "user", "<p>also good</p>", "browser", None),
    ]
    df = spark.createDataFrame(
        rows,
        f"conv_id string, turn_idx {tix_type}, role string, text string, "
        "tool string, ts timestamp",
    )
    out = extract_transcripts(df, with_words=True).collect()
    assert len(out) == 3
    errs = [r for r in out if r["error"] is not None]
    good = sorted((r for r in out if r["error"] is None), key=lambda r: r["turn_idx"])
    assert len(errs) == 1 and errs[0]["error"].startswith("TypeError")
    assert errs[0]["extracted_text"] == "" and errs[0]["blocks"] == []
    assert [(g["turn_idx"], g["extracted_text"], g["n_blocks"], len(g["words"]))
            for g in good] == [(0, "good text", 1, 2), (2, "also good", 1, 2)]


def test_extraction_schema_frozen():
    """The Spark output schema, derived from the kernel's Arrow layout."""
    from deepdoctection_spark.operators.extraction import (
        EXTRACTION_SCHEMA,
        EXTRACTION_SCHEMA_TS,
    )

    body = (
        "conv_id:string,turn_idx:int,role:string,tool:string,"
        "extracted_text:string,n_blocks:int,"
        "blocks:array<struct<span_id:string,category:string,span_begin:int,"
        "span_end:int,reading_order:int,parent_id:string,score:float>>,"
        "cells:array<struct<span_id:string,span_begin:int,span_end:int,"
        "row_number:int,column_number:int,row_span:int,column_span:int,"
        "parent_id:string,cell_text:string>>,"
        "words:array<struct<token:string,span_begin:int,span_end:int,"
        "word_idx:int>>,table_html:string,error:string"
    )
    assert EXTRACTION_SCHEMA.simpleString() == f"struct<{body}>"
    assert EXTRACTION_SCHEMA_TS.simpleString() == f"struct<{body},ts_us:bigint>"


def test_empty_doc_counts_zero_tokens(spark):
    """split('', ' ') returns [''] — the operators must filter it so empty
    and whitespace-only docs count 0 tokens."""
    from deepdoctection_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["ws_tokens"] for r in textstats.token_counts(docs).collect()}
    assert got == {1: 2, 2: 0, 3: 0}


def test_vertical_tab_normalizes_identically_in_both_engines(spark):
    """Java's \\s includes \\x0B, RE2's (DuckDB) does not — the engine pins an
    explicit whitespace class so _NORM-derived oracles can't diverge on
    real-world text containing vertical tabs."""
    import duckdb

    from deepdoctection_spark.operators import textstats

    weird = "a\x0bb  c\td"
    docs = spark.createDataFrame([(1, weird)], "doc_id long, text string")
    got = textstats.token_counts(docs).collect()[0]
    oracle = duckdb.sql(
        "SELECT len(list_filter(string_split("
        "trim(regexp_replace('a' || chr(11) || 'b  c' || chr(9) || 'd',"
        " '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), w -> length(w) > 0)) AS n"
    ).fetchone()[0]
    assert got["ws_tokens"] == oracle == 4  # a b c d


# Planted rows for the reassembly edge cases: all-null texts, empty-string
# turns, duplicate turn_idx arriving in descending text order, and null
# turn_idx values.
_EDGE_ROWS = [
    ("edge-all-null", 0, None),
    ("edge-all-null", 1, None),
    ("edge-empty", 0, ""),
    ("edge-empty", 1, "mid"),
    ("edge-empty", 2, ""),
    ("edge-dup-idx", 1, "d"),
    ("edge-dup-idx", 1, "c"),
    ("edge-dup-idx", 1, None),
    ("edge-dup-idx", 1, "b"),
    ("edge-dup-idx", 0, "z"),
    ("edge-dup-idx", 1, "a"),
    ("edge-null-idx", 2, "last"),
    ("edge-null-idx", None, "second"),
    ("edge-null-idx", None, "first"),
    ("edge-null-idx", 1, None),
]


def test_reassembly_matches_reference_on_skew_and_edge_rows(spark, sf_small):
    """reassemble_conversations is byte-identical to a sort of
    (turn_idx, text) structs joined by sep, on the 30%-skewed input plus
    planted edge rows, for a plain separator and one holding a quote and a
    backslash."""
    t = build_skewed_transcripts(spark, sf_small)
    ex = extract_transcripts(t, with_words=False).select(
        "conv_id", "turn_idx", "extracted_text"
    )
    edge = spark.createDataFrame(
        _EDGE_ROWS, "conv_id string, turn_idx int, extracted_text string"
    ).coalesce(1)
    turns = ex.unionByName(edge)
    for sep in ("\n\n", "'|\\"):
        reference = turns.groupBy("conv_id").agg(
            F.count("*").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "extracted_text"))
                    ),
                    lambda s: s["extracted_text"],
                ),
                sep,
            ).alias("conv_text"),
        )
        got = _conv_fp(reassemble_conversations(turns, sep=sep))
        assert got == _conv_fp(reference), repr(sep)
        by_conv = {c: (n, text) for c, n, text in got}
        assert by_conv["edge-all-null"] == (2, "")
        assert by_conv["edge-empty"] == (3, sep.join(["", "mid", ""]))
        assert by_conv["edge-dup-idx"] == (6, sep.join("zabcd"))
        assert by_conv["edge-null-idx"] == (4, sep.join(["first", "second", "last"]))


def test_reassembly_plans_one_exchange(spark, tmp_path):
    """Each reassembly is one aggregate over one hash Exchange on its group
    keys, over a plain parquet scan."""
    from deepdoctection_spark.operators.reassembly import (
        reassemble_conversations_chunked,
    )

    path = str(tmp_path / "turns")
    spark.createDataFrame(
        _EDGE_ROWS, "conv_id string, turn_idx int, extracted_text string"
    ).write.parquet(path)
    turns = spark.read.parquet(path)
    for df, keys in [
        (reassemble_conversations(turns), r"conv_id#\d+, \d+"),
        (reassemble_conversations_chunked(turns), r"conv_id#\d+, chunk_no#\d+L, \d+"),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
        assert len(exchanges) == 1, plan
        kind, args = exchanges[0]
        assert kind == "hashpartitioning" and re.fullmatch(keys, args), plan


def test_chunked_reassembly_reconstructs_full_text(spark, sf_small):
    """Bounded-output contract: concatenating chunk_text over ascending
    chunk_no restores exactly the one-row conv_text, and every chunk holds
    at most chunk_size turns."""
    from collections import defaultdict

    from deepdoctection_spark.operators.reassembly import (
        reassemble_conversations_chunked,
    )
    t = build_skewed_transcripts(spark, sf_small)
    ex = extract_transcripts(t, with_words=False)
    full = {r["conv_id"]: (r["n_turns"], r["conv_text"])
            for r in reassemble_conversations(ex).collect()}
    chunks = defaultdict(list)
    for r in reassemble_conversations_chunked(ex, chunk_size=5).collect():
        assert r["chunk_turns"] <= 5
        chunks[r["conv_id"]].append((r["chunk_no"], r["chunk_turns"], r["chunk_text"]))
    assert set(chunks) == set(full)
    for conv, parts in chunks.items():
        parts.sort()
        n = sum(p[1] for p in parts)
        text = "\n\n".join(p[2] for p in parts)
        assert (n, text) == full[conv]


def test_round2_operators_are_narrow(spark, sf_small):
    """matchnms / refinement / pubtables / csv stages: zero Exchange — spans
    never cross a turn, so each query must stay scan → project → mapInArrow."""
    from deepdoctection_spark.operators.matchnms import (
        noisy_assignments,
        noisy_candidates,
    )
    from deepdoctection_spark.operators.pubtablesop import pubtables_grids
    from deepdoctection_spark.operators.refineop import (
        refined_csv_rows,
        refined_tables,
    )

    t = build_transcripts(spark, sf_small)
    ex = extract_transcripts(t, with_words=False)
    for name, df in [
        ("noisy_candidates", noisy_candidates(ex)),
        ("noisy_assignments", noisy_assignments(ex)),
        ("refined_tables", refined_tables(ex)),
        ("refined_csv_rows", refined_csv_rows(ex)),
        ("pubtables_grids", pubtables_grids(t)),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name} plan has a shuffle:\n{plan}"


def test_simhash_pairs_plan_has_no_cross_join(spark, sf_parity):
    """The pigeonhole-banded rewrite must plan as an equi-join: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from deepdoctection_spark.operators.dedup import simhash_near_pairs

    docs = spark.read.parquet(f"{sf_parity}/documents.parquet")
    plan = (
        simhash_near_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_row_guard_drops_poison_rows(spark):
    """Quarantine contract of the per-row operators: a row whose kernel
    raises is logged and dropped, and the rest of the batch survives
    (log-and-drop, the reference's maputils contract)."""
    from deepdoctection_spark.operators.pubtablesop import pubtables_grids

    rows = [("c1", 0, ""), ("c1", None, ""), ("c2", None, ""), ("c2", 3, "")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = pubtables_grids(df).collect()
    assert len(out) == 2  # poison rows dropped


def test_extraction_over_icetable_is_narrow(spark, sf_small, tmp_path):
    """The north-rule input shape: extraction over an Iceberg-semantics
    snapshot read must stay shuffle-free too — the multi-file manifest read
    is still one parquet scan feeding mapInArrow with no Exchange, so the
    table layer costs nothing in plan shape."""
    from deepdoctection_spark.sources.icetable import IceTable
    from pyspark.sql import functions as F

    tr = build_transcripts(spark, sf_small)
    t = IceTable(str(tmp_path / "tbl"))
    for k in range(3):
        t.append(tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == k))
    plan = (
        extract_transcripts(t.read(spark), with_words=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
