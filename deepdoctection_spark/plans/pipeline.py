"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame,
with a matching DuckDB oracle where SQL can express the semantics.

The registry is the engine's public query surface — the analogue of the
reference's analyzer entry points (/root/reference/deepdoctection/analyzer/dd.py:404-465
+ datasets/dataflow_builder.py) re-expressed as named DataFrame builders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepdoctection_spark.operators.extraction import (
    block_spans,
    cell_spans,
    extract_transcripts,
    word_tokens,
)
from deepdoctection_spark.operators.reassembly import reassemble_conversations
from deepdoctection_spark.plans import oracles
from deepdoctection_spark.sources.transcripts import build_transcripts

from deepdoctection_spark.plans.registry import QUERIES, ORACLES, register  # noqa: F401


def _extracted(spark: SparkSession, sf_dir: str, with_words: bool = False) -> DataFrame:
    return extract_transcripts(build_transcripts(spark, sf_dir), with_words=with_words)


# ---------------------------------------------------------------------------
# Extraction family (north rule): real parsing vs template-ground-truth oracle
# ---------------------------------------------------------------------------


@register("extract_text", oracles.oracle_extract_text())
def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extracted(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "extracted_text", "n_blocks"
    )


@register("extract_spans", oracles.oracle_extract_spans())
def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return block_spans(_extracted(spark, sf_dir))


_LINK_PATTERN = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


@register(
    "extract_links",
    f"""
WITH base AS ({oracles.TRANSCRIPT_BASE_SQL}),
links AS (SELECT * FROM (VALUES
  (0, '/', 'Home'), (1, '/about', 'About'), (2, '/contact', 'Contact'),
  (3, '/p', 'Privacy'), (4, '/t', 'Terms'), (5, '/i', 'Imprint'))
  AS v(link_pos, href, anchor))
SELECT conv_id, turn_idx, link_pos::INT AS link_pos, href, anchor
FROM base, links WHERE tool = 'browser'
""",
)
def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn hyperlink harvest — the crawl-frontier/link-graph feed of a
    web extraction pipeline (the anchors the boilerplate stripper DROPS from
    main text are exactly what the link graph WANTS). Pure JVM path: two
    ``regexp_extract_all`` passes over the payload (href group, anchor
    group), ``arrays_zip`` + ``posexplode`` — a narrow map, zero UDF, zero
    shuffle; non-HTML turns yield empty arrays and vanish in the explode.
    The oracle replays the template ground truth (FIXTURES.md §1): browser
    turns carry exactly the six nav/footer anchors, in document order."""
    tx = build_transcripts(spark, sf_dir)
    pat = F.lit(_LINK_PATTERN)
    z = F.arrays_zip(
        F.regexp_extract_all(F.col("text"), pat, 1).alias("href"),
        F.regexp_extract_all(F.col("text"), pat, 2).alias("anchor"),
    )
    return tx.select(
        "conv_id", "turn_idx", F.posexplode(z).alias("link_pos", "lk")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("link_pos").cast("int").alias("link_pos"),
        F.col("lk.href").alias("href"),
        F.col("lk.anchor").alias("anchor"),
    )


@register("table_cells", oracles.oracle_table_cells())
def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cell_spans(_extracted(spark, sf_dir))


@register("word_tokens", oracles.oracle_word_tokens())
def q_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_tokens(_extracted(spark, sf_dir, with_words=True))


@register("conversation_text", oracles.oracle_conversation_text())
def q_conversation_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reassemble_conversations(_extracted(spark, sf_dir))


def _oracle_dataset_build() -> str:
    """val-split, category-filtered span export: the extract_spans oracle
    restricted by the md5 split bucket and the category list."""
    return (
        f"SELECT * FROM ({oracles.oracle_extract_spans()}) s "
        "WHERE (('0x' || substr(md5(conv_id), 1, 2))::INT % 10) = 8 "
        "AND category IN ('title', 'table')"
    )


@register("dataset_build", _oracle_dataset_build())
def q_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datasets adapter facade (DataFlowBaseBuilder.build,
    /root/reference/deepdoctection/datasets/dataflow_builder.py:32): val
    split + category filter, exported as flat span rows."""
    from deepdoctection_spark.sources.datasets import TranscriptDataset

    ds = TranscriptDataset(spark, sf_dir).build(
        split="val", categories=["title", "table"]
    )
    return block_spans(ds)


def _oracle_conv_dedup() -> str:
    """Conversation-level exact dedup over the EXTRACTION OUTPUT: the
    conversation_text oracle, unioned with a copy of its md5-bucket-0 slice
    under 'dup-' ids (the synthesized duplicates), then canonical-min
    grouping on the text fingerprint."""
    return f"""
WITH conv AS ({oracles.oracle_conversation_text()}),
corpus AS (
  SELECT conv_id, conv_text FROM conv
  UNION ALL
  SELECT 'dup-' || conv_id, conv_text FROM conv
  WHERE (('0x' || substr(md5(conv_id), 1, 2))::INT % 10) = 0
),
fp AS (SELECT conv_id, md5(conv_text) AS fingerprint FROM corpus)
SELECT conv_id, fingerprint,
       (conv_id = min(conv_id) OVER (PARTITION BY fingerprint)) AS is_kept,
       count(*) OVER (PARTITION BY fingerprint)::BIGINT AS group_size
FROM fp
"""


@register("conv_dedup_exact", _oracle_conv_dedup())
def q_conv_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup what you EXTRACTED, not what you ingested: reassembled
    conversation text → md5 fingerprint → canonical-min winner per group.
    Duplicate conversations are synthesized (the md5-bucket-0 slice of the
    transcripts re-ingested under 'dup-' conv_ids), so the collapse is real:
    every duplicated group has size 2 and exactly one kept id. One narrow
    extraction + the reassembly shuffle + one fingerprint window — no
    pairwise comparison anywhere, the exact-dedup shape that holds at
    10^12 turns."""
    from deepdoctection_spark.sources.datasets import split_bucket

    tr = build_transcripts(spark, sf_dir)
    dup = tr.where(split_bucket(F.col("conv_id")) == 0).withColumn(
        "conv_id", F.concat(F.lit("dup-"), F.col("conv_id"))
    )
    from pyspark.sql.window import Window

    conv = reassemble_conversations(extract_transcripts(tr.unionByName(dup)))
    w = Window.partitionBy("fingerprint")
    return (
        conv.select("conv_id", F.md5("conv_text").alias("fingerprint"))
        .withColumn("is_kept", F.col("conv_id") == F.min("conv_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
    )


def _oracle_conv_minhash() -> str:
    """MinHash-LSH near-dup pairs over the extraction output. Near-dups are
    synthesized: each md5-bucket-0 conversation re-enters under an 'nd-' id
    with its last 5 (normalized) words dropped — Jaccard stays high for any
    conversation longer than ~25 words, so the banded join has real work."""
    from deepdoctection_spark.plans.training_ops import _NORM, _minhash_oracle

    prefix = f"""convsrc AS (
  SELECT conv_id AS doc_id, conv_text AS text
  FROM ({oracles.oracle_conversation_text()})
),
nd AS (
  SELECT 'nd-' || doc_id AS doc_id,
         array_to_string(ws[1:greatest(len(ws) - 5, 1)], ' ') AS text
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM convsrc)
  WHERE (('0x' || substr(md5(doc_id), 1, 2))::INT % 10) = 0
),
corpus AS (
  SELECT doc_id, text FROM convsrc UNION ALL SELECT doc_id, text FROM nd
),"""
    return _minhash_oracle(source="corpus", with_prefix=prefix)


@register("conv_dedup_minhash", _oracle_conv_minhash())
def q_conv_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection composed onto the extraction output: the same
    MinHash-LSH operator that runs on raw documents runs unchanged on
    reassembled conversations — banded equi-join candidates, in-row exact
    Jaccard verify, no pairwise scan. The synthesized 'nd-' convs (last 5
    words dropped) give the verifier true positives to confirm."""
    from deepdoctection_spark.operators import dedup
    from deepdoctection_spark.operators.dedup import normalized_text
    from deepdoctection_spark.sources.datasets import split_bucket

    conv = reassemble_conversations(
        extract_transcripts(build_transcripts(spark, sf_dir))
    )
    base = conv.select(
        F.col("conv_id").alias("doc_id"), F.col("conv_text").alias("text")
    )
    ws = F.split(normalized_text(F.col("text")), " ")
    nd = base.where(split_bucket(F.col("doc_id")) == 0).select(
        F.concat(F.lit("nd-"), F.col("doc_id")).alias("doc_id"),
        F.array_join(
            F.slice(ws, F.lit(1), F.greatest(F.size(ws) - 5, F.lit(1))), " "
        ).alias("text"),
    )
    return dedup.minhash_lsh_pairs(
        base.unionByName(nd), num_perm=8, bands=4, k=3, threshold=0.8
    )


def _oracle_conv_curation() -> str:
    """Fused keep/drop verdicts at CONVERSATION granularity: the
    conversation_text oracle (with 'dup-' exact copies of the md5-bucket-0
    slice) feeds the lang-id, quality, and fingerprint-dedup oracles —
    every stage the document-level curation_decisions oracle runs, but over
    the extraction output."""
    from deepdoctection_spark.plans.training_ops import (
        _NORM,
        _lang_oracle,
        _quality_oracle,
    )

    conv = oracles.oracle_conversation_text()
    return f"""
WITH corpus AS (
  SELECT conv_id AS doc_id, conv_text AS text FROM ({conv})
  UNION ALL
  SELECT 'dup-' || conv_id, conv_text FROM ({conv})
  WHERE (('0x' || substr(md5(conv_id), 1, 2))::INT % 10) = 0
),
lang AS (SELECT * FROM ({_lang_oracle(source="corpus")})),
qual AS (SELECT * FROM ({_quality_oracle(source="corpus")})),
dup AS (
  SELECT doc_id,
         (doc_id = min(doc_id) OVER (PARTITION BY md5({_NORM}))) AS dedup_kept
  FROM corpus
)
SELECT d.doc_id, l.pred_lang, q.quality, d.dedup_kept,
       (d.dedup_kept AND q.quality >= 0.5 AND l.pred_lang != 'und') AS keep,
       CASE WHEN NOT d.dedup_kept THEN 'duplicate'
            WHEN q.quality < 0.5 THEN 'low_quality'
            WHEN l.pred_lang = 'und' THEN 'unknown_lang'
            ELSE '' END AS drop_reason
FROM dup d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
"""


@register("conv_curation", _oracle_conv_curation())
def q_conv_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcript-native capstone: extract → reassemble → lang-id ×
    quality × exact-dedup → fused keep/drop per conversation, prioritized
    drop reasons — the document-level curation_decisions pipeline running
    on what the engine extracted, not on raw ingest. Every stage is hash
    joins of per-conversation verdicts; the one wide op is the reassembly
    shuffle the extraction already pays."""
    from pyspark.sql.window import Window

    from deepdoctection_spark.operators import dedup, textstats
    from deepdoctection_spark.sources.datasets import split_bucket

    conv = reassemble_conversations(
        extract_transcripts(build_transcripts(spark, sf_dir))
    )
    base = conv.select(
        F.col("conv_id").alias("doc_id"), F.col("conv_text").alias("text")
    )
    nd = base.where(split_bucket(F.col("doc_id")) == 0).select(
        F.concat(F.lit("dup-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    corpus = base.unionByName(nd)
    lang = textstats.lang_id(corpus).select("doc_id", "pred_lang")
    qual = textstats.quality_scores(corpus).select("doc_id", "quality")
    w = Window.partitionBy(F.md5(dedup.normalized_text(F.col("text"))))
    dupv = corpus.select(
        "doc_id", (F.col("doc_id") == F.min("doc_id").over(w)).alias("dedup_kept")
    )
    keep = (
        F.col("dedup_kept") & (F.col("quality") >= 0.5) & (F.col("pred_lang") != "und")
    )
    reason = (
        F.when(~F.col("dedup_kept"), "duplicate")
        .when(F.col("quality") < 0.5, "low_quality")
        .when(F.col("pred_lang") == "und", "unknown_lang")
        .otherwise("")
    )
    return (
        dupv.join(lang, "doc_id")
        .join(qual, "doc_id")
        .select(
            "doc_id", "pred_lang", "quality", "dedup_kept",
            keep.alias("keep"), reason.alias("drop_reason"),
        )
    )


@register("table_html", oracles.oracle_table_html())
def q_table_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _extracted(spark, sf_dir)
    return ex.filter(F.col("table_html").isNotNull()).select(
        "conv_id", "turn_idx", "table_html"
    )


@register("pdf_layout_spans", oracles.oracle_pdf_layout_spans())
def q_pdf_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF bytes through the layout path, end to end: the PDFISH
    template renders to positioned runs, the stdlib writer encodes them as
    genuine PDFs (FlateDecode streams, rotating text operators), the stdlib
    parser recovers '@x,y:content' wire payloads, and the UNCHANGED
    extraction stage segments them into spans. The oracle recomputes the
    expected spans from the template pieces — agreement proves codec
    round-trip + positioned-layout segmentation agree on real documents
    (reference: pdfplumber-fed analyzer, extern/pdftext.py +
    utils/pdf_utils.py:121-227)."""
    import re
    from collections.abc import Iterator

    import pandas as pd

    from deepdoctection_spark.kernels.pdf import pdf_encode, pdf_positioned_pages
    from deepdoctection_spark.sources.transcripts import (
        PDFISH_PAYLOAD,
        _spark_concat,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = {
        "d": F.col("doc_id").cast("string"),
        "t": F.col("text"),
        "l": F.col("lang"),
        "s": F.col("source"),
    }
    wire = docs.select(
        F.format_string("pdfconv-%06d", F.col("doc_id")).alias("conv_id"),
        _spark_concat(PDFISH_PAYLOAD, cols).alias("wire"),
    )
    line_re = re.compile(r"^@(\d+),(\d+):(.*)$")

    def to_pdf_and_back(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for w in pdf["wire"].tolist():
                runs = []
                for raw in w.split("\n"):
                    m = line_re.match(raw)
                    x, y, content = float(m.group(1)), float(m.group(2)), m.group(3)
                    runs.append((x, 792.0 - y, 12.0, content))  # y-up user space
                raw_pdf = pdf_encode([runs])
                texts.append(pdf_positioned_pages(raw_pdf)[0])
            yield pd.DataFrame(
                {"conv_id": pdf["conv_id"], "turn_idx": 0, "role": "tool",
                 "text": texts, "tool": "pdf_reader"}
            )

    transcripts = wire.mapInPandas(
        to_pdf_and_back,
        schema="conv_id string, turn_idx int, role string, text string, tool string",
    )
    return block_spans(extract_transcripts(transcripts, with_words=False))


# ---------------------------------------------------------------------------
# agent-transcript analytics (role / tool / ts surface of the input schema)
# ---------------------------------------------------------------------------

def _oracle_conv_tool_stats() -> str:
    from deepdoctection_spark.sources.transcripts import (
        EPOCH_2024,
        TRANSCRIPT_BASE_SQL,
    )

    return f"""
WITH t AS (
  SELECT *, ({EPOCH_2024} + doc_id * 30)::BIGINT AS ts_sec,
         ('0x' || substr(md5('lat#' || conv_id || '#' || turn_idx::VARCHAR),
                         1, 8))::BIGINT % 10000 AS latency_ms
  FROM ({TRANSCRIPT_BASE_SQL})
)
SELECT conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS n_user,
       sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS n_assistant,
       sum(CASE WHEN tool != '' THEN 1 ELSE 0 END)::BIGINT AS n_tool_calls,
       count(DISTINCT CASE WHEN tool != '' THEN tool END)::INT AS n_distinct_tools,
       coalesce(array_to_string(
         list(tool ORDER BY turn_idx) FILTER (WHERE tool != ''), ','), '')
         AS tool_seq,
       sum(latency_ms)::BIGINT AS sum_latency_ms,
       max(latency_ms)::BIGINT AS max_latency_ms,
       (max(ts_sec) - min(ts_sec))::BIGINT AS span_sec
FROM t GROUP BY conv_id
"""


@register("conv_tool_stats", _oracle_conv_tool_stats())
def q_conv_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation agent-loop rollup: role mix, tool-call counts, the
    ordered tool-call sequence, planted deterministic latency totals, and
    the ts wall-clock span — ONE conv_id hash agg (map-side combined), the
    ordered sequence via array_sort of grouped structs, never a
    sort-shuffle."""
    from deepdoctection_spark.operators.transcriptstats import conv_tool_stats

    return conv_tool_stats(build_transcripts(spark, sf_dir))


def _oracle_role_bigrams() -> str:
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH t AS (SELECT * FROM ({TRANSCRIPT_BASE_SQL})),
p AS (
  SELECT lag(role, 1, '<start>')
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         role
  FROM t
)
SELECT prev_role, role, count(*)::BIGINT AS n FROM p GROUP BY 1, 2
"""


@register("role_bigrams", _oracle_role_bigrams())
def q_role_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide role-transition matrix with a '<start>' pseudo-role per
    conversation: a conv_id-partitioned lag window (parallel, bounded
    groups) into a |roles|²-row hash agg — output size is independent of
    corpus size."""
    from deepdoctection_spark.operators.transcriptstats import role_bigrams

    return role_bigrams(build_transcripts(spark, sf_dir))


_PLANTED_TOOL_SQL = """CASE WHEN tool != '' THEN
  (['search', 'browser', 'python', 'bash'])[
    ('0x' || substr(md5('tool#' || conv_id || '#' || turn_idx::VARCHAR),
                    1, 4))::INT % 4 + 1]
  ELSE '' END"""


def _oracle_tool_chains() -> str:
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH t AS (
  SELECT conv_id, turn_idx, {_PLANTED_TOOL_SQL} AS tool
  FROM ({TRANSCRIPT_BASE_SQL})
),
seq AS (
  SELECT conv_id,
         list(tool ORDER BY turn_idx) FILTER (WHERE tool != '') AS tools
  FROM t GROUP BY conv_id
),
grams AS (
  SELECT conv_id, array_to_string(tools[i:i+2], '>') AS chain
  FROM seq, unnest(range(1, len(tools) - 1)) AS r(i)
  WHERE len(tools) >= 3
)
SELECT chain, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT conv_id)::BIGINT AS n_convs
FROM grams GROUP BY chain
"""


@register("tool_chain_ngrams", _oracle_tool_chains())
def q_tool_chain_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent length-3 tool-call chains over planted per-turn tool picks:
    one conv_id hash agg builds the ordered tool array, n-grams form IN-ROW
    (sequence+transform+slice, no extra shuffle), then one small hash agg on
    the chain key — output O(|distinct chains|), corpus-size independent."""
    from deepdoctection_spark.operators.transcriptstats import (
        tool_chain_ngrams,
        with_planted_tools,
    )

    return tool_chain_ngrams(
        with_planted_tools(build_transcripts(spark, sf_dir)), n=3
    )


def _oracle_tool_retries() -> str:
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH t AS (
  SELECT conv_id, turn_idx, {_PLANTED_TOOL_SQL} AS tool
  FROM ({TRANSCRIPT_BASE_SQL})
),
tt AS (SELECT conv_id, turn_idx, tool FROM t WHERE tool != ''),
m AS (
  SELECT conv_id, turn_idx, tool,
         CASE WHEN lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   = tool THEN 0 ELSE 1 END AS is_start
  FROM tt
),
isl AS (
  SELECT conv_id, turn_idx, tool,
         sum(is_start) OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT conv_id, tool, count(*)::BIGINT AS run_len,
       min(turn_idx)::INT AS start_turn, max(turn_idx)::INT AS end_turn
FROM isl GROUP BY conv_id, island, tool
HAVING count(*) >= 2
"""


@register("tool_retry_runs", _oracle_tool_retries())
def q_tool_retry_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-loop (gaps-and-islands) detection: maximal runs of the same
    planted tool on consecutive tool turns — conv_id-partitioned lag +
    running sum, one hash agg per island; no global sort anywhere."""
    from deepdoctection_spark.operators.transcriptstats import (
        tool_retry_runs,
        with_planted_tools,
    )

    return tool_retry_runs(
        with_planted_tools(build_transcripts(spark, sf_dir)), min_len=2
    )


# ---------------------------------------------------------------------------
# conversation-level training prep: context budgeting + loss masks
# ---------------------------------------------------------------------------

_NORM_RE = "[ \\t\\n\\r\\f\\x0B]+"
_CTX_BUDGET = 150


def _oracle_conv_context_fit() -> str:
    from deepdoctection_spark.plans.oracles import _extracted_text_case
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    norm = f"trim(regexp_replace(t, '{_NORM_RE}', ' ', 'g'))"
    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (SELECT conv_id, turn_idx, {_extracted_text_case()} AS t FROM base),
tok AS (
  SELECT conv_id, turn_idx,
         (CASE WHEN length({norm}) = 0 THEN 0
               ELSE len(string_split({norm}, ' ')) END)::BIGINT AS n_tok
  FROM et
),
cum AS (
  SELECT conv_id, turn_idx, n_tok,
         sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_from_end
  FROM tok
)
SELECT conv_id, count(*)::BIGINT AS total_turns,
       sum(CASE WHEN cum_from_end <= {_CTX_BUDGET} THEN 1 ELSE 0 END)::BIGINT
         AS kept_turns,
       min(CASE WHEN cum_from_end <= {_CTX_BUDGET} THEN turn_idx END)::INT
         AS first_kept_turn_idx,
       coalesce(sum(CASE WHEN cum_from_end <= {_CTX_BUDGET} THEN n_tok END),
                0)::BIGINT AS kept_tokens,
       sum(n_tok)::BIGINT AS total_tokens
FROM cum GROUP BY conv_id
"""


@register("conv_context_fit", _oracle_conv_context_fit())
def q_conv_context_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budgeting over the extraction output: per
    conversation keep the longest turn SUFFIX fitting a 150-token budget
    (truncate-from-the-front, the multi-turn training-row policy) — one
    conv_id window + one hash agg (operators/convprep.py)."""
    from deepdoctection_spark.operators.convprep import conv_context_fit

    return conv_context_fit(_extracted(spark, sf_dir), budget=_CTX_BUDGET)


def _oracle_conv_loss_masks() -> str:
    from deepdoctection_spark.plans.oracles import _extracted_text_case
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (SELECT conv_id, turn_idx, role, {_extracted_text_case()} AS t FROM base),
off AS (
  SELECT conv_id, turn_idx, role, length(t)::BIGINT AS tlen,
         coalesce(sum(length(t) + 2) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS start_char
  FROM et
)
SELECT conv_id, turn_idx, role, start_char,
       (start_char + tlen)::BIGINT AS end_char,
       (role = 'assistant') AS loss
FROM off
"""


@register("conv_loss_masks", _oracle_conv_loss_masks())
def q_conv_loss_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn char spans into the assembled conversation text plus the
    assistant-only loss mask — conv_text[start:end] equals the turn's
    extracted text under the reassembly separator contract
    (operators/convprep.py; substring equality pinned in
    tests/test_convprep.py)."""
    from deepdoctection_spark.operators.convprep import conv_loss_masks

    return conv_loss_masks(_extracted(spark, sf_dir))


def _oracle_conv_prefix_dups() -> str:
    from deepdoctection_spark.plans.oracles import _extracted_text_case
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH base AS ({TRANSCRIPT_BASE_SQL}),
et AS (SELECT conv_id, turn_idx, {_extracted_text_case()} AS t FROM base),
nn AS (
  SELECT conv_id, turn_idx, t,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM et
),
corpus AS (
  SELECT conv_id, turn_idx, t FROM et
  UNION ALL
  SELECT 'pfx-' || conv_id, turn_idx, t FROM nn
  WHERE (('0x' || substr(md5(conv_id), 1, 2))::INT % 10) = 0
    AND turn_idx < n // 2
),
pos AS (
  SELECT conv_id, turn_idx, t,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS i,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM corpus
),
keyed AS (
  SELECT conv_id, i, n,
         sum(('0x' || substr(md5(i || '#' || t), 1, 10))::BIGINT)
           OVER (PARTITION BY conv_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS pk
  FROM pos
),
fl AS (SELECT conv_id AS prefix_conv, i AS np, pk FROM keyed WHERE i = n),
pf AS (SELECT conv_id AS super_conv, i AS ip, n AS ns, pk FROM keyed WHERE i < n),
cand AS (
  SELECT prefix_conv, super_conv, np, ns
  FROM fl JOIN pf ON np = ip AND fl.pk = pf.pk AND prefix_conv != super_conv
),
seqs AS (SELECT conv_id, list(t ORDER BY turn_idx) AS texts FROM corpus GROUP BY conv_id)
SELECT prefix_conv, super_conv, np::BIGINT AS n_turns_prefix,
       ns::BIGINT AS n_turns_super
FROM cand
JOIN seqs sp ON sp.conv_id = prefix_conv
JOIN seqs ss ON ss.conv_id = super_conv
WHERE ss.texts[1:np] = sp.texts
"""


@register("conv_prefix_dups", _oracle_conv_prefix_dups())
def q_conv_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-prefix conversation dedup (agent retries / partial
    re-uploads) over the extraction output, with planted truncated twins
    ('pfx-'-prefixed first halves of the md5-bucket-0 conversations) giving
    the verifier true positives — candidate keys are O(1)-state running
    sums of position-salted 40-bit hashes, verification exact array-slice
    equality (operators/convprep.py:conv_prefix_dups)."""
    from pyspark.sql.window import Window as W

    from deepdoctection_spark.operators.convprep import conv_prefix_dups

    ex = _extracted(spark, sf_dir).select("conv_id", "turn_idx", "extracted_text")
    n = F.count(F.lit(1)).over(W.partitionBy("conv_id"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 2), 16, 10).cast("int")
        % 10
    )
    planted = (
        ex.withColumn("n", n)
        .where((bucket == 0) & (F.col("turn_idx") < F.floor(F.col("n") / 2)))
        .select(
            F.concat(F.lit("pfx-"), F.col("conv_id")).alias("conv_id"),
            "turn_idx",
            "extracted_text",
        )
    )
    return conv_prefix_dups(ex.unionByName(planted))


# ---------------------------------------------------------------------------
# data-validation expectations (Deequ-style pre-flight)
# ---------------------------------------------------------------------------


def _oracle_expectations() -> str:
    from deepdoctection_spark.sources.transcripts import (
        EPOCH_2024,
        TRANSCRIPT_BASE_SQL,
    )

    return f"""
WITH base AS (
  SELECT conv_id, turn_idx, role, text,
         ({EPOCH_2024} + doc_id * 30)::BIGINT AS ts_sec
  FROM ({TRANSCRIPT_BASE_SQL})
),
t0 AS (
  SELECT *, ('0x' || substr(md5(conv_id), 1, 2))::INT % 10 AS bucket
  FROM base WHERE turn_idx = 0
),
corrupted AS (
  SELECT conv_id, turn_idx, role, text, ts_sec FROM base
  UNION ALL SELECT conv_id, turn_idx, role, text, ts_sec FROM t0 WHERE bucket = 1
  UNION ALL SELECT conv_id, -1, role, text, 946684800 FROM t0 WHERE bucket = 2
  UNION ALL SELECT conv_id, 1000, 'system', text, 4102444800 FROM t0 WHERE bucket = 3
  UNION ALL SELECT conv_id, 999, role, text, 946684800 FROM t0 WHERE bucket = 4
  UNION ALL SELECT conv_id, 998, role, NULL, 4102444800 FROM t0 WHERE bucket = 5
  UNION ALL SELECT NULL, 0, 'user', 'x', {EPOCH_2024} FROM (SELECT 1)
),
rowsums AS (
  SELECT sum((conv_id IS NULL)::INT)::BIGINT AS conv_id_not_null,
         sum((turn_idx < 0)::INT)::BIGINT AS turn_idx_nonnegative,
         sum((role NOT IN ('user', 'assistant', 'tool'))::INT)::BIGINT AS role_in_domain,
         sum((text IS NULL)::INT)::BIGINT AS text_not_null
  FROM corrupted
),
dup AS (
  SELECT coalesce(sum(c - 1), 0)::BIGINT AS turn_unique
  FROM (SELECT count(*) AS c FROM corrupted GROUP BY conv_id, turn_idx)
),
contig AS (
  SELECT sum((mn != 0 OR mx != nd - 1)::INT)::BIGINT AS turn_idx_contiguous
  FROM (SELECT count(DISTINCT turn_idx) AS nd, max(turn_idx) AS mx,
               min(turn_idx) AS mn
        FROM corrupted GROUP BY conv_id)
),
mono AS (
  SELECT coalesce(sum((ts_sec < prev_ts)::INT), 0)::BIGINT
           AS ts_monotone_nondecreasing
  FROM (SELECT ts_sec, lag(ts_sec) OVER (PARTITION BY conv_id
                                         ORDER BY turn_idx) AS prev_ts
        FROM corrupted)
)
SELECT rule, n_violations, (n_violations = 0) AS passed FROM (
  SELECT 'conv_id_not_null' AS rule, conv_id_not_null AS n_violations FROM rowsums
  UNION ALL SELECT 'turn_idx_nonnegative', turn_idx_nonnegative FROM rowsums
  UNION ALL SELECT 'role_in_domain', role_in_domain FROM rowsums
  UNION ALL SELECT 'text_not_null', text_not_null FROM rowsums
  UNION ALL SELECT 'turn_unique', turn_unique FROM dup
  UNION ALL SELECT 'turn_idx_contiguous', turn_idx_contiguous FROM contig
  UNION ALL SELECT 'ts_monotone_nondecreasing', ts_monotone_nondecreasing FROM mono
)
"""


@register("data_expectations", _oracle_expectations())
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style validation report over a transcript table with PLANTED
    violations (per-bucket corruptions: duplicate turns, negative and
    non-contiguous turn_idx, out-of-domain role, null text, time-travel ts,
    a null conv_id) — O(#rules) output from bounded aggregations
    (operators/expectations.py)."""
    from deepdoctection_spark.operators.expectations import (
        transcript_expectations,
    )

    base = build_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )
    t0 = base.where(F.col("turn_idx") == 0).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 2), 16, 10)
        .cast("int") % 10,
    )
    old_ts = F.to_timestamp(F.lit("2000-01-01 00:00:00"))
    far_ts = F.to_timestamp(F.lit("2100-01-01 00:00:00"))

    def planted(bucket, turn_idx=None, role=None, text=None, ts=None):
        d = t0.where(F.col("bucket") == bucket)
        return d.select(
            "conv_id",
            (turn_idx if turn_idx is not None else F.col("turn_idx"))
            .cast("int").alias("turn_idx"),
            (role if role is not None else F.col("role")).alias("role"),
            (text if text is not None else F.col("text")).alias("text"),
            (ts if ts is not None else F.col("ts")).alias("ts"),
        )

    null_row = spark.sql(
        "SELECT CAST(NULL AS STRING) conv_id, 0 turn_idx, 'user' role, "
        "'x' text, TIMESTAMP'2024-01-01 00:00:00' ts"
    )
    corrupted = (
        base
        .unionByName(planted(1))
        .unionByName(planted(2, turn_idx=F.lit(-1), ts=old_ts))
        .unionByName(planted(3, turn_idx=F.lit(1000), role=F.lit("system"),
                             ts=far_ts))
        .unionByName(planted(4, turn_idx=F.lit(999), ts=old_ts))
        .unionByName(planted(5, turn_idx=F.lit(998),
                             text=F.lit(None).cast("string"), ts=far_ts))
        .unionByName(null_row)
    )
    return transcript_expectations(corrupted)


def _oracle_k_anon() -> str:
    from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL

    return f"""
WITH t AS (SELECT * FROM ({TRANSCRIPT_BASE_SQL}))
SELECT role, tool, (turn_idx // 4)::BIGINT AS pos_bucket,
       count(*)::BIGINT AS class_n,
       count(DISTINCT conv_id)::BIGINT AS l_div,
       (count(*) < 5)::INT AS at_risk
FROM t GROUP BY 1, 2, 3
"""


@register("privacy_k_anon", _oracle_k_anon())
def q_privacy_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the transcript table treating
    (role, tool, turn-position bucket) as the quasi-identifier tuple and
    conv_id as the sensitive attribute: per equivalence class its size,
    distinct-conversation diversity, and the at_risk flag for classes an
    attacker could pin below k=5. ONE map-side-combined hash agg; output
    O(|QI tuples|) regardless of corpus size
    (operators/expectations.k_anonymity_report)."""
    from deepdoctection_spark.operators.expectations import (
        k_anonymity_report,
    )

    t = build_transcripts(spark, sf_dir).withColumn(
        "pos_bucket", F.floor(F.col("turn_idx") / 4).cast("long")
    )
    return k_anonymity_report(
        t, ["role", "tool", "pos_bucket"], "conv_id", k=5
    )


_EPOCH_SHUFFLE_ORACLE = """
WITH ep AS (SELECT unnest([0, 1, 2]) AS epoch),
ids AS (SELECT CASE WHEN doc_id < 0 OR doc_id >= 4294967296
                    THEN error('epoch_shuffle: id outside [0, 2^32): ' || doc_id)
                    ELSE doc_id END AS id
        FROM documents),
s0 AS (SELECT epoch, id, (id // 65536)::BIGINT AS l0,
              (id % 65536)::BIGINT AS r0
       FROM ids, ep),
s1 AS (SELECT epoch, id, r0 AS l1,
       xor(l0, ('0x' || substr(md5('shuf#' || epoch || '#0#' || r0),
                               1, 4))::BIGINT) AS r1 FROM s0),
s2 AS (SELECT epoch, id, r1 AS l2,
       xor(l1, ('0x' || substr(md5('shuf#' || epoch || '#1#' || r1),
                               1, 4))::BIGINT) AS r2 FROM s1),
s3 AS (SELECT epoch, id, r2 AS l3,
       xor(l2, ('0x' || substr(md5('shuf#' || epoch || '#2#' || r2),
                               1, 4))::BIGINT) AS r3 FROM s2),
p AS (SELECT epoch, id, (l3 * 65536 + r3)::BIGINT AS perm FROM s3)
SELECT epoch, id, perm, (perm % 8)::INT AS shard,
       row_number() OVER (PARTITION BY epoch, perm % 8 ORDER BY perm)::BIGINT
         AS rank_in_shard
FROM p
"""


@register("loader_epoch_shuffle", _EPOCH_SHUFFLE_ORACLE)
def q_loader_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three training epochs of the deterministic Feistel loader shuffle
    over the documents corpus: per epoch a keyed 32-bit bijection gives
    every doc a unique perm value, a balanced shard, and a shard-local
    consumption rank — no global sort, no rand(), resumable at any step by
    a perm-range predicate (operators/convprep.epoch_shuffle). The oracle
    unrolls the identical 3-round network in SQL."""
    from deepdoctection_spark.operators.convprep import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    return epoch_shuffle(docs, id_col="doc_id", epochs=3, n_shards=8)


def _oracle_response_latency() -> str:
    from deepdoctection_spark.sources.transcripts import (
        EPOCH_2024,
        TRANSCRIPT_BASE_SQL,
    )

    return f"""
WITH t AS (
  SELECT conv_id, turn_idx, role,
         ({EPOCH_2024} + doc_id * 30)::BIGINT AS ts_sec
  FROM ({TRANSCRIPT_BASE_SQL})
),
lagged AS (
  SELECT conv_id, role, ts_sec,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         lag(ts_sec) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sec
  FROM t
),
r AS (SELECT * FROM lagged
      WHERE prev_role = 'user' AND role = 'assistant')
SELECT conv_id, count(*)::BIGINT AS n_exchanges,
       sum(ts_sec - prev_sec)::BIGINT AS sum_latency_sec,
       max(ts_sec - prev_sec)::BIGINT AS max_latency_sec,
       (sum(ts_sec - prev_sec) * 1000 // count(*))::BIGINT
         AS mean_latency_milli
FROM r GROUP BY conv_id
"""


@register("conv_response_latency", _oracle_response_latency())
def q_conv_response_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant response latency per conversation (the reply-edge SLO):
    ts deltas over user→assistant adjacencies via one conv-partitioned lag
    window + one hash agg, exact integer stats
    (operators/transcriptstats.response_latency)."""
    from deepdoctection_spark.operators.transcriptstats import (
        response_latency,
    )

    return response_latency(build_transcripts(spark, sf_dir))
