"""Deterministic transcript-table construction (the engine's input surface).

BASELINE.json input_hint mandates the input shape
(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp).
No transcript data ships with the sandbox, so transcripts are synthesized
deterministically from the driver's ``documents`` parquet table with pure
column expressions — no UDF, no RNG — such that a SQL engine (the DuckDB
correctness oracle) can reconstruct BOTH the payloads and the expected
extraction outputs from the same ground truth. This makes the correctness gate
non-tautological: Spark runs the real parsers over the payload strings; the
oracle never parses — it recomputes the expected result from the template
pieces directly.

Payload families (FIXTURES.md §1):
- tool=''            plain text (documents.text verbatim)
- tool='browser'     templated HTML page: nav boilerplate + h1 + paragraphs +
                     list + table + footer boilerplate
- tool='pdf_reader'  positioned layout text (@x,y:content lines, 2 columns)

The template is expressed ONCE below as literal/column piece lists; helpers
render them as (a) Spark Column expressions, (b) DuckDB SQL fragments, and
(c) expected extraction outputs for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Template spec: pieces are ('lit', str) or ('col', name) where name ∈
# {d: doc_id as decimal string, t: text, l: lang, s: source}
# ---------------------------------------------------------------------------

TURNS_PER_CONV = 8
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

Lit = tuple[str, str]

HTML_PAYLOAD: list[Lit] = [
    ("lit", '<html><head><title>Doc '), ("col", "d"),
    ("lit",
     '</title></head><body><nav><a href="/">Home</a> <a href="/about">About</a> '
     '<a href="/contact">Contact</a></nav><div id="main"><h1>Document '),
    ("col", "d"),
    ("lit", "</h1><p>"), ("col", "t"),
    # character references (named + hex + decimal) sit in the payload so the
    # parity gate proves the parser DECODES them (expected blocks below carry
    # the decoded forms): &amp; → &, &#x2d; → -, &#169; → ©
    ("lit", "</p><p>Source &amp; origin "), ("col", "s"),
    ("lit", " sharing lang "), ("col", "l"),
    ("lit", ".</p><ul><li>alpha "), ("col", "d"),
    ("lit", "</li><li>beta&#x2d;case "), ("col", "l"),
    ("lit", "</li></ul><table><tr><td>r0c0-"), ("col", "d"),
    ("lit", "</td><td>r0c1-"), ("col", "l"),
    ("lit", "</td></tr><tr><td>r1c0-"), ("col", "s"),
    ("lit",
     '</td><td>r1c1 &#169;</td></tr></table></div><footer><a href="/p">Privacy</a> '
     '<a href="/t">Terms</a> <a href="/i">Imprint</a></footer></body></html>'),
]

PDFISH_PAYLOAD: list[Lit] = [
    ("lit", "@72,40:Document "), ("col", "d"),
    ("lit", "\n@72,100:"), ("col", "t"),
    ("lit", "\n@72,160:left column lang "), ("col", "l"),
    # two runs on ONE line (y=220) separated by 68 < paragraph_break(100):
    # sub-line pass must merge them with a space ("closing note ref {d}"),
    # NOT stack them as two lines — the case that distinguishes per-line
    # sub-line splitting (order.py:345-563) from whole-payload x clustering
    ("lit", "\n@72,220:closing note"),
    ("lit", "\n@140,220:ref "), ("col", "d"),
    ("lit", "\n@306,100:right column source "), ("col", "s"),
    ("lit", "\n@306,160:end "), ("col", "d"),
]

# Expected main-content blocks per payload family, in reading order.
# Each block: (category, pieces). These drive ONLY the DuckDB oracle — the
# Spark side must recover them by actually parsing the payload.
EXPECTED_BLOCKS: dict[str, list[tuple[str, list[Lit]]]] = {
    "": [("text", [("col", "t")])],
    "browser": [
        ("title", [("lit", "Document "), ("col", "d")]),
        ("text", [("col", "t")]),
        ("text", [("lit", "Source & origin "), ("col", "s"),
                  ("lit", " sharing lang "), ("col", "l"), ("lit", ".")]),
        ("list", [("lit", "alpha "), ("col", "d"), ("lit", "\nbeta-case "),
                  ("col", "l")]),
        ("table", [("lit", "r0c0-"), ("col", "d"), ("lit", " r0c1-"), ("col", "l"),
                   ("lit", "\nr1c0-"), ("col", "s"), ("lit", " r1c1 ©")]),
    ],
    "pdf_reader": [
        ("title", [("lit", "Document "), ("col", "d")]),
        ("text", [("col", "t"), ("lit", "\nleft column lang "), ("col", "l"),
                  ("lit", "\nclosing note ref "), ("col", "d")]),
        ("text", [("lit", "right column source "), ("col", "s"),
                  ("lit", "\nend "), ("col", "d")]),
    ],
}

# Expected table cells for the browser payload: (row, col, pieces)
EXPECTED_CELLS: list[tuple[int, int, list[Lit]]] = [
    (1, 1, [("lit", "r0c0-"), ("col", "d")]),
    (1, 2, [("lit", "r0c1-"), ("col", "l")]),
    (2, 1, [("lit", "r1c0-"), ("col", "s")]),
    (2, 2, [("lit", "r1c1 ©")]),
]

# ---------------------------------------------------------------------------
# Spark rendering
# ---------------------------------------------------------------------------

def _spark_concat(pieces: list[Lit], cols: dict[str, Column]) -> Column:
    parts = [F.lit(v) if kind == "lit" else cols[v] for kind, v in pieces]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def build_transcripts(
    spark: SparkSession, sf_dir: str, partitions: int | None = None
) -> DataFrame:
    """documents.parquet → transcripts(conv_id, turn_idx, role, text, tool, ts).

    Pure column expressions (JVM-side, whole-stage-codegen'd): the payload
    synthesis itself never leaves the executor JVM, so the scan stage is a
    single narrow codegen span over the parquet read.

    ``partitions``: repartition the RAW scan before any synthesis. The sandbox
    parquet is one file → a 1-split scan; everything chained narrowly on top
    (payload concat, replication, the Arrow extraction stage) would execute in
    that single task and cap throughput at one core no matter the cluster
    size. Repartitioning the few small input columns first is a tiny shuffle
    that unlocks full parallelism for the expensive downstream work. (A real
    100 TB table arrives in thousands of splits and doesn't need this.)
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if partitions:
        docs = docs.repartition(partitions)
    d = F.col("doc_id").cast("string")
    cols = {"d": d, "t": F.col("text"), "l": F.col("lang"), "s": F.col("source")}
    mod = (F.col("doc_id") % 3).cast("int")
    payload = (
        F.when(mod == 1, _spark_concat(HTML_PAYLOAD, cols))
        .when(mod == 2, _spark_concat(PDFISH_PAYLOAD, cols))
        .otherwise(F.col("text"))
    )
    return docs.select(
        # conv number stays LONG: an int cast would wrap at doc_id >= 2^34
        # and collide conv_ids at the 10^12-turn design scale
        F.format_string("conv-%05d", F.floor(F.col("doc_id") / TURNS_PER_CONV).cast("long")).alias("conv_id"),
        (F.col("doc_id") % TURNS_PER_CONV).cast("int").alias("turn_idx"),
        F.when(mod == 0, "user").when(mod == 1, "assistant").otherwise("tool").alias("role"),
        payload.alias("text"),
        F.when(mod == 1, "browser").when(mod == 2, "pdf_reader").otherwise("").alias("tool"),
        F.timestamp_seconds(F.lit(EPOCH_2024) + F.col("doc_id") * 30).alias("ts"),
    )


def replicated_transcripts(
    spark: SparkSession, sf_dir: str, repl: int, partitions: int | None = None
) -> DataFrame:
    """REPL distinct copies of the transcript table (per-replica conv_ids) —
    the shared workload builder for bench.py and scripts/extract_job.py so
    throughput and scaling runs measure the identical shape. The raw scan is
    repartitioned BEFORE synthesis + replication: the whole
    synthesize→replicate→extract chain stays one narrow fully-parallel stage
    (a trailing repartition would serialize synthesis into the single-file
    scan task)."""
    t = build_transcripts(spark, sf_dir, partitions=partitions)
    if repl > 1:
        reps = spark.range(repl).withColumnRenamed("id", "rep")
        t = (
            t.crossJoin(F.broadcast(reps))
            .withColumn(
                "conv_id",
                F.concat_ws("-", "conv_id", F.col("rep").cast("string")),
            )
            .drop("rep")
        )
    return t


# ---------------------------------------------------------------------------
# DuckDB SQL rendering (for __spark_entry__.oracle_sql)
# ---------------------------------------------------------------------------

_SQL_COL = {"d": "(doc_id::VARCHAR)", "t": "text", "l": "lang", "s": "source"}


def sql_concat(pieces: list[Lit]) -> str:
    """Render pieces as a DuckDB concatenation expression."""
    frags = []
    for kind, v in pieces:
        if kind == "lit":
            # escape single quotes and encode newlines via chr(10)
            segs = v.split("\n")
            lit = " || chr(10) || ".join("'" + s.replace("'", "''") + "'" for s in segs)
            frags.append(lit if len(segs) == 1 else "(" + lit + ")")
        else:
            frags.append(_SQL_COL[v])
    return " || ".join(frags)


def sql_len(pieces: list[Lit]) -> str:
    """Length of the rendered pieces, as constant-folded SQL arithmetic."""
    total_lit = 0
    cols = []
    for kind, v in pieces:
        if kind == "lit":
            total_lit += len(v)
        else:
            cols.append(f"length({_SQL_COL[v]})")
    terms = ([str(total_lit)] if total_lit or not cols else []) + cols
    return " + ".join(terms)


TRANSCRIPT_BASE_SQL = f"""
  SELECT doc_id, text, lang, source,
         printf('conv-%05d', (doc_id // {TURNS_PER_CONV})::BIGINT) AS conv_id,
         (doc_id % {TURNS_PER_CONV})::INT AS turn_idx,
         CASE (doc_id % 3) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         CASE (doc_id % 3) WHEN 0 THEN '' WHEN 1 THEN 'browser' ELSE 'pdf_reader' END AS tool
  FROM documents
"""
