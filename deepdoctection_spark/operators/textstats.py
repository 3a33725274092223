"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

The reference's analogues: LanguageDetectionService (fasttext model,
/root/reference/deepdoctection/pipe/language.py:35-122) and the page summary
annotations (/root/reference/deepdoctection/datapoint/annotation.py:471-488).
Here the heuristics are model-free column expressions — fully JVM-side so the
per-doc cost is whole-stage-codegen arithmetic, no UDF at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepdoctection_spark.operators.dedup import normalized_text

# Small per-language stopword profiles (public common function words).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
}

BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text_col: str = "text"):
    # split('', ' ') returns [''] — filter it so an empty/whitespace-only
    # document counts 0 tokens
    return F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: F.length(w) > 0,
    )


def lang_id(docs: DataFrame, min_ratio: float = 0.02) -> DataFrame:
    """n-gram/stopword heuristic language ID: argmax stopword-hit ratio across
    language profiles; 'und' when no profile clears min_ratio. Deterministic
    tie-break by language code order."""
    ws = _tokens()
    ratios = [
        (
            lang,
            F.size(F.filter(ws, lambda w: w.isin(STOPWORDS[lang])))
            / F.greatest(F.size(ws), F.lit(1)),
        )
        for lang in sorted(STOPWORDS)
    ]
    best_ratio = F.greatest(*[r for _, r in ratios])
    pred = F.lit("und")
    # reversed so that earlier codes win exact ties (last when() wins in fold)
    for lang, r in reversed(ratios):
        pred = F.when((r == best_ratio) & (r >= min_ratio), F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        _round4(best_ratio).alias("stopword_ratio"),
    )



def corpus_vocab(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus vocabulary table: per token, total count, document frequency,
    and dense frequency rank — the tokenizer-training / stopword-mining
    primitive of an LLM data pipeline. One explode + one hash aggregation
    (map-side combinable) + a single all-to-one window for the global rank
    (rank only over tokens ≥ min_count, which bounds the windowed set; at
    corpus scale the long tail is cut BEFORE the sort)."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).where(F.length("token") > 0)
    counts = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("n_total"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )
    w = Window.orderBy(F.desc("n_total"), "token")
    return (
        counts.where(F.col("n_total") >= min_count)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def _round4(col):
    """floor(x*1e4 + 0.5)/1e4 — bit-deterministic across engines. Built-in
    round() differs between Spark (half-up on the double) and DuckDB
    (decimal-izes first) exactly at float-error-adjacent boundaries, e.g.
    0.84024999999999 -> 0.8402 vs 0.8403 (reproduced at sf0.001 doc 209).
    floor on the identical IEEE double gives the identical answer in any
    engine; the oracle uses the same formulation."""
    return F.floor(col * 10000 + F.lit(0.5)) / 10000

def quality_scores(docs: DataFrame) -> DataFrame:
    """Rule-based quality features + composite score ∈ [0,1]:
    coverage (enough tokens), lexical diversity (type-token ratio), word-shape
    sanity (mean token length in a human-ish band)."""
    ws = _tokens()
    n_tok = F.size(ws)
    n_chars = F.length(normalized_text(F.col("text")))
    distinct_ratio = F.size(F.array_distinct(ws)) / F.greatest(n_tok, F.lit(1))
    avg_len = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))  # chars minus separators
    coverage = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    shape = F.when((avg_len >= 3) & (avg_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    score = _round4(0.4 * coverage + 0.3 * distinct_ratio + 0.3 * shape)
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        n_chars.cast("int").alias("n_chars_norm"),
        _round4(distinct_ratio).alias("type_token_ratio"),
        _round4(avg_len).alias("avg_token_len"),
        score.alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish subword count (letters/digits/other runs)."""
    ws_count = F.size(_tokens())
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws_count.cast("int").alias("ws_tokens"),
        bpe.cast("int").alias("bpe_ish_tokens"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of normalized text plus a 60-bit numeric
    fingerprint (hex-truncated md5) usable as a join/bucket key."""
    norm = normalized_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("md5_fp"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long").alias("fp60"),
        F.length(norm).cast("int").alias("n_chars_norm"),
    )


def rolling_hash(docs: DataFrame, base: int = 131, mod: int = 2147483647) -> DataFrame:
    """Rabin-Karp polynomial fingerprint of the normalized text, folded
    JVM-side (aggregate over the char array — sequential, exact bigint
    arithmetic, reproducible in any SQL engine with a list fold)."""
    norm = normalized_text(F.col("text"))
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )
    return docs.select(
        "doc_id",
        h.alias("rolling_fp"),
        F.length(norm).cast("int").alias("n_chars_norm"),
    )


def token_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-frequency surprisal per document — the CCNet/Gopher-style
    quality signal: rare-token-heavy documents (gibberish, boilerplate
    explosions, encoding damage) score high, plain prose scores near the
    corpus entropy. Two passes, both scale-shaped:

    1. token → count hash aggregation (map-side combinable) + a 1-row total;
    2. explode docs → hash join on token (AQE picks broadcast while the
       vocab is small; at web scale it stays a shuffle hash join) → per-doc
       aggregation of −log₂(count/total).

    Determinism contract with the DuckDB oracle: per-token surprisal is
    quantized to an INTEGER (floor(x·1e6 + 0.5)) BEFORE summing, so the
    per-doc sum is exact integer arithmetic — no float-summation-order
    dependence between engines; only the final display division rounds."""
    toks = docs.select(
        "doc_id",
        F.explode(_tokens()).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    per_tok = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.floor(
                -F.log2(F.col("n").cast("double") / F.col("total")) * 1000000
                + F.lit(0.5)
            ).cast("long").alias("s6"),
        )
    )
    return per_tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        (F.floor(F.sum("s6") / F.count("*") / 100 + F.lit(0.5)) / 10000.0
         ).alias("avg_surprisal"),
        (F.max("s6") / 1000000.0).alias("max_surprisal"),
    )


# Redaction patterns shared verbatim by the Spark column expressions and the
# DuckDB oracle: Java regex and RE2 agree on this subset (char classes,
# bounded repetition, \b word boundaries — no lookaround, no backrefs).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_URL = "https?://[^ ]+"
PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction pass over a text column — the compliance scrub every
    training-corpus pipeline runs before publish: emails → <EMAIL>, URLs →
    <URL>, IPv4 addresses → <IP>, in that order (emails first so an address
    inside a mailto-ish URL is claimed by the more specific pattern), plus
    per-document redaction counts for the audit manifest.

    The sandbox corpus is word-list text with no PII by construction, so the
    query plants deterministic PII derived from (doc_id, source) into each
    document before scrubbing — the oracle builds the identical string, so
    the match checks the scrub itself, not the planting. Pure column
    expressions (regexp_extract_all + regexp_replace), zero UDFs, embarrassingly
    parallel — the 100 TB shape is a narrow map over the corpus scan."""
    norm = normalized_text(F.col("text"))
    d = F.col("doc_id").cast("string")
    aug = F.concat(
        F.substring(norm, 1, 40),
        F.lit(" contact user"), d,
        F.lit("@mail-"), F.col("source"), F.lit(".com or http://site-"), d,
        F.lit(".example.com/p?id="), d,
        F.lit(" from ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" end"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL, "<EMAIL>"),
            PII_URL, "<URL>"),
        PII_IPV4, "<IP>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_URL), 0)).cast("int").alias("n_urls"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_IPV4), 0)).cast("int").alias("n_ips"),
        # post-scrub residue — the audit invariant a compliance gate checks
        F.size(F.regexp_extract_all(scrubbed, F.lit(PII_IPV4), 0)).cast("int").alias("n_ips_left"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("int").alias("scrubbed_len"),
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) — the
    standard pre-training corpus gate: word-count band, mean-word-length band
    [3,10], symbol-to-word ratio ('#'/'...') ≤ 0.1, ≤90% bullet-led lines,
    ≤30% ellipsis-ended lines, ≥80% words containing a letter, ≥2 distinct
    stopwords present. Every rule is evaluated in EXACT INTEGER arithmetic
    (e.g. mean∈[3,10] ⟺ 3·n ≤ chars ≤ 10·n) so the flags are bit-identical
    in any engine — no float rounding seam between Spark and the oracle.
    Pure column expressions, zero UDF, embarrassingly parallel: at 100 TB
    this is a narrow whole-stage-codegen map over the corpus scan.

    Reference analogue: the page-level summary/filter annotations
    (/root/reference/deepdoctection/datapoint/annotation.py:471-488) — here
    generalized to the published corpus-curation rule set."""
    text = F.col(text_col)
    norm = normalized_text(text)
    ws = F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)
    n = F.size(ws).cast("long")
    # chars across words = len(norm) − (n−1) single separators; 0 when empty
    wc = F.when(n > 0, F.length(norm).cast("long") - (n - 1)).otherwise(F.lit(0))
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#")))).cast("long")
    # non-overlapping '...' count via literal split (greedy left-to-right in
    # both Java regex and DuckDB string_split)
    n_ell = (F.size(F.split(text, r"\.\.\.", -1)) - 1).cast("long")
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines).cast("long")
    bullets = F.size(
        F.filter(lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"))
    ).cast("long")
    ell_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("long")
    stop_hits = F.size(
        F.filter(F.array_distinct(ws), lambda w: w.isin(*STOPWORDS["en"]))
    ).cast("long")

    flag_word_count = (n >= min_words) & (n <= max_words)
    flag_mean_len = (n > 0) & (3 * n <= wc) & (wc <= 10 * n)
    flag_symbol = 10 * (n_hash + n_ell) <= n
    flag_bullet = 10 * bullets <= 9 * n_lines
    flag_ellipsis = 10 * ell_end <= 3 * n_lines
    flag_alpha = (n > 0) & (5 * alpha >= 4 * n)
    flag_stopwords = stop_hits >= 2
    keep = (
        flag_word_count & flag_mean_len & flag_symbol & flag_bullet
        & flag_ellipsis & flag_alpha & flag_stopwords
    )
    return docs.select(
        id_col,
        n.cast("int").alias("n_words"),
        wc.cast("int").alias("word_chars"),
        n_lines.cast("int").alias("n_lines"),
        (n_hash + n_ell).cast("int").alias("n_symbols"),
        stop_hits.cast("int").alias("stopword_hits"),
        flag_word_count.alias("flag_word_count"),
        flag_mean_len.alias("flag_mean_len"),
        flag_symbol.alias("flag_symbol"),
        flag_bullet.alias("flag_bullet"),
        flag_ellipsis.alias("flag_ellipsis"),
        flag_alpha.alias("flag_alpha"),
        flag_stopwords.alias("flag_stopwords"),
        keep.alias("keep"),
    )


def char_diversity(docs: DataFrame) -> DataFrame:
    """Character-level diversity features: distinct-character count and the
    Simpson collision index Σc(c−1)/N(N−1) over the space-stripped
    normalized text — a float-free repetitiveness signal (1.0 ⟺ one char
    repeated; ≈1/|alphabet| ⟺ uniform). Emitted in exact integer micro-units
    via BIGINT `div`, so Spark and the oracle agree bit-for-bit.

    Per-doc counting stays inside whole-stage codegen with NO explode/shuffle:
    per distinct char d, count(d) = len(s) − len(replace(s,d)) — O(|Σ|·N)
    per document, |Σ| bounded by the alphabet. At 100 TB this is a narrow
    map; the groupBy-char alternative would shuffle one row PER CHARACTER."""
    s = F.replace(normalized_text(F.col("text")), F.lit(" "))
    n = F.length(s).cast("long")
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    dc = F.array_distinct(chars)
    cnts = F.transform(dc, lambda d: (F.length(s) - F.length(F.replace(s, d))).cast("long"))
    coll = F.aggregate(cnts, F.lit(0).cast("long"), lambda acc, c: acc + c * (c - 1))
    return (
        docs.select(
            "doc_id",
            n.alias("n_chars"),
            F.size(dc).cast("int").alias("distinct_chars"),
            coll.alias("_coll"),
        )
        .withColumn(
            "simpson_micro",
            F.when(
                F.col("n_chars") > 1,
                F.expr(
                    "(2000000 * _coll + n_chars * (n_chars - 1)) div (2 * n_chars * (n_chars - 1))"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("_coll")
    )


# Line-level drop phrases from the published C4 cleaning recipe (Raffel et
# al. 2020 §2.2): boilerplate/policy lines removed before page-level gates.
C4_LINE_PHRASES = (
    "javascript",
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)


def c4_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style cleaning gate (Raffel et al. 2020, §2.2) — the other
    canonical pre-training corpus filter next to :func:`gopher_rules`.
    Line level: keep only lines with ≥5 words that end in terminal
    punctuation (. ! ? ") and contain none of the boilerplate phrases in
    ``C4_LINE_PHRASES``. Page level: drop documents whose CLEANED text has
    <3 sentences (terminal-punctuation count), or whose RAW text contains
    'lorem ipsum' or a curly brace.

    Everything is exact integer/boolean arithmetic over built-in
    higher-order functions (transform/filter/array_join/translate) — zero
    UDF, no explode, no shuffle: at 100 TB this is one narrow
    whole-stage-codegen map over the corpus scan, trivially partitionable.

    Reference analogue: the page-level summary/filter annotations
    (/root/reference/deepdoctection/datapoint/annotation.py:471-488),
    generalized to the published C4 rule set."""
    text = F.col(text_col)
    lines = F.split(text, "\n", -1)
    # per-line whitespace trim shared by both engines (rtrim only strips
    # spaces; this also eats \r and \t at the seams)
    # explicit whitespace class: Java's \s and RE2's \s disagree on \x0B,
    # and the oracle runs on RE2 — spell the set out in both engines
    ws_cls = "[ \\t\\r\\f\\x0B]"
    wlines = F.transform(
        lines, lambda l: F.regexp_replace(l, f"(^{ws_cls}+)|({ws_cls}+$)", "")
    )

    def _line_keep(l):
        n_words = F.size(
            F.filter(F.split(l, ws_cls + "+"), lambda w: F.length(w) > 0)
        )
        terminal = F.substring(l, -1, 1).isin(".", "!", "?", '"')
        low = F.lower(l)
        no_boiler = ~low.contains(C4_LINE_PHRASES[0])
        for p in C4_LINE_PHRASES[1:]:
            no_boiler = no_boiler & ~low.contains(p)
        return (n_words >= 5) & terminal & no_boiler

    kept = F.filter(wlines, _line_keep)
    clean = F.array_join(kept, "\n")
    n_sent = (F.length(clean) - F.length(F.translate(clean, ".!?", ""))).cast(
        "long"
    )
    flag_sentences = n_sent >= 3
    flag_lorem = ~F.lower(text).contains("lorem ipsum")
    flag_brace = ~text.contains("{")
    keep = (F.size(kept) >= 1) & flag_sentences & flag_lorem & flag_brace
    return docs.select(
        id_col,
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("kept_lines"),
        n_sent.cast("int").alias("n_sentences"),
        F.length(clean).cast("int").alias("clean_chars"),
        flag_sentences.alias("flag_sentences"),
        flag_lorem.alias("flag_lorem"),
        flag_brace.alias("flag_brace"),
        keep.alias("keep"),
    )


def luhn_candidates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Checksum-validated payment-card detection: extract maximal digit
    runs, keep card-length candidates (13-19 digits), and validate each
    with the Luhn mod-10 checksum (ISO/IEC 7812) — the filter that
    separates real card numbers from order ids / timestamps / hashes,
    cutting the false-positive mass a length-only regex scrub
    (``pii_scrub``) would redact.

    Maximal ``\\d+`` runs need no lookaround boundaries, so extraction is
    engine-portable (RE2 and Java regex agree); the checksum is a pure
    integer fold over the reversed digits (doubling every second digit,
    subtracting 9 above 9) via JVM higher-order functions — transform +
    aggregate over a sequence, zero Python, zero shuffle. 100 TB shape: a
    narrow map over the corpus scan; the per-doc candidate explode is
    bounded by text length.

    Returns (doc_id, cand, n_digits, len_ok, luhn_valid) — one row per
    extracted run of ≥13 digits. Reference analogue: the SimpleTransform
    pre-clean stage (pipe/transform.py) as a compliance gate.
    """
    runs = F.regexp_extract_all(F.col(text_col), F.lit(r"\d+"), 0)
    ex = (
        docs.select("doc_id", F.explode(runs).alias("cand"))
        .where(F.length("cand") >= 13)
    )
    rev = F.reverse(F.col("cand"))
    chars = F.split(rev, "")
    n = F.length("cand")
    terms = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            i % 2 == 1, F.element_at(chars, i).cast("int")
        ).otherwise(
            F.when(F.element_at(chars, i).cast("int") * 2 > 9,
                   F.element_at(chars, i).cast("int") * 2 - 9)
            .otherwise(F.element_at(chars, i).cast("int") * 2)
        ),
    )
    total = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
    len_ok = (n <= 19).cast("int")
    return ex.select(
        "doc_id",
        "cand",
        n.cast("int").alias("n_digits"),
        len_ok.alias("len_ok"),
        ((total % 10 == 0).cast("int") * len_ok).alias("luhn_valid"),
    )


# Markdown extraction regexes — RE2-safe (no lookarounds/backrefs in the
# PATTERN; replacement backrefs differ by engine: $1 in Spark, \1 in DuckDB)
MD_FENCE = r"(?s)```(.*?)```"
MD_IMAGE = r"!\[[^\]]*\]\([^)]*\)"
MD_LINK = r"\[([^\]]*)\]\(([^)]*)\)"
MD_HEADER = r"(?m)^#{1,6}[ \t]+"
MD_EMPH = r"\*{1,2}([^*]*)\*{1,2}"


def markdown_extract(docs: DataFrame, col: str = "text") -> DataFrame:
    """Main-content extraction for Markdown payloads — the third payload
    family beside the HTML boilerplate stripper and the PDF layout parser
    (code/docs corpora arrive as README/docs Markdown): fenced code blocks
    lift out separately (code must not pollute prose token statistics or
    dedup shingles), images drop, links keep their anchor text while URLs
    harvest into the link column (the crawl-frontier feed), header markers
    and emphasis strip, and the prose normalizes to single-space text.

    Entirely JVM-side — one chain of regexp_replace/extract_all column
    expressions, zero Python, zero shuffle; the patterns avoid lookarounds
    and pattern backrefs so Java regex and RE2 agree, making the whole
    extraction differentially testable in DuckDB. Order matters and is part
    of the contract: fences first (link/emphasis rules must not fire inside
    code), images before links (``![`` overlaps ``[``).

    Returns (doc_id, text, n_links, links, n_images, n_fences, code_chars,
    n_headers)."""
    c = F.col(col)
    fences = F.regexp_extract_all(c, F.lit(MD_FENCE), 1)
    nofence = F.regexp_replace(c, MD_FENCE, " ")
    n_images = F.size(F.regexp_extract_all(nofence, F.lit(MD_IMAGE), 0))
    noimg = F.regexp_replace(nofence, MD_IMAGE, " ")
    links = F.regexp_extract_all(noimg, F.lit(MD_LINK), 2)
    unlinked = F.regexp_replace(noimg, MD_LINK, "$1")
    n_headers = F.size(F.regexp_extract_all(unlinked, F.lit(MD_HEADER), 0))
    nohdr = F.regexp_replace(unlinked, MD_HEADER, "")
    clean = F.regexp_replace(nohdr, MD_EMPH, "$1")
    return docs.select(
        "doc_id",
        F.trim(F.regexp_replace(clean, r"[ \t\n\r\f\x0B]+", " "))
        .alias("text"),
        F.size(links).cast("int").alias("n_links"),
        F.array_join(links, ",").alias("links"),
        n_images.cast("int").alias("n_images"),
        F.size(fences).cast("int").alias("n_fences"),
        F.aggregate(
            F.transform(fences, lambda x: F.length(x)),
            F.lit(0), lambda a, x: a + x,
        ).cast("int").alias("code_chars"),
        n_headers.cast("int").alias("n_headers"),
    )


MD_TABLE_SEP = r"^\|[-:| ]+\|?$"


def markdown_tables(docs: DataFrame, col: str = "text") -> DataFrame:
    """GFM pipe-table extraction from Markdown payloads into the engine's
    cell relation — (doc_id, row, col, cell, is_header), the same
    row/col-addressed shape the HTML/PDF table segmenters emit
    (kernels/table.py, kernels/pubtables.py), so Markdown tables flow into
    the existing table_html / CSV assembly downstream.

    Pure JVM: split on newlines, keep ``|``-prefixed lines minus the
    ``|---|``-style alignment separator, then two posexplodes (row index
    among kept lines, cell index after stripping the outer pipes). Zero
    Python, zero shuffle; RE2-safe so DuckDB replays it."""
    c = F.col(col)
    rows_arr = F.filter(
        F.split(c, "\n"),
        lambda line: line.startswith("|") & ~line.rlike(MD_TABLE_SEP),
    )
    rx = docs.select(
        "doc_id", F.posexplode(rows_arr).alias("r0", "line"))
    cells = F.split(
        F.regexp_replace(F.regexp_replace(F.col("line"), r"^\|", ""),
                         r"\|$", ""),
        r"\|")
    return rx.select(
        "doc_id",
        (F.col("r0") + 1).cast("int").alias("row"),
        F.posexplode(cells).alias("c0", "cell0"),
    ).select(
        "doc_id", "row",
        (F.col("c0") + 1).cast("int").alias("col"),
        F.trim(F.col("cell0")).alias("cell"),
        (F.col("row") == 1).cast("int").alias("is_header"),
    )
