"""Corpus-preparation operators for LLM training-data pipelines:
benchmark decontamination, repetition filtering, importance weighting,
and deterministic stratified sampling.

These are the curation passes that run BETWEEN extraction and publish
(reference analogue: the dataflow curation surface — MapData filters and
the dataset split machinery, /root/reference/deepdoctection/datasets/
dataflow_builder.py and mapper/maputils.py — reimagined as the passes a
100 TB pretraining pipeline actually needs). Everything is pure column
expressions + hash aggregations: no UDFs, no driver loops, every join an
equi-join with a bounded small side.

Determinism contract (shared with the DuckDB oracles in
plans/training_ops.py): every floating-point score is either quantized to
integer micro-units before aggregation (importance log-ratios) or produced
by one identical IEEE-double expression and floor-quantized (fractions),
so cross-engine comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deepdoctection_spark.operators.dedup import normalized_text
from deepdoctection_spark.operators.textstats import _round4

# Benchmark membership and the snippet window are deterministic functions of
# the corpus itself, so tests and oracles rebuild the identical eval set.
DECONTAM_BENCH_MOD = 37
DECONTAM_SNIPPET_START = 3  # 1-based token position
DECONTAM_SNIPPET_LEN = 18

DSIR_NUM_BUCKETS = 64
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")

REP_TOP2_THRESHOLD = 0.20
REP_DUP5_THRESHOLD = 0.30


def _ws(text_col: str = "text") -> Column:
    """Whitespace tokens of the normalized text (unfiltered split — matches
    DuckDB string_split; an empty document yields [''] which produces no
    valid k-gram downstream)."""
    return F.split(normalized_text(F.col(text_col)), " ")


def _kgrams(arr: Column, k: int) -> Column:
    """All positional k-grams of a token array as space-joined strings,
    JVM-side (sequence → transform(slice+join)); partial grams from arrays
    shorter than k are filtered by the word-count guard."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(arr) - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(arr, i + 1, k), " "))
    return F.filter(grams, lambda g: F.size(F.split(g, " ")) == k)


def decontaminate(docs: DataFrame, k: int = 5) -> DataFrame:
    """Benchmark decontamination — the n-gram-overlap pass every pretraining
    pipeline runs before publish (the GPT-3/Llama recipe, published in both
    papers: a training document is contaminated if it shares any k-gram with
    the evaluation set; n=13 at production scale, n=5 here so the word-list
    corpus actually collides).

    The benchmark set is derived deterministically from the corpus: docs with
    doc_id % 37 == 0 contribute tokens 3..20 of their normalized text as an
    "eval prompt", which guarantees real overlap to detect. The oracle
    rebuilds the identical set, so the parity check exercises the overlap
    join itself.

    Plan shape at 100 TB: the eval set is tiny (benchmarks are KBs against a
    100 TB corpus), so its distinct k-gram set is BROADCAST; the corpus side
    is one narrow k-gram explode → distinct → broadcast-hash semi-ish join →
    per-doc count. No shuffle carries more than the per-doc distinct k-gram
    stream, and the join never shuffles the corpus side.
    """
    ws = _ws()
    corp = docs.select(
        "doc_id", F.explode(_kgrams(ws, k)).alias("g")
    ).distinct()
    bench_arr = F.slice(ws, DECONTAM_SNIPPET_START, DECONTAM_SNIPPET_LEN)
    bench = (
        docs.where(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
        .select(F.explode(_kgrams(bench_arr, k)).alias("g"))
        .distinct()
    )
    sizes = corp.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_ngrams"))
    hits = (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    n = F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long")
    h = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_ngrams"),
            h.alias("n_hits"),
            (h > 0).alias("contaminated"),
            _round4(h / F.greatest(n, F.lit(1))).alias("contam_frac"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: per document, the occurrence share of
    the most frequent 2-gram and the share of 5-gram occurrences that are
    duplicates — the two signals the Gopher/MassiveText quality rules use to
    drop boilerplate and degenerate repetition (published thresholds; here
    0.20 / 0.30 on occurrence fractions).

    The word-list corpus barely repeats by construction, so deterministic
    repetition is planted first: each document's token stream is extended
    with (doc_id % 4) copies of its first 8 tokens — the oracle plants the
    identical extension, so the parity check exercises the n-gram counting,
    not the planting.

    Plan shape: two hash aggregations on (doc_id, gram) — map-side
    combinable, no join wider than doc_id — then one per-doc merge. At
    corpus scale this is the same shape as word-count.
    """
    ws = _ws()
    reps = (F.col("doc_id") % 4).cast("int")
    aug = F.concat(
        ws,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), reps),
                lambda _: F.slice(ws, 1, 8),
            )
        ),
    )
    # sequence(1, 0) raises in Spark; guard empty via when
    aug = F.when(reps > 0, aug).otherwise(ws)

    g2 = docs.select("doc_id", F.explode(_kgrams(aug, 2)).alias("g"))
    g5 = docs.select("doc_id", F.explode(_kgrams(aug, 5)).alias("g"))
    c2 = g2.groupBy("doc_id", "g").agg(F.count("*").cast("long").alias("c"))
    c5 = g5.groupBy("doc_id", "g").agg(F.count("*").cast("long").alias("c"))
    s2 = c2.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n2"),
        F.max("c").cast("long").alias("max2"),
    )
    s5 = c5.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n5"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup5"),
    )
    top2_frac = _round4(
        F.coalesce(F.col("max2"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n2"), F.lit(0)), F.lit(1))
    )
    dup5_frac = _round4(
        F.coalesce(F.col("dup5"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n5"), F.lit(0)), F.lit(1))
    )
    return (
        docs.select("doc_id")
        .join(s2, "doc_id", "left")
        .join(s5, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n2"), F.lit(0)).cast("long").alias("n2"),
            top2_frac.alias("top2_frac"),
            F.coalesce(F.col("n5"), F.lit(0)).cast("long").alias("n5"),
            dup5_frac.alias("dup5_frac"),
            (
                (top2_frac > REP_TOP2_THRESHOLD)
                | (dup5_frac > REP_DUP5_THRESHOLD)
            ).alias("repetitive"),
        )
    )


def _bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable feature hash: first 8 hex chars of md5 as a bigint,
    mod n_buckets (the similarity.py SimHash idiom)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets


def dsir_weights(
    docs: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    n_buckets: int = DSIR_NUM_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash every token into B
    buckets, estimate the target-domain and raw-corpus bucket distributions
    with Laplace smoothing, and score each document by the sum of per-token
    log probability ratios. Documents that look like the target domain get
    positive log-weights; importance resampling then samples by weight.

    The target domain is docs from sources src0..src2 (a deterministic
    stand-in for "high-quality domain"). Each bucket's log-ratio is
    quantized to integer micro-units BEFORE the per-doc sum, so the
    cross-engine aggregation is exact integer math in any order.

    Plan shape at 100 TB: one token explode feeding a B-row (64) hash
    aggregation, the B-row ratio table broadcast back onto the token stream
    (broadcast hash equi-join on bucket), one per-doc sum. The only wide
    shuffle is the per-doc aggregation, keyed on doc_id.
    """
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(_ws()).alias("token"),
    ).where(F.length("token") > 0)
    toks = toks.withColumn("bucket", _bucket(F.col("token"), n_buckets))
    is_tgt = F.col("source").isin(*target_sources)
    buckets = toks.groupBy("bucket").agg(
        F.count("*").cast("long").alias("raw_cnt"),
        F.sum(F.when(is_tgt, 1).otherwise(0)).cast("long").alias("tgt_cnt"),
    )
    w_all = Window.partitionBy(F.lit(1))
    buckets = buckets.select(
        "bucket",
        "raw_cnt",
        "tgt_cnt",
        F.sum("raw_cnt").over(w_all).cast("long").alias("raw_total"),
        F.sum("tgt_cnt").over(w_all).cast("long").alias("tgt_total"),
    )
    b = F.lit(float(n_buckets))
    lr = F.log(
        ((F.col("tgt_cnt") + 1.0) * (F.col("raw_total") + b))
        / ((F.col("raw_cnt") + 1.0) * (F.col("tgt_total") + b))
    )
    lr_q6 = F.floor(lr * 1000000 + F.lit(0.5)).cast("long")
    ratio_table = buckets.select("bucket", lr_q6.alias("lr_q6"))
    scored = (
        toks.join(F.broadcast(ratio_table), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("lr_q6").cast("long").alias("logw_q6"),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce(F.col("logw_q6"), F.lit(0)).cast("long").alias("logw_q6"),
            (F.coalesce(F.col("logw_q6"), F.lit(0)) / 1000000.0).alias("logw"),
        )
    )


def stratified_sample(docs: DataFrame, frac: float = 0.3) -> DataFrame:
    """Deterministic stratified sampling: within each source stratum, rank
    documents by a salted md5 of their id (a fixed uniform permutation) and
    keep the first ceil(frac·|stratum|) — reproducible train-subset /
    ablation sampling with exact per-stratum proportions, no RNG state.

    Plan shape: one window sort per stratum (partitionBy source); nothing
    else. At corpus scale the per-stratum sort is the cost of any exact
    without-replacement sample; for approximate sampling the keep decision
    degenerates to a pure hash filter (no window) — that variant is the
    md5-threshold filter used by jobs/curate.py's wave sampling.
    """
    key = F.md5(F.concat(F.lit("samp#"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    ws_cnt = Window.partitionBy("source")
    rn = F.row_number().over(w).cast("long")
    n_src = F.count("*").over(ws_cnt).cast("long")
    return docs.select(
        "doc_id",
        "source",
        rn.alias("sample_rank"),
        n_src.alias("n_source"),
        (rn <= F.ceil(n_src * F.lit(float(frac)))).alias("keep"),
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

PACK_SEQ_LEN = 256
PACK_BUCKET_WIDTH = 64


def chunk_documents(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """RAG-style sliding-window chunking: split each document into windows of
    `chunk` tokens advancing by `stride` (overlap = chunk - stride), the
    retrieval-index preparation pass. Start positions are 0, stride, 2·stride,
    …; the window count is 1 + ceil(max(0, n - chunk)/stride) so every token
    is covered and only the last window may be short.

    Embarrassingly parallel — one narrow projection + posexplode, no shuffle
    at all; at 100 TB this runs at scan speed."""
    ws = _ws()
    n = F.size(ws)
    n_starts = (
        F.lit(1)
        + F.ceil(F.greatest(n - chunk, F.lit(0)) / F.lit(float(stride)))
    ).cast("int")
    pieces = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda s: F.array_join(F.slice(ws, s * stride + 1, chunk), " "),
    )
    exploded = docs.select(
        "doc_id", n.alias("n_tokens"), F.posexplode(pieces).alias("chunk_idx", "chunk_text")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        "n_tokens",
        F.size(F.split("chunk_text", " ")).cast("int").alias("n_chunk_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = PACK_SEQ_LEN,
    bucket_width: int = PACK_BUCKET_WIDTH,
) -> DataFrame:
    """Sequence packing (the GPT-style concat-and-chunk recipe): concatenate
    all documents in a fixed global order (doc_id) and cut fixed windows of
    `seq_len` tokens; report each document's byte-exact placement — global
    token offset, first/last training sequence touched, and how many
    sequences it spans.

    The interesting part at 100 TB is the GLOBAL EXCLUSIVE PREFIX SUM of
    token counts. A naive `sum() over (order by doc_id)` is a single-partition
    window — the whole corpus through one task. This uses the scalable
    two-level formulation instead: (1) per-bucket token sums (hash agg,
    bucket = floor(doc_id / width), monotone in the global order), (2) an
    exclusive cumsum over the tiny bucket table (the only ordered window,
    |buckets| = n_docs/width rows; at extreme scale this level recurses), (3)
    a broadcast join back and a within-bucket exclusive cumsum (window
    partitioned BY BUCKET — parallel). Offsets are exact longs, so the DuckDB
    oracle's single global cumsum must agree bit-for-bit; agreement proves
    the distributed decomposition."""
    ws = _ws()
    n_tok = F.size(F.filter(ws, lambda w: F.length(w) > 0)).cast("long")
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.floor(F.col("doc_id") / bucket_width).cast("long").alias("bucket"),
    )
    bucket_sums = base.groupBy("bucket").agg(
        F.sum("n_tokens").cast("long").alias("bucket_tokens")
    )
    w_buckets = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_offsets = bucket_sums.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_buckets), F.lit(0))
        .cast("long")
        .alias("bucket_offset"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.join(F.broadcast(bucket_offsets), "bucket").select(
        "doc_id",
        "n_tokens",
        (
            F.col("bucket_offset")
            + F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
        )
        .cast("long")
        .alias("offset"),
    )
    first = F.floor(F.col("offset") / seq_len).cast("long")
    last = F.floor((F.col("offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / seq_len).cast("long")
    return placed.select(
        "doc_id",
        "n_tokens",
        "offset",
        first.alias("seq_first"),
        last.alias("seq_last"),
        F.when(F.col("n_tokens") > 0, last - first + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
    )


LINE_SEG_TOKENS = 8


def line_dedup(docs: DataFrame, seg: int = LINE_SEG_TOKENS) -> DataFrame:
    """CCNet-style corpus-wide segment dedup: cut each document into
    consecutive `seg`-token segments ("paragraphs" — the synthetic corpus
    has no newlines), hash each, and keep a segment only if it is the
    GLOBAL first occurrence of its hash in (doc_id, seg_idx) order. Per
    document: segment counts, drop counts, kept-token count, and the md5 of
    the deduplicated text (byte-checkable reassembly).

    Scale shape (the CCNet recipe at 100 TB): segments explode narrowly
    (no shuffle), first-occurrence is ONE hash aggregation keyed by segment
    hash (min over a (doc_id, seg_idx) struct — no global window, no sort),
    the keep flag is the equi-join back on the same hash key (the exchange
    is reused), and the per-doc rollup is a second hash agg. Every stage is
    key-parallel; nothing touches a single partition."""
    ws = _ws()
    n_segs_c = F.ceil(F.size(ws) / F.lit(float(seg))).cast("int")
    pieces = F.transform(
        F.sequence(F.lit(0), n_segs_c - 1),
        lambda s: F.array_join(F.slice(ws, s * seg + 1, seg), " "),
    )
    segs = docs.select(
        "doc_id", F.posexplode(pieces).alias("seg_idx", "seg_text")
    ).select("doc_id", "seg_idx", "seg_text", F.md5("seg_text").alias("h"))
    firsts = segs.groupBy("h").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_key")
    )
    flagged = segs.join(firsts, "h").select(
        "doc_id",
        "seg_idx",
        "seg_text",
        (
            (F.col("doc_id") == F.col("first_key.doc_id"))
            & (F.col("seg_idx") == F.col("first_key.seg_idx"))
        ).alias("keep"),
    )
    kept_struct = F.when(F.col("keep"), F.struct("seg_idx", "seg_text"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_dropped"),
            F.sum(
                F.when(F.col("keep"), F.size(F.split("seg_text", " "))).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["seg_text"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Temperature-scaled data-mixture weights per source (the multilingual
    upsampling recipe: w_i ∝ p_i^α with α = 0.5): token share p, the
    resampled weight, and the oversample factor weight/p for each source.

    Determinism contract: every float step is an exactly-rounded IEEE
    operation on exact integers — p is quantized to parts-per-million by
    INTEGER division, p^0.5 is one `sqrt` call (exactly rounded per
    IEEE-754, unlike `pow`) quantized to milli-units, and the
    normalizations are integer divisions over exact integer sums — so the
    DuckDB oracle agrees bit-for-bit regardless of aggregation order.

    Scale shape: one hash agg per source (map-side partial), a 1-row global
    total broadcast back; the per-source table is tiny at any corpus size."""
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.filter(_ws(), lambda w: F.length(w) > 0)))
        .cast("long")
        .alias("n_tokens"),
    )
    total = per_src.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    with_p = per_src.join(F.broadcast(total)).withColumn(
        "p_q6",
        F.floor(F.col("n_tokens") * F.lit(1000000) / F.col("tot_tokens")).cast("long"),
    )
    with_s = with_p.withColumn(
        "s_q3",
        F.floor(F.sqrt(F.col("p_q6").cast("double")) * 1000 + F.lit(0.5)).cast("long"),
    )
    s_total = with_s.agg(F.sum("s_q3").cast("long").alias("s_tot"))
    return (
        with_s.join(F.broadcast(s_total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "p_q6",
            "s_q3",
            F.floor(F.col("s_q3") * F.lit(1000000) / F.col("s_tot"))
            .cast("long")
            .alias("weight_q6"),
            F.floor(
                F.col("s_q3")
                * F.lit(1000000000)
                / (F.col("s_tot") * F.greatest(F.col("p_q6"), F.lit(1)))
            )
            .cast("long")
            .alias("oversample_q3"),
        )
    )


BPE_TOP_K = 20


def bpe_pair_counts(docs: DataFrame, top_k: int = BPE_TOP_K) -> DataFrame:
    """One BPE-training merge step at corpus scale: count adjacent
    character-pair occurrences across the corpus, weighted by word
    frequency, and rank the top-k merge candidates (count desc, then pair
    asc — the deterministic tie-break real tokenizer trainers need for
    reproducible vocab builds).

    Scale shape (the tokenizer-training inner loop over 100 TB): the corpus
    collapses to a DISTINCT-word vocabulary first (one hash agg — the only
    shuffle proportional to data size), pairs then explode over the tiny
    vocab (narrow), a second hash agg keys the |alphabet|²-bounded pair
    space, and the top-k is a TakeOrdered (per-partition heaps + driver
    merge of k rows), never a global sort."""
    vocab = (
        docs.select(F.explode(_ws()).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_word"))
    )
    idx = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = vocab.where(F.length("word") >= 2).select(
        "n_word",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat(
                    F.col("word").substr(i, F.lit(1)),
                    F.col("word").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("n_word").cast("long").alias("pair_count"))
    ranked = counted.orderBy(F.col("pair_count").desc(), F.col("pair").asc()).limit(
        top_k
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.substring("pair", 1, 1).alias("left_sym"),
        F.substring("pair", 2, 1).alias("right_sym"),
        "pair_count",
    )


BPE_SEP = "\x1f"  # unit separator: symbol delimiter, excluded from the corpus
BPE_MERGES = 10


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Full iterated BPE trainer (Sennrich et al. 2016): learn ``n_merges``
    merge rules over the corpus, emitting the merge table
    (rank, left_sym, right_sym, new_token, pair_count).

    Representation: each word's symbol sequence is one STRING with every
    symbol wrapped in \\x1f (``"ab" → "\\x1fa\\x1f\\x1fb\\x1f"``), so applying
    a merge (l, r) is a single literal ``replace(enc, ␟l␟␟r␟ → ␟lr␟)`` —
    non-overlapping left-to-right, exactly the greedy BPE apply rule, and
    byte-identical between Spark and the DuckDB oracle (which replays the
    same loop as an unrolled CTE chain).

    Scale shape (tokenizer training over 100 TB): the corpus collapses to
    the distinct-word vocabulary ONCE (the only data-proportional shuffle,
    cached); each merge step is then a narrow split→explode over the
    bounded vocab, a hash agg over the bounded pair space, and a
    ``takeOrdered(1)`` argmax (per-partition heaps + a 1-row driver merge —
    the only driver-side state is the model-sized merge table itself).
    Ties break (count desc, encoded pair asc) for reproducible vocabs.
    Reference analogue: the token-classifier serving seam
    (pipe/lm.py:36-340) — tokenization is its input contract."""
    merges, vocab0, _ = _bpe_train_loop(docs, n_merges)
    vocab0.unpersist()
    return docs.sparkSession.createDataFrame(
        merges,
        "rank int, left_sym string, right_sym string, new_token string, pair_count long",
    )


def _bpe_train_loop(docs: DataFrame, n_merges: int):
    """Shared trainer loop: returns (merges, cached_base_vocab, final_vocab)
    where final_vocab is (word, enc, n_word) after all merges. Caller owns
    unpersisting the cached base."""
    vocab0 = (
        docs.select(F.explode(_ws()).alias("word"))
        .where((F.length("word") > 0) & ~F.col("word").contains(BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_word"))
        .select(
            "word",
            F.regexp_replace("word", "(.)", BPE_SEP + "$1" + BPE_SEP).alias("enc"),
            "n_word",
        )
        .cache()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    vocab = vocab0
    for step in range(n_merges):
        syms = F.split(
            F.expr("substring(enc, 2, length(enc) - 2)"), BPE_SEP + BPE_SEP
        )
        pairs = (
            vocab.select(syms.alias("syms"), "n_word")
            .where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.concat(
                            F.element_at("syms", i),
                            F.lit(BPE_SEP),
                            F.element_at("syms", i + 1),
                        ),
                    )
                ).alias("pair"),
                "n_word",
            )
            .groupBy("pair")
            .agg(F.sum("n_word").cast("long").alias("pair_count"))
        )
        best = pairs.orderBy(F.col("pair_count").desc(), F.col("pair").asc()).take(1)
        if not best:
            break
        left, right = best[0]["pair"].split(BPE_SEP)
        merges.append((step + 1, left, right, left + right, best[0]["pair_count"]))
        vocab = vocab.select(
            "word",
            F.replace(
                F.col("enc"),
                F.lit(BPE_SEP + left + BPE_SEP + BPE_SEP + right + BPE_SEP),
                F.lit(BPE_SEP + left + right + BPE_SEP),
            ).alias("enc"),
            "n_word",
        )
    return merges, vocab0, vocab


def bpe_encode_corpus(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Apply the trained BPE merges back to the corpus: per-document valid
    word count and post-merge TOKEN count (the tokenizer-side half of
    bpe_train — together they close the train→encode loop a training-data
    engine needs).

    Scale shape: tokenization happens ONCE PER DISTINCT WORD (the merges
    apply as the trainer's narrow replace chain over the cached vocab, and
    the per-word token count is one split+size) — the corpus-scale work is
    a word→vocab equi-join plus one doc_id hash agg. No per-document
    Python, no re-tokenizing repeated words."""
    merges, vocab0, final_vocab = _bpe_train_loop(docs, n_merges)
    tok = final_vocab.select(
        "word",
        F.size(
            F.split(F.expr("substring(enc, 2, length(enc) - 2)"), BPE_SEP + BPE_SEP)
        ).cast("long").alias("n_tok"),
    )
    words = docs.select(
        "doc_id", F.explode(_ws()).alias("word")
    ).where((F.length("word") > 0) & ~F.col("word").contains(BPE_SEP))
    agg = (
        words.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    # unpersist is safe before the action (Spark recomputes the narrow
    # replace chain from the word agg when the returned plan executes)
    vocab0.unpersist(blocking=False)
    return out


RES_SAMPLE_K = 100
_DYADIC = 4503599627370496.0  # 2^52: 52-bit hash + 1 over 2^52 is an EXACT double


def weighted_sample_es(docs: DataFrame, k: int = RES_SAMPLE_K) -> DataFrame:
    """Distributed weighted sampling without replacement (Efraimidis &
    Spirakis 2006, the A-ES scheme production pipelines use to draw a
    quality-weighted subset from a corpus too large to sort): each document
    gets key = ln(u)/w with u uniform in (0,1] and w its weight (token
    count here); the global top-k keys ARE a weighted sample without
    replacement.

    Determinism contract: u is an exact dyadic rational from a 52-bit md5
    prefix ((h+1)/2^52 — exactly representable, no rounding), so ln(u) is
    one libm call on identical doubles in both engines; the key is
    quantized to 1e-12 before ranking (ln agrees across libms to ~1 ulp ≈
    1e-15 at these magnitudes, far inside the quantization), and ties break
    on doc_id. Scale shape: narrow map to (key, doc_id), then TakeOrdered
    top-k (per-partition heaps + a k-row driver merge) — the whole corpus
    is never sorted, shuffled, or collected."""
    ws = _ws()
    w = F.greatest(
        F.size(F.filter(ws, lambda t: F.length(t) > 0)), F.lit(1)
    ).cast("long")
    h52 = F.conv(
        F.substring(F.md5(F.concat(F.lit("res#"), F.col("doc_id").cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    u = (h52 + F.lit(1)).cast("double") / F.lit(_DYADIC)
    key_q12 = F.floor(F.log(u) / w * F.lit(1.0e12)).cast("long")
    scored = docs.select(
        "doc_id", w.alias("weight"), key_q12.alias("key_q12")
    )
    top = scored.orderBy(F.col("key_q12").desc(), F.col("doc_id").asc()).limit(k)
    rank_w = Window.orderBy(F.col("key_q12").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(rank_w).cast("int").alias("sample_rank"),
        "doc_id",
        "weight",
        "key_q12",
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity quality bucketing (the CCNet head/middle/tail pass)
# ---------------------------------------------------------------------------

PPLX_START = "<s>"
# CCNet buckets documents by LM perplexity percentile; with a corpus-trained
# bigram model the equivalent fixed operating points are avg bits/token
# thresholds, compared in exact integer micro-bits.
PPLX_HEAD_MICROBITS = 7_000_000   # avg nll < 7.0 bits/token -> "head"
PPLX_TAIL_MICROBITS = 10_000_000  # avg nll >= 10.0 bits/token -> "tail"


def bigram_perplexity(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document — the quality signal
    CCNet computes with a KenLM model, rebuilt self-contained: train add-one
    smoothed bigram counts on the corpus itself, score every document, and
    bucket head/middle/tail on fixed avg-bits thresholds (reference
    analogue: LanguageDetectionService's score-and-tag shape,
    pipe/language.py — a per-document model score materialized as columns).

    Model: p(w|v) = (C(v,w) + 1) / (C(v) + V) with V = |{predicted words}|;
    every document is conditioned from a virtual ``<s>`` start token, so a
    doc with n tokens contributes exactly n bigrams and no document is
    dropped (empty-normalized docs are excluded, same as line_dedup).

    Scale shape: one JVM-side transform builds the (prev, cur) pair array
    per row (no per-position shuffle of the full token array), the pair and
    context counts are map-side-combinable hash aggregations, scoring is
    two equi-joins on the aggregated tables plus one 1-row broadcast — at
    100 TB the bigram-count relation is the only big shuffle and it is
    bounded by distinct-bigram cardinality, not corpus size.

    Determinism contract (token_surprisal's): each bigram's -log2 p is
    quantized to integer micro-bits BEFORE summing; buckets compare the
    integer average, so cross-engine agreement is exact.
    """
    ws = _ws()
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda j: F.struct(
            F.when(j == 0, F.lit(PPLX_START))
            .otherwise(F.element_at(ws, j))
            .alias("prev"),
            F.element_at(ws, j + 1).alias("cur"),
        ),
    )
    bigrams = (
        docs.where(F.length(normalized_text(F.col("text"))) > 0)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    )
    pair_counts = bigrams.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("c_pair")
    )
    ctx_counts = pair_counts.groupBy("prev").agg(
        F.sum("c_pair").cast("long").alias("c_prev")
    )
    vocab = bigrams.agg(
        F.countDistinct("cur").cast("long").alias("v_size")
    )
    scored = (
        bigrams.join(pair_counts, ["prev", "cur"])
        .join(ctx_counts, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                -F.log2(
                    (F.col("c_pair") + 1).cast("double")
                    / (F.col("c_prev") + F.col("v_size"))
                )
                * 1000000
                + F.lit(0.5)
            ).cast("long").alias("s6"),
        )
    )
    avg_micro = F.floor(F.sum("s6") / F.count("*")).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        (F.floor(F.sum("s6") / F.count("*") / 100 + F.lit(0.5)) / 10000.0).alias(
            "avg_nll_bits"
        ),
        F.when(avg_micro < PPLX_HEAD_MICROBITS, F.lit("head"))
        .when(avg_micro < PPLX_TAIL_MICROBITS, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (ExactSubstr, Lee et al. 2022)
# ---------------------------------------------------------------------------

SUBSTR_K = 8  # duplicated-run detection window, in tokens


def exact_substr_spans(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Duplicated-substring span detection — the ExactSubstr pass of
    "Deduplicating Training Data Makes Language Models Better" (Lee et al.
    2022), bounded for Spark: a token position is *duplicated* when the
    k-gram starting there occurs more than once in the corpus (any
    document, including its own); overlapping/contiguous duplicated
    windows merge into maximal spans per document (gaps-and-islands over
    one doc_id window). Output rows exist only for documents that contain
    at least one duplicated k-gram.

    Scale shape: positional k-grams are built JVM-side per row and travel
    as md5 digests (fixed 32-byte shuffle keys, never the raw text); the
    occurrence count is one map-side-combinable hash aggregation; the
    join back is an equi-join on the digest; span merging is two window
    passes over doc_id partitions — one shuffle, no self-join, no
    suffix array. The reference-pipeline analogue of the suffix-automaton
    step, expressed in the candidate-generate/verify shape every dedup
    operator here uses.
    """
    ws = _ws()
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - k),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.array_join(F.slice(ws, i + 1, k), " ")).alias("h"),
        ),
    )
    occ = (
        docs.where(F.size(ws) >= k)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    dup_hashes = (
        occ.groupBy("h")
        .agg(F.count("*").cast("long").alias("n_occ"))
        .where(F.col("n_occ") > 1)
        .select("h")
    )
    dup_occ = occ.join(dup_hashes, "h").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = dup_occ.withColumn(
        "prev_end", F.max(F.col("pos") + k).over(w_prev)
    ).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + k).alias("e"),
    )
    per_doc_grams = dup_occ.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_grams")
    )
    per_doc_spans = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.format_string("%06d:%06d", "s", "e"))
                ),
                ",",
            )
        ).alias("span_md5"),
    )
    return per_doc_grams.join(per_doc_spans, "doc_id")


def stride_schedule(docs: DataFrame, weights: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic cross-source interleave for a mixture-weighted training
    loader (stride scheduling, Waldspurger & Weihl 1995): source s's k-th
    document is consumed at virtual time (k − ½)/w_s, so sorting by the
    schedule key yields a stream whose every prefix tracks the mixture
    proportions within one document per source — the interleave that turns
    ``mixture_weights`` (what share) and ``epoch_shuffle`` (order within a
    source) into an executable epoch plan without any RNG state.

    key_q3 = (2k − 1)·10⁹ DIV (2·max(weight_q6, 1)): exact BIGINT
    arithmetic, so the schedule is bit-identical across engines, re-runs
    and cluster sizes. A source whose weight floors to 0 runs at the
    smallest weight, 1 ppm, instead of dividing by zero. Within-source k
    here is a per-source md5-ordered rank window;
    at 10^12 rows a production loader takes k from ``epoch_shuffle``'s
    shard-local rank instead (bounded window groups) and never sorts a
    whole source. The weights side is sources-sized and broadcast.

    Returns (source, id, k, key_q3); the loader materializes by writing
    bucketed/sorted by key_q3 — ordering is carried by the key, no global
    rank is ever computed.
    """
    order_key = F.md5(
        F.concat(F.lit("sched#"), F.col(id_col).cast("string"))
        .cast("binary"))
    w = Window.partitionBy("source").orderBy(order_key)
    ranked = docs.select("source", id_col).withColumn(
        "k", F.row_number().over(w).cast("long"))
    return (
        ranked.join(F.broadcast(weights.select("source", "weight_q6")),
                    "source")
        .select(
            "source", id_col, "k",
            F.expr("((2 * k - 1) * 1000000000L)"
                   " DIV (2 * greatest(weight_q6, 1))")
            .alias("key_q3"),
        )
    )
