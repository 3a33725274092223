"""Deduplication operators over a document corpus — the training-data-pipeline
surface of the engine (exact, n-gram Jaccard, MinHash+LSH, SimHash).

The reference has only per-record identity dedup (deterministic annotation ids
deduped in DatapointManager, /root/reference/deepdoctection/pipe/anngen.py:88-131);
corpus-level near-dup detection is the capability a 100 TB ingest pipeline
adds on top. All operators here are pure DataFrame compositions (JVM-side,
shuffle-aware) — no Python in the hot path at all.

Scale design (10^9+ docs):
- Exact: single hash-shuffle on the fingerprint; partial agg map-side.
- Jaccard candidates come from an equi-join on shared shingles. The skew
  hazard is ultra-common shingles ("of the and"): `max_shingle_df` drops
  shingles whose document frequency exceeds a cap before the self-join —
  standard candidate pruning that bounds join fan-out to df², and AQE
  skew-join splits whatever remains.
- MinHash+LSH replaces the all-shared-shingles join with a band-bucket join:
  candidates = pairs agreeing on ≥1 of B bands of R rows each (P ≈
  1-(1-j^R)^B), then exact-Jaccard verification of candidates only. Hashes
  are md5-derived so any SQL engine reproduces them bit-for-bit.
- SimHash: 32 per-bit weighted sums computed as ONE aggregation pass (32
  conditional-sum columns — no bit explosion), fingerprint assembled by
  shift-or; near-dup pairs via pigeonhole banding (hamming ≤ k ⇒ the k+1
  disjoint bit-chunks agree on ≥1 chunk → equi-join on chunk buckets), then
  exact hamming verification via bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIMHASH_BITS = 32


def normalized_text(col: Column) -> Column:
    # explicit class, NOT \s: Java's \s includes \x0B (vertical tab) but
    # RE2's (DuckDB) does not — a \x0B in real text would silently diverge
    # every _NORM-derived oracle. The class below means the same thing in
    # both engines (and matches kernels/textnorm._WS_RE).
    return F.trim(F.regexp_replace(col, r"[ \t\n\r\f\x0B]+", " "))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group by content fingerprint; keep-first semantics (min doc_id)."""
    return (
        docs.select("doc_id", F.md5(normalized_text(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingles(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct k-word shingles, built JVM-side:
    split → sequence(0, n-k) → transform(slice+join) → explode."""
    ws = F.split(normalized_text(F.col(text_col)), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, k), " "))
    return (
        docs.select("doc_id", F.explode(sh).alias("shingle"))
        .where(F.size(F.split(F.col("shingle"), " ")) == k)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs by k-gram Jaccard ≥ threshold.

    max_shingle_df prunes candidate generation at scale (drops shingles whose
    document frequency exceeds the cap before the self-join, bounding fan-out
    to cap² per shingle). Both configurations are oracle-checked:
    dedup_ngram_jaccard (uncapped — the pure SQL-defined result set) and
    dedup_ngram_jaccard_pruned (capped — the shape that runs at 100 TB)."""
    sh = shingles(docs, k)
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(
            F.broadcast(df_counts.where(F.col("df") <= max_shingle_df).select("shingle")),
            "shingle",
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("intersect_size"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersect_size")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("intersect_size")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersect_size", "jaccard")
    )


def _md5_hash64(col: Column, salt: str) -> Column:
    """Deterministic 60-bit hash reproducible in any SQL engine:
    first 15 hex chars of md5(salt # value) as a bigint."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt + "#"), col)), 1, 15), 16, 10).cast("long")


def shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh: array<string>, n_shingles) — one aggregation of the
    exploded shingle stream; signatures AND verification both derive from
    this single pass (arrays are bounded by document length, so they stay
    small at any corpus scale)."""
    return shingles(docs, k).groupBy("doc_id").agg(
        F.collect_list("shingle").alias("sh"),
        F.count("*").alias("n_shingles"),
    )


def _sets_with_signatures(docs: DataFrame, num_perm: int, k: int) -> DataFrame:
    """(doc_id, sh, n_shingles, sig_0..sig_{n-1}) in ONE aggregation: the
    per-shingle hash families are computed on the FLAT exploded rows
    (whole-stage-codegen md5/conv column expressions) and min-aggregated
    alongside collect_list — still a single shuffle, but no interpreted
    per-element `F.transform` over the collected arrays (the measured trap:
    JVM transform over array<string> evaluates per element with full array
    copies; see BENCH.md §3)."""
    sh = shingles(docs, k)
    hashed = sh.select(
        "doc_id",
        "shingle",
        *[
            _md5_hash64(F.col("shingle"), str(j)).alias(f"h_{j}")
            for j in range(num_perm)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("sh"),
        F.count("*").alias("n_shingles"),
        *[F.min(f"h_{j}").alias(f"sig_{j}") for j in range(num_perm)],
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH-banded candidate pairs verified by exact Jaccard ≥ threshold.

    The band-bucket join touches each doc `bands` times instead of once per
    shingle — at corpus scale this is the difference between a bounded
    shuffle and a quadratic one."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); "
            "otherwise trailing signature rows are silently unused and the "
            "recall profile differs from the configured one"
        )
    rows_per_band = num_perm // bands
    sets = _sets_with_signatures(docs, num_perm, k)
    sigs = sets
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification scoped to candidates only — the LSH payoff.
    # Verification joins the SAME per-doc shingle-set table 1:1 to candidate
    # pairs and intersects row-locally (array_intersect): no per-shingle
    # fan-out join, no regrouping shuffle, and the shingle stream was
    # aggregated exactly once for signatures + verification together.
    sa = sets.select("doc_id", "sh", "n_shingles").alias("sa")
    sb = sets.select("doc_id", "sh", "n_shingles").alias("sb")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "intersect_size",
            F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersect_size")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("intersect_size")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprints(docs: DataFrame, k_bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — weighted per-bit vote over token hashes, one
    aggregation pass with k conditional-sum columns."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).where(F.length("token") > 0)
    counted = toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    counted = counted.withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"s_{b}")
        for b in range(k_bits)
    ]
    summed = counted.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(k_bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return summed.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within hamming distance via pigeonhole banding — scale-safe.

    Split the k-bit fingerprint into ``max_hamming + 1`` disjoint chunks: two
    fingerprints within hamming distance h ≤ max_hamming differ in at most
    max_hamming chunks, so they AGREE on at least one chunk (pigeonhole).
    Candidates therefore come from an equi-join on (chunk_idx, chunk_val) —
    the same bounded band-bucket shape as the MinHash LSH join above — and
    are then verified exactly with bit_count(xor). No cross join anywhere;
    at 10^9 docs the shuffle is |docs| × (max_hamming+1) rows and join
    fan-out is bounded by per-bucket collision counts (AQE skew-split covers
    pathological buckets such as the all-zeros chunk of short docs)."""
    fp = simhash_fingerprints(docs)
    n_chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // n_chunks)  # ceil: chunks cover all bits
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), j * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for j in range(n_chunks)
        ]
    )
    banded = fp.select(
        "doc_id", "simhash", F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        "simhash",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_val").alias("chunk_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()  # a pair can agree on several chunks
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def _lsh_candidates(
    docs: DataFrame, num_perm: int, bands: int, k: int
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, per-doc shingle sets) from banded MinHash — the
    shared candidate generator behind minhash_lsh_pairs and
    edit_distance_pairs. Same banding arithmetic as minhash_lsh_pairs."""
    rows_per_band = num_perm // bands
    sets = _sets_with_signatures(docs, num_perm, k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = sets.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_key").alias("band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand, sets


def edit_distance_pairs(
    docs: DataFrame, num_perm: int = 8, bands: int = 4, k: int = 3
) -> DataFrame:
    """Fuzzy near-dup refinement by EDIT DISTANCE over LSH candidates: the
    banded-MinHash join bounds the candidate set (never a quadratic
    cross join), then JVM-native levenshtein scores each surviving pair on
    the normalized text — the character-level complement to the
    shingle-Jaccard verify, catching small in-word edits Jaccard's 3-gram
    granularity blurs. sim_q4 = floor((1 - d/max_len)·10⁴ + ½), exact
    integer parity with the serial oracle.

    Byte/char caveat (documented corpus contract): DuckDB's levenshtein
    counts UTF-8 bytes, Spark counts characters; the synthetic corpus is
    pure ASCII at every SF (asserted in tests), where the two agree."""
    cand, _ = _lsh_candidates(docs, num_perm, bands, k)
    texts = docs.select("doc_id", normalized_text(F.col("text")).alias("nt"))
    ta = texts.alias("ta")
    tb = texts.alias("tb")
    d = F.levenshtein(F.col("ta.nt"), F.col("tb.nt"))
    la = F.length("ta.nt")
    lb = F.length("tb.nt")
    return (
        cand.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            la.cast("int").alias("len_a"),
            lb.cast("int").alias("len_b"),
            d.cast("int").alias("edit_distance"),
            F.floor(
                (F.lit(1.0) - d / F.greatest(la, lb, F.lit(1)))
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("sim_q4"),
        )
    )


def _banded_keys(sets: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band_id, band_key) from a signature table — the LSH index
    rows. Same banding arithmetic as minhash_lsh_pairs/_lsh_candidates."""
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sets.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_key").alias("band_key"),
    )


def band_index(
    docs: DataFrame, num_perm: int = 8, bands: int = 4, k: int = 3
) -> DataFrame:
    """(doc_id, band_id, band_key) LSH index rows for a batch of docs —
    exactly what a persisted index table (an IceTable partitioned by
    band_id, appended to as batches are accepted) stores per document."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    return _banded_keys(_sets_with_signatures(docs, num_perm, k), num_perm, bands)


def dedup_against_index(
    increment: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    num_perm: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify a new batch against a PERSISTED LSH index: ``index`` is the
    standing corpus's (doc_id, band_id, band_key) table (built once per
    accepted batch by :func:`band_index`, never re-hashed), ``corpus`` the
    text table the candidate fetch reads for exact verification. Per batch:

      1. compute signatures for the increment's docs (cost ∝ increment),
      2. equi-join its band keys against the index (shuffle ∝ increment ×
         bands on the increment side; at scale the corpus side is a pruned
         scan of the band-partitioned index),
      3. fetch ONLY candidate corpus docs (equi-join on doc_id — Bloom/
         min-max prunable in an IceTable scan) and exact-Jaccard-verify
         row-locally, so verification cost ∝ candidates, not corpus.

    Returns one verdict row per increment doc:
    (doc_id, dup_of, jaccard, is_new) — ``dup_of`` the best-matching corpus
    doc (highest Jaccard, ties to the smallest corpus doc_id), NULL-and-
    is_new=true when nothing in the corpus clears the threshold.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    from pyspark.sql import Window

    sets_i = _sets_with_signatures(increment, num_perm, k)
    banded_i = _banded_keys(sets_i, num_perm, bands).alias("i")
    banded_c = index.alias("c")
    cand = (
        banded_i.join(
            banded_c,
            (F.col("i.band_id") == F.col("c.band_id"))
            & (F.col("i.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("i.doc_id").alias("inc_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    cand_docs = corpus.join(
        cand.select(F.col("corpus_id").alias("doc_id")).distinct(), "doc_id"
    )
    si = sets_i.select("doc_id", "sh", "n_shingles").alias("si")
    sc = shingle_sets(cand_docs, k).alias("sc")
    isz = F.size(F.array_intersect(F.col("si.sh"), F.col("sc.sh"))).cast("long")
    verified = (
        cand.join(si, F.col("inc_id") == F.col("si.doc_id"))
        .join(sc, F.col("corpus_id") == F.col("sc.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                isz / (F.col("si.n_shingles") + F.col("sc.n_shingles") - isz), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("inc_id", "corpus_id", "jaccard")
    )
    best = (
        verified.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("inc_id").orderBy(
                    F.col("jaccard").desc(), F.col("corpus_id").asc()
                )
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        increment.select("doc_id")
        .join(best, F.col("doc_id") == F.col("inc_id"), "left")
        .select(
            "doc_id",
            F.col("corpus_id").alias("dup_of"),
            "jaccard",
            F.col("corpus_id").isNull().alias("is_new"),
        )
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    increment: DataFrame,
    num_perm: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus — the shape a
    100 TB pipeline actually runs daily. The corpus's band keys act as an
    index derived in-plan here (:func:`band_index`); the persisted-index
    production path is :func:`dedup_against_index` (same verdict contract),
    which streaming/ingest_neardup.py drives per micro-batch.

    Intra-increment duplicates are the existing ``minhash_lsh_pairs`` over
    the increment alone and are deliberately out of scope here.
    """
    return dedup_against_index(
        increment,
        band_index(corpus, num_perm, bands, k),
        corpus,
        num_perm=num_perm,
        bands=bands,
        k=k,
        threshold=threshold,
    )
