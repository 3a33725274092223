"""Training-data pipeline operators registered with DuckDB oracles:
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), brute-force cosine
top-k, text analysis (lang-id / quality / token counts / fingerprints).

Oracle philosophy: these operators ARE SQL-expressible, so the oracle is an
independent serial re-implementation of the same algorithm in DuckDB —
agreement checks the distributed plan (joins, shuffles, window ranks,
hash-derivations) against a single-node ground truth.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from deepdoctection_spark.operators import corpusprep, dedup, similarity, textstats
from deepdoctection_spark.operators.textstats import BPE_ISH_PATTERN, STOPWORDS
from deepdoctection_spark.plans.registry import register


def _docs(spark, sf_dir):
    """documents scan, spread over the cluster. The sandbox table is a single
    parquet file → a 1-split scan that would serialize every downstream
    explode/join onto one core; a real corpus arrives in thousands of splits.
    The tiny repartition shuffle restores the real shape (same rationale as
    sources/transcripts.build_transcripts(partitions=...))."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )

# explicit class == Spark side's (Java \s and RE2 \s disagree on \x0B)
_NORM = "trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))"

def _shingles_cte(source: str = "documents") -> str:
    """3-shingle CTE over any (doc_id, text) source relation."""
    return f"""
toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM {source}),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
"""


_SHINGLES_CTE = _shingles_cte()

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
SELECT md5({_NORM}) AS fingerprint, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
""",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLES_CTE},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS intersect_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, intersect_size,
       round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) >= 0.8
""",
)
def q_dedup_ngram(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.8
    )


# The df-capped configuration — the one that actually runs at corpus scale
# (bounds the shared-shingle join fan-out to cap² per shingle). The oracle
# mirrors the pruning exactly: shingle df computed over distinct
# (doc_id, shingle), shingles above the cap dropped BEFORE sizes and the
# candidate join, so |sets| in the Jaccard denominator is the pruned size on
# both engines.
_PRUNED_DF_CAP = 50

_SHINGLES_PRUNED_CTE = f"""
toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {_PRUNED_DF_CAP}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
"""


@register(
    "dedup_ngram_jaccard_pruned",
    f"""
WITH {_SHINGLES_PRUNED_CTE},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS intersect_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, intersect_size,
       round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) >= 0.8
""",
)
def q_dedup_ngram_pruned(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.8, max_shingle_df=_PRUNED_DF_CAP
    )


def _minhash_oracle(num_perm: int = 8, bands: int = 4,
                    source: str = "documents", with_prefix: str = "") -> str:
    r = num_perm // bands
    sig_cols = ", ".join(
        f"min(('0x' || substr(md5('{j}#' || shingle), 1, 15))::BIGINT) AS sig_{j}"
        for j in range(num_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ',' || ".join(f"(sig_{b * r + i}::VARCHAR)" for i in range(r))
        + ") AS band_key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {with_prefix}{_shingles_cte(source)},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT doc_a, doc_b, count(*)::BIGINT AS intersect_size
  FROM cand JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(intersect_size / (sa.n_shingles + sb.n_shingles - intersect_size), 4) >= 0.8
"""


def _cluster_oracle() -> str:
    """Clusters over the MinHash-LSH pairs via a recursive-CTE transitive
    closure — an independent serial algorithm vs Spark's iterated min-label
    propagation (operators/dedupclusters.py)."""
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
sizes AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM labeled GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       (l.doc_id = l.cluster_id) AS is_kept
FROM labeled l JOIN sizes s USING (cluster_id)
"""


@register("dedup_clusters", _cluster_oracle())
def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster materialization: LSH pairs → connected components
    (iterated min-label propagation) → per-doc cluster id / size / keep
    flag. The corpus-level keep/drop decision pair-dedup alone can't make."""
    from deepdoctection_spark.operators.dedupclusters import dup_clusters

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=3, threshold=0.8)
    return dup_clusters(docs, pairs)


@register("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        num_perm=8,
        bands=4,
        k=3,
        threshold=0.8,
    )


def _simhash_cte(k_bits: int = dedup.SIMHASH_BITS) -> str:
    """toks/counted/sums/fp CTE chain shared by BOTH simhash oracles — a
    change to the fingerprint definition lands in one place."""
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS s_{b}"
        for b in range(k_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(k_bits)
    )
    return f"""
toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
counted AS (
  SELECT doc_id, token, count(*)::BIGINT AS cnt,
         ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
  FROM toks WHERE length(token) > 0 GROUP BY doc_id, token
),
sums AS (SELECT doc_id, {sums} FROM counted GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp})::BIGINT AS simhash FROM sums)
"""


def _simhash_oracle() -> str:
    return f"WITH {_simhash_cte()}\nSELECT doc_id, simhash FROM fp"


@register("dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash_fingerprints(_docs(spark, sf_dir))


@register(
    "dedup_simhash_pairs",
    f"""
WITH {_simhash_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), max_hamming=3
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_EMB_BASE = """
base AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings)
"""

_COS = (
    "list_dot_product(qemb, emb) / "
    "(sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb)))"
)


@register(
    "knn_bruteforce",
    f"""
WITH {_EMB_BASE},
q AS (SELECT vec_id AS query_id, emb AS qemb FROM base WHERE vec_id < 20),
scored AS (
  SELECT query_id, vec_id, round({_COS}, 5) AS cosine_sim
  FROM q, base WHERE vec_id <> query_id
)
SELECT query_id, vec_id, cosine_sim, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def q_knn(spark, sf_dir):
    return similarity.knn_bruteforce(
        _embs(spark, sf_dir), n_queries=20, k=5
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _lang_oracle(source: str = "documents") -> str:
    langs = sorted(STOPWORDS)
    ratio_defs = ", ".join(
        "len(list_filter(ws, w -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], w))) / greatest(len(ws), 1) AS r_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"r_{lang}" for lang in langs) + ")"
    case = " ".join(
        f"WHEN r_{lang} = best AND r_{lang} >= 0.02 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH toks AS (SELECT doc_id, list_filter(string_split({_NORM}, ' '), w -> length(w) > 0) AS ws FROM {source}),
ratios AS (SELECT doc_id, {ratio_defs} FROM toks),
scored AS (SELECT *, {best} AS best FROM ratios)
SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang,
       floor(best * 10000 + 0.5) / 10000 AS stopword_ratio
FROM scored
"""


@register("lang_id", _lang_oracle())
def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _quality_oracle(source: str = "documents") -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), w -> length(w) > 0) AS ws, length({_NORM}) AS n_chars
  FROM {source}
),
feat AS (
  SELECT doc_id,
         len(ws) AS n_tok, n_chars,
         len(list_distinct(ws)) / greatest(len(ws), 1) AS dr,
         (n_chars - (len(ws) - 1)) / greatest(len(ws), 1) AS avg_len
  FROM t
)
SELECT doc_id, n_tok::INT AS n_tokens, n_chars::INT AS n_chars_norm,
       floor(dr * 10000 + 0.5) / 10000 AS type_token_ratio,
       floor(avg_len * 10000 + 0.5) / 10000 AS avg_token_len,
       floor((0.4 * least(n_tok / 50.0, 1.0) + 0.3 * dr +
             0.3 * (CASE WHEN avg_len >= 3 AND avg_len <= 10 THEN 1.0 ELSE 0.5 END)) * 10000 + 0.5) / 10000 AS quality
FROM feat
"""


@register("quality_scores", _quality_oracle())
def q_quality(spark, sf_dir):
    return textstats.quality_scores(_docs(spark, sf_dir))


@register(
    "token_counts",
    f"""
SELECT doc_id,
       len(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0))::INT AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))::INT AS bpe_ish_tokens
FROM documents
""",
)
def q_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


@register(
    "corpus_vocab",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*)::BIGINT AS n_total, count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM toks WHERE length(token) > 0 GROUP BY token
)
SELECT token, n_total, n_docs,
       (row_number() OVER (ORDER BY n_total DESC, token))::INT AS rank
FROM counts WHERE n_total >= 5
""",
)
def q_corpus_vocab(spark, sf_dir):
    return textstats.corpus_vocab(_docs(spark, sf_dir), min_count=5)


@register(
    "doc_fingerprints",
    f"""
SELECT doc_id, md5({_NORM}) AS md5_fp,
       ('0x' || substr(md5({_NORM}), 1, 15))::BIGINT AS fp60,
       length({_NORM})::INT AS n_chars_norm
FROM documents
""",
)
def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_docs(spark, sf_dir))


@register(
    "doc_rolling_hash",
    f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split({_NORM}, ''), c -> ord(c)::BIGINT)),
         (acc, x) -> (acc * 131 + x) % 2147483647
       ) AS rolling_fp,
       length({_NORM})::INT AS n_chars_norm
FROM documents
""",
)
def q_rolling_hash(spark, sf_dir):
    return textstats.rolling_hash(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# curation: the fused keep/drop decision layer
# ---------------------------------------------------------------------------


def _curation_oracle() -> str:
    """quality + lang-id + dedup-cluster keep flags fused into one per-doc
    decision; drop reasons are prioritized duplicate > low_quality >
    unknown_lang (a duplicate is dropped regardless of quality)."""
    lang_sql = _lang_oracle().strip()
    cluster_sql = _cluster_oracle().strip()
    return f"""
WITH lang AS ({lang_sql}),
clusters AS ({cluster_sql}),
q AS (
  SELECT doc_id,
         floor((0.4 * least(len(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0)) / 50.0, 1.0)
               + 0.3 * (len(list_distinct(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0)))
                        / greatest(len(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0)), 1))
               + 0.3 * (CASE WHEN ((length({_NORM}) - (len(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0)) - 1))
                              / greatest(len(list_filter(string_split({_NORM}, ' '), w -> length(w) > 0)), 1)) BETWEEN 3 AND 10
                         THEN 1.0 ELSE 0.5 END)) * 10000 + 0.5) / 10000 AS quality
  FROM documents
)
SELECT q.doc_id, l.pred_lang, q.quality, c.cluster_id, c.cluster_size,
       (c.is_kept AND q.quality >= 0.5 AND l.pred_lang <> 'und') AS keep,
       CASE WHEN NOT c.is_kept THEN 'duplicate'
            WHEN q.quality < 0.5 THEN 'low_quality'
            WHEN l.pred_lang = 'und' THEN 'unknown_lang'
            ELSE '' END AS drop_reason
FROM q JOIN lang l USING (doc_id) JOIN clusters c USING (doc_id)
"""


@register("curation_decisions", _curation_oracle())
def q_curation_decisions(spark, sf_dir):
    """The capstone training-data query: per document, the fused keep/drop
    decision from near-dup clustering (keep the representative), quality
    scoring (threshold 0.5) and language id ('und' dropped) — three hash
    joins on doc_id over operators the gate already checks individually, so
    this row checks the decision fusion itself. Logic lives in
    jobs/curate.curation_decisions (shared with the production curation
    job)."""
    from deepdoctection_spark.jobs.curate import curation_decisions

    return curation_decisions(_docs(spark, sf_dir))


@register(
    "curated_corpus",
    f"""
WITH d AS ({_curation_oracle()})
SELECT doc.doc_id, doc.text, d.pred_lang, d.quality
FROM documents doc JOIN d ON doc.doc_id = d.doc_id
WHERE d.keep
""",
)
def q_curated_corpus(spark, sf_dir):
    """The materialized training set: documents that survive curation, with
    their verdict metadata — the SELECT the resumable curation job
    (jobs/curate.run_resumable_curation) writes to parquet."""
    from deepdoctection_spark.jobs.curate import curation_decisions

    docs = _docs(spark, sf_dir)
    dec = curation_decisions(docs).where("keep").select(
        "doc_id", "pred_lang", "quality"
    )
    return docs.select("doc_id", "text").join(dec, "doc_id")


@register(
    "quality_surprisal",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
counts AS (SELECT token, count(*)::BIGINT AS n FROM tok GROUP BY token),
total AS (SELECT sum(n)::BIGINT AS total FROM counts),
per_tok AS (
  SELECT t.doc_id,
         floor(-log2(c.n / tt.total::DOUBLE) * 1000000 + 0.5)::BIGINT AS s6
  FROM tok t JOIN counts c USING (token), total tt
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       floor(sum(s6) / count(*) / 100 + 0.5) / 10000.0 AS avg_surprisal,
       max(s6) / 1000000.0 AS max_surprisal
FROM per_tok GROUP BY doc_id
""",
)
def q_quality_surprisal(spark, sf_dir):
    """Corpus-frequency surprisal quality score (CCNet/Gopher-style): the
    per-token −log₂ p(token) averaged per document, with p from the corpus
    itself. Per-token values are integer-quantized before summation so the
    Spark and DuckDB sums are exact and order-independent."""
    return textstats.token_surprisal(_docs(spark, sf_dir))


@register(
    "pii_scrub",
    f"""
WITH aug AS (
  SELECT doc_id,
         substr({_NORM}, 1, 40)
           || ' contact user' || doc_id::VARCHAR
           || '@mail-' || source || '.com or http://site-' || doc_id::VARCHAR
           || '.example.com/p?id=' || doc_id::VARCHAR
           || ' from ip 10.' || (doc_id % 256)::VARCHAR
           || '.0.' || ((doc_id * 7) % 256)::VARCHAR
           || ' end' AS s
  FROM documents
),
scrub AS (
  SELECT doc_id, s,
         regexp_replace(
           regexp_replace(
             regexp_replace(s, '{textstats.PII_EMAIL}', '<EMAIL>', 'g'),
             '{textstats.PII_URL}', '<URL>', 'g'),
           '{textstats.PII_IPV4}', '<IP>', 'g') AS sc
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(s, '{textstats.PII_EMAIL}'))::INT AS n_emails,
       len(regexp_extract_all(s, '{textstats.PII_URL}'))::INT AS n_urls,
       len(regexp_extract_all(s, '{textstats.PII_IPV4}'))::INT AS n_ips,
       len(regexp_extract_all(sc, '{textstats.PII_IPV4}'))::INT AS n_ips_left,
       md5(sc) AS scrubbed_md5,
       length(sc)::INT AS scrubbed_len
FROM scrub
""",
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction audit (emails/URLs/IPv4 → typed placeholders + counts):
    the compliance scrub before corpus publish. The corpus contains no PII by
    construction, so deterministic PII derived from (doc_id, source) is
    planted first — the oracle plants the identical string, so the parity
    check exercises the scrub expressions themselves. Pure column
    expressions; the at-scale shape is a narrow map over the corpus scan."""
    return textstats.pii_scrub(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# corpus preparation: decontamination, repetition, importance weights, sampling
# ---------------------------------------------------------------------------


@register(
    "decontaminate_ngrams",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
corp AS (
  SELECT DISTINCT doc_id,
         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
  FROM toks, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i)
),
bench AS (
  SELECT DISTINCT ws2[i]||' '||ws2[i+1]||' '||ws2[i+2]||' '||ws2[i+3]||' '||ws2[i+4] AS g
  FROM (SELECT ws[3:20] AS ws2 FROM toks WHERE doc_id % 37 = 0) b,
       unnest(range(1, greatest(len(ws2) - 3, 1))) AS t(i)
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM corp GROUP BY doc_id),
hits AS (SELECT c.doc_id, count(*)::BIGINT AS n_hits
         FROM corp c JOIN bench USING (g) GROUP BY 1)
SELECT d.doc_id,
       coalesce(s.n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) > 0) AS contaminated,
       floor(coalesce(h.n_hits, 0) / greatest(coalesce(s.n_ngrams, 0), 1)
             * 10000 + 0.5) / 10000 AS contam_frac
FROM documents d LEFT JOIN sizes s USING (doc_id) LEFT JOIN hits h USING (doc_id)
""",
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Llama recipe): flag training docs
    sharing any 5-gram with a deterministically derived eval set. The eval
    n-gram set is broadcast; the corpus side never shuffles through the
    overlap join."""
    return corpusprep.decontaminate(_docs(spark, sf_dir), k=5)


@register(
    "repetition_filters",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
augt AS (
  SELECT doc_id,
         list_concat(ws, flatten(list_transform(range(doc_id % 4),
                                                x -> ws[1:8]))) AS a
  FROM toks
),
g2 AS (SELECT doc_id, a[i]||' '||a[i+1] AS g
       FROM augt, unnest(range(1, greatest(len(a), 1))) AS t(i)),
g5 AS (SELECT doc_id, a[i]||' '||a[i+1]||' '||a[i+2]||' '||a[i+3]||' '||a[i+4] AS g
       FROM augt, unnest(range(1, greatest(len(a) - 3, 1))) AS t(i)),
c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY 1, 2),
c5 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g5 GROUP BY 1, 2),
s2 AS (SELECT doc_id, sum(c)::BIGINT AS n2, max(c)::BIGINT AS max2
       FROM c2 GROUP BY 1),
s5 AS (SELECT doc_id, sum(c)::BIGINT AS n5,
              sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS dup5
       FROM c5 GROUP BY 1),
fr AS (
  SELECT d.doc_id,
         coalesce(n2, 0)::BIGINT AS n2,
         floor(coalesce(max2, 0) / greatest(coalesce(n2, 0), 1)
               * 10000 + 0.5) / 10000 AS top2_frac,
         coalesce(n5, 0)::BIGINT AS n5,
         floor(coalesce(dup5, 0) / greatest(coalesce(n5, 0), 1)
               * 10000 + 0.5) / 10000 AS dup5_frac
  FROM documents d LEFT JOIN s2 USING (doc_id) LEFT JOIN s5 USING (doc_id)
)
SELECT doc_id, n2, top2_frac, n5, dup5_frac,
       (top2_frac > 0.20 OR dup5_frac > 0.30) AS repetitive
FROM fr
""",
)
def q_repetition_filters(spark, sf_dir):
    """Gopher-style repetition filters over planted deterministic repetition:
    top-2-gram occurrence share + duplicate-5-gram occurrence share, with the
    published-rule-shaped thresholds. Word-count-shaped plan (two hash aggs
    keyed (doc_id, gram))."""
    return corpusprep.repetition_stats(_docs(spark, sf_dir))


@register(
    "dsir_importance_weights",
    f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
tk AS (SELECT doc_id, source, token,
              ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
       FROM toks WHERE length(token) > 0),
bk AS (SELECT bucket, count(*)::BIGINT AS raw_cnt,
              sum(CASE WHEN source IN ('src0', 'src1', 'src2')
                       THEN 1 ELSE 0 END)::BIGINT AS tgt_cnt
       FROM tk GROUP BY bucket),
bk2 AS (SELECT bucket, raw_cnt, tgt_cnt,
               sum(raw_cnt) OVER ()::BIGINT AS raw_total,
               sum(tgt_cnt) OVER ()::BIGINT AS tgt_total
        FROM bk),
lrtab AS (SELECT bucket,
                 floor(ln(((tgt_cnt + 1.0) * (raw_total + 64.0))
                          / ((raw_cnt + 1.0) * (tgt_total + 64.0)))
                       * 1000000 + 0.5)::BIGINT AS lr_q6
          FROM bk2),
sc AS (SELECT t.doc_id, count(*)::BIGINT AS n_feats, sum(l.lr_q6)::BIGINT AS logw_q6
       FROM tk t JOIN lrtab l USING (bucket) GROUP BY 1)
SELECT d.doc_id, d.source,
       coalesce(n_feats, 0)::BIGINT AS n_feats,
       coalesce(logw_q6, 0)::BIGINT AS logw_q6,
       (coalesce(logw_q6, 0) / 1000000.0) AS logw
FROM documents d LEFT JOIN sc USING (doc_id)
""",
)
def q_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-n-gram importance weights (target = src0..src2):
    64-bucket token hash, Laplace-smoothed target/raw log-ratios quantized to
    integer micro-units before the per-doc sum — exact cross-engine
    aggregation in any order."""
    return corpusprep.dsir_weights(_docs(spark, sf_dir))


@register(
    "stratified_sample",
    """
WITH r AS (
  SELECT doc_id, source,
         (row_number() OVER (PARTITION BY source
              ORDER BY md5('samp#' || doc_id::VARCHAR), doc_id))::BIGINT AS sample_rank,
         (count(*) OVER (PARTITION BY source))::BIGINT AS n_source
  FROM documents
)
SELECT doc_id, source, sample_rank, n_source,
       (sample_rank <= ceil(n_source * 0.3)) AS keep
FROM r
""",
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: salted-md5 permutation rank within
    each source stratum, keep the first ceil(0.3·|stratum|). Exact
    per-stratum proportions, reproducible with no RNG state."""
    return corpusprep.stratified_sample(_docs(spark, sf_dir), frac=0.3)


@register(
    "chunk_documents",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
st AS (
  SELECT doc_id, ws, len(ws)::INT AS n_tokens,
         (1 + ceil(greatest(len(ws) - 32, 0) / 24.0))::INT AS n_starts
  FROM toks
),
ch AS (
  SELECT doc_id, n_tokens, i::INT AS chunk_idx,
         array_to_string(ws[i*24+1 : i*24+32], ' ') AS chunk_text
  FROM st, unnest(range(0, n_starts)) AS t(i)
)
SELECT doc_id, chunk_idx, n_tokens,
       len(string_split(chunk_text, ' '))::INT AS n_chunk_tokens,
       md5(chunk_text) AS chunk_md5
FROM ch
""",
)
def q_chunk_documents(spark, sf_dir):
    """RAG sliding-window chunking (32-token windows, stride 24): one narrow
    projection + posexplode, zero shuffle — runs at scan speed at 100 TB.
    The md5 of each chunk text makes the window arithmetic (start positions,
    short last window) byte-checkable against the serial oracle."""
    return corpusprep.chunk_documents(_docs(spark, sf_dir))


@register(
    "pack_sequences",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
base AS (SELECT doc_id,
                len(list_filter(ws, w -> len(w) > 0))::BIGINT AS n_tokens
         FROM toks),
placed AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS "offset"
  FROM base
)
SELECT doc_id, n_tokens, "offset",
       floor("offset" / 256)::BIGINT AS seq_first,
       floor(("offset" + greatest(n_tokens - 1, 0)) / 256)::BIGINT AS seq_last,
       (CASE WHEN n_tokens > 0
             THEN floor(("offset" + greatest(n_tokens - 1, 0)) / 256)
                  - floor("offset" / 256) + 1
             ELSE 0 END)::BIGINT AS n_seqs
FROM placed
""",
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing placement (concat-and-chunk at seq_len=256): each
    doc's exact global token offset and the training sequences it spans. The
    Spark side computes the global exclusive prefix sum with the scalable
    two-level decomposition (per-bucket sums -> tiny ordered window over
    buckets -> broadcast back + per-bucket parallel window); the oracle is
    the naive single global cumsum — exact long agreement proves the
    distributed decomposition."""
    return corpusprep.pack_sequences(_docs(spark, sf_dir))


@register(
    "line_dedup_ccnet",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
segs AS (
  SELECT doc_id, i::INT AS seg_idx,
         array_to_string(ws[i*8+1 : i*8+8], ' ') AS seg_text
  FROM toks, unnest(range(0, ceil(len(ws)/8.0)::BIGINT)) AS t(i)
),
firsts AS (
  SELECT md5(seg_text) AS h,
         min(struct_pack(d := doc_id, s := seg_idx)) AS fk
  FROM segs GROUP BY 1
),
flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg_text,
         (s.doc_id = f.fk.d AND s.seg_idx = f.fk.s) AS keep
  FROM segs s JOIN firsts f ON md5(s.seg_text) = f.h
)
SELECT doc_id,
       count(*)::BIGINT AS n_segs,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
       sum(CASE WHEN keep THEN len(string_split(seg_text, ' ')) ELSE 0 END)::BIGINT
         AS n_tokens_kept,
       md5(coalesce(array_to_string(
             list(seg_text ORDER BY seg_idx) FILTER (WHERE keep), ' '), ''))
         AS kept_md5
FROM flagged GROUP BY doc_id
""",
)
def q_line_dedup(spark, sf_dir):
    """CCNet-style corpus-wide segment dedup (8-token segments, keep the
    global first occurrence in (doc_id, seg_idx) order): hash-agg
    first-occurrence + equi-join back, no global window or sort anywhere.
    kept_md5 byte-checks the deduplicated reassembly against the serial
    oracle."""
    return corpusprep.line_dedup(_docs(spark, sf_dir))


@register(
    "mixture_weights",
    f"""
WITH toks AS (SELECT source, string_split({_NORM}, ' ') AS ws FROM documents),
per_src AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(ws, w -> len(w) > 0)))::BIGINT AS n_tokens
  FROM toks GROUP BY source
),
withp AS (
  SELECT *, sum(n_tokens) OVER ()::BIGINT AS tot_tokens FROM per_src
),
q AS (
  SELECT source, n_docs, n_tokens,
         floor(n_tokens * 1000000 / tot_tokens)::BIGINT AS p_q6
  FROM withp
),
s AS (
  SELECT *, floor(sqrt(p_q6::DOUBLE) * 1000 + 0.5)::BIGINT AS s_q3 FROM q
),
st AS (SELECT *, sum(s_q3) OVER ()::BIGINT AS s_tot FROM s)
SELECT source, n_docs, n_tokens, p_q6, s_q3,
       floor(s_q3 * 1000000 / s_tot)::BIGINT AS weight_q6,
       floor(s_q3 * 1000000000 / (s_tot * greatest(p_q6, 1)))::BIGINT
         AS oversample_q3
FROM st
""",
)
def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled mixture weights per source (w ∝ p^0.5): exact
    integer quantization at every step (integer-division ppm share, one
    IEEE-exact sqrt, integer normalization sums) so aggregation order can
    never shift a bit. One hash agg + a broadcast 1-row total."""
    return corpusprep.mixture_weights(_docs(spark, sf_dir))


@register(
    "bpe_merge_pairs",
    f"""
WITH toks AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, count(*)::BIGINT AS n_word
  FROM toks WHERE length(word) > 0 GROUP BY word
),
pairs AS (
  SELECT substr(word, i, 1) || substr(word, i + 1, 1) AS pair,
         sum(n_word)::BIGINT AS pair_count
  FROM vocab, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
  GROUP BY 1
),
ranked AS (
  SELECT pair, pair_count,
         row_number() OVER (ORDER BY pair_count DESC, pair ASC)::INT AS rank
  FROM pairs
)
SELECT rank, substr(pair, 1, 1) AS left_sym, substr(pair, 2, 1) AS right_sym,
       pair_count
FROM ranked WHERE rank <= 20
""",
)
def q_bpe_merge_pairs(spark, sf_dir):
    """One BPE-training merge step: corpus-weighted adjacent char-pair
    counts, top-20 merge candidates with the deterministic (count desc,
    pair asc) tie-break. Corpus collapses to a distinct-word vocab first
    (the only data-proportional shuffle); pair counting and ranking run
    over vocab-sized inputs; top-k is TakeOrdered, never a global sort."""
    return corpusprep.bpe_pair_counts(_docs(spark, sf_dir))


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled-CTE DuckDB replay of the deterministic BPE training loop:
    step k counts adjacent symbol pairs over vocab v{k}, takes the argmax
    (count desc, encoded pair asc) as b{k}, and applies it with ONE literal
    non-overlapping left-to-right replace() — the same greedy apply rule as
    the Spark side's identically encoded \\x1f-wrapped strings."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    parts = [
        f"toks AS (SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents)",
        f"""v0 AS (
  SELECT word, regexp_replace(word, '(.)', {sep} || '\\1' || {sep}, 'g') AS enc,
         count(*)::BIGINT AS n_word
  FROM toks WHERE length(word) > 0 AND NOT contains(word, {sep})
  GROUP BY word
)""",
    ]
    finals = []
    for k in range(n_merges):
        parts.append(
            f"""s{k} AS (
  SELECT string_split(substr(enc, 2, length(enc) - 2), {sep2}) AS syms, n_word
  FROM v{k}
),
p{k} AS (
  SELECT list_extract(syms, i) || {sep} || list_extract(syms, i + 1) AS pair,
         sum(n_word)::BIGINT AS pair_count
  FROM s{k}, unnest(range(1, len(syms))) AS t(i)
  WHERE len(syms) >= 2
  GROUP BY 1
),
b{k} AS (
  SELECT pair, pair_count,
         string_split(pair, {sep})[1] AS l, string_split(pair, {sep})[2] AS r
  FROM p{k} ORDER BY pair_count DESC, pair ASC LIMIT 1
),
v{k + 1} AS (
  SELECT v{k}.word,
         replace(v{k}.enc, {sep} || b.l || {sep} || {sep} || b.r || {sep},
                 {sep} || b.l || b.r || {sep}) AS enc, v{k}.n_word
  FROM v{k}, b{k} AS b
)"""
        )
        finals.append(
            f"SELECT {k + 1}::INT AS rank, l AS left_sym, r AS right_sym,"
            f" l || r AS new_token, pair_count FROM b{k}"
        )
    return (
        "WITH " + ",\n".join(parts) + "\nSELECT * FROM (\n"
        + "\nUNION ALL ".join(finals) + "\n) ORDER BY rank"
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Encode-side replay: run the same unrolled training chain, then count
    post-merge tokens per DISTINCT word and join back to documents."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    train = _bpe_train_oracle(n_merges)
    with_block = train[: train.rindex("\nSELECT * FROM (")]
    return (
        with_block
        + f""",
tok AS (
  SELECT word,
         len(string_split(substr(enc, 2, length(enc) - 2), {sep2}))::BIGINT AS n_tok
  FROM v{n_merges}
),
dw AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word FROM documents
),
dwv AS (
  SELECT doc_id, word FROM dw
  WHERE length(word) > 0 AND NOT contains(word, {sep})
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_tok)::BIGINT AS n_tokens
  FROM dwv JOIN tok USING (word) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens
FROM documents d LEFT JOIN agg a USING (doc_id)"""
    )


@register("bpe_encode_corpus", _bpe_encode_oracle(corpusprep.BPE_MERGES))
def q_bpe_encode_corpus(spark, sf_dir):
    """Tokenizer-side of the BPE loop: per-document valid-word and
    post-merge token counts. Tokenization cost is once per DISTINCT word
    (trainer replace chain over the cached vocab); corpus-scale work is one
    word->vocab equi-join + one doc_id hash agg."""
    return corpusprep.bpe_encode_corpus(_docs(spark, sf_dir))


@register("bpe_train_vocab", _bpe_train_oracle(corpusprep.BPE_MERGES))
def q_bpe_train_vocab(spark, sf_dir):
    """Full iterated BPE trainer: 10 learned merge rules with the
    deterministic (count desc, pair asc) tie-break. One data-proportional
    shuffle total (the distinct-word vocab agg, cached); each merge step is
    a narrow explode + bounded-pair hash agg + takeOrdered(1) argmax, and
    the merge applies as a single literal replace() over \\x1f-wrapped
    symbol strings — no fold, no UDF, no driver-side corpus state."""
    return corpusprep.bpe_train(_docs(spark, sf_dir))


@register(
    "weighted_sample_es",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
scored AS (
  SELECT doc_id,
         greatest(len(list_filter(ws, t -> len(t) > 0)), 1)::BIGINT AS weight,
         floor(ln((('0x' || substr(md5('res#' || doc_id::VARCHAR), 1, 13))::BIGINT
                   + 1) / 4503599627370496.0)
               / greatest(len(list_filter(ws, t -> len(t) > 0)), 1)
               * 1000000000000)::BIGINT AS key_q12
  FROM toks
),
ranked AS (
  SELECT row_number() OVER (ORDER BY key_q12 DESC, doc_id ASC)::INT AS sample_rank,
         doc_id, weight, key_q12
  FROM scored
)
SELECT * FROM ranked WHERE sample_rank <= 100
""",
)
def q_weighted_sample_es(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement: global
    top-100 of ln(u)/w keys (u = exact dyadic md5 uniform, key quantized to
    1e-12, doc_id tie-break). Narrow map + TakeOrdered — no corpus sort."""
    return corpusprep.weighted_sample_es(_docs(spark, sf_dir))


def _edit_distance_oracle(num_perm: int = 8, bands: int = 4) -> str:
    r = num_perm // bands
    sig_cols = ", ".join(
        f"min(('0x' || substr(md5('{j}#' || shingle), 1, 15))::BIGINT) AS sig_{j}"
        for j in range(num_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ',' || ".join(f"(sig_{b * r + i}::VARCHAR)" for i in range(r))
        + ") AS band_key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
nt AS (SELECT doc_id, {_NORM} AS t FROM documents)
SELECT doc_a, doc_b,
       length(ta.t)::INT AS len_a, length(tb.t)::INT AS len_b,
       levenshtein(ta.t, tb.t)::INT AS edit_distance,
       floor((1.0 - levenshtein(ta.t, tb.t)
                    / greatest(length(ta.t), length(tb.t), 1)) * 10000 + 0.5)::BIGINT
         AS sim_q4
FROM cand JOIN nt ta ON ta.doc_id = doc_a JOIN nt tb ON tb.doc_id = doc_b
"""


@register("dedup_edit_distance", _edit_distance_oracle())
def q_dedup_edit_distance(spark, sf_dir):
    """Edit-distance refinement over banded-MinHash candidates: JVM-native
    levenshtein on each LSH-surviving pair (bounded candidate set — never
    quadratic), the character-level complement to shingle-Jaccard verify.
    ASCII corpus contract makes DuckDB's byte-based levenshtein agree."""
    return dedup.edit_distance_pairs(_docs(spark, sf_dir))


@register(
    "quality_perplexity_bigram",
    f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
  WHERE {_NORM} <> ''
),
bg AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE ws[i-1] END AS prev,
         ws[i] AS cur
  FROM toks, unnest(range(1, len(ws) + 1)) AS t(i)
),
pc AS (SELECT prev, cur, count(*)::BIGINT AS c_pair FROM bg GROUP BY 1, 2),
cc AS (SELECT prev, sum(c_pair)::BIGINT AS c_prev FROM pc GROUP BY 1),
v AS (SELECT count(DISTINCT cur)::BIGINT AS v_size FROM bg),
sc AS (
  SELECT b.doc_id,
         floor(-log2((c_pair + 1)::DOUBLE / (c_prev + v_size)) * 1000000
               + 0.5)::BIGINT AS s6
  FROM bg b JOIN pc USING (prev, cur) JOIN cc USING (prev), v
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       floor(sum(s6) / count(*) / 100 + 0.5) / 10000.0 AS avg_nll_bits,
       CASE WHEN floor(sum(s6) / count(*))::BIGINT < 7000000 THEN 'head'
            WHEN floor(sum(s6) / count(*))::BIGINT < 10000000 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc GROUP BY doc_id
""",
)
def q_quality_perplexity(spark, sf_dir):
    """Corpus-trained bigram-LM perplexity bucketing (the CCNet
    head/middle/tail quality pass with an in-engine model instead of
    KenLM): add-one smoothed p(w|v), every doc conditioned from <s>,
    per-bigram -log2 p integer-quantized before the per-doc sum so both
    engines aggregate exact integers."""
    return corpusprep.bigram_perplexity(_docs(spark, sf_dir))


@register(
    "dedup_exact_substr",
    f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
grams AS (
  SELECT doc_id, i::INT AS pos,
         md5(array_to_string(ws[i + 1 : i + 8], ' ')) AS h
  FROM toks, unnest(range(0, greatest(len(ws) - 7, 0))) AS t(i)
),
dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
docc AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
pe AS (
  SELECT doc_id, pos,
         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM docc
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM pe
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
  FROM isl GROUP BY 1, 2
),
g AS (SELECT doc_id, count(*)::BIGINT AS n_dup_grams FROM docc GROUP BY 1),
sp AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans,
         sum(e - s)::BIGINT AS dup_tokens,
         md5(array_to_string(list(printf('%06d:%06d', s, e) ORDER BY s), ','))
           AS span_md5
  FROM spans GROUP BY 1
)
SELECT doc_id, n_dup_grams, n_spans, dup_tokens, span_md5
FROM g JOIN sp USING (doc_id)
""",
)
def q_dedup_exact_substr(spark, sf_dir):
    """ExactSubstr duplicated-span detection (Lee et al. 2022) bounded for
    Spark: positions whose 8-token gram occurs >1 time corpus-wide,
    merged into maximal per-doc spans via gaps-and-islands windows; grams
    travel as md5 digests, the count is one hash agg, no suffix array and
    no self-join."""
    return corpusprep.exact_substr_spans(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs indexed corpus
# ---------------------------------------------------------------------------


def _lsh_side(sfx: str, source: str, num_perm: int = 8,
              bands: int = 4) -> str:
    """CTE fragment: shingles, sizes, signatures and band keys for one side
    of an incremental-LSH step (band keys identical to _minhash_oracle's)."""
    r = num_perm // bands
    sig_cols = ", ".join(
        f"min(('0x' || substr(md5('{j}#' || shingle), 1, 15))::BIGINT) AS sig_{j}"
        for j in range(num_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ',' || ".join(f"(sig_{b * r + i}::VARCHAR)" for i in range(r))
        + f") AS band_key FROM sigs_{sfx}"
        for b in range(bands)
    )
    return f"""
toks_{sfx} AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM {source}),
sh_{sfx} AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks_{sfx}, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
),
sizes_{sfx} AS (SELECT doc_id, count(*) AS n_shingles FROM sh_{sfx} GROUP BY doc_id),
sigs_{sfx} AS (SELECT doc_id, {sig_cols} FROM sh_{sfx} GROUP BY doc_id),
banded_{sfx} AS ({band_selects})"""


def _lsh_step(s: str, corpus_src: str, inc_src: str, num_perm: int = 8,
              bands: int = 4, threshold: float = 0.8) -> str:
    """CTE fragment ending in v{s}(doc_id, dup_of, jaccard, is_new): one
    serial incremental-LSH verdict step of ``inc_src`` against
    ``corpus_src`` (both CTEs of (doc_id, text))."""
    return f"""{_lsh_side(f"c{s}", corpus_src, num_perm, bands)},
{_lsh_side(f"i{s}", inc_src, num_perm, bands)},
cand_{s} AS (
  SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
  FROM banded_i{s} i JOIN banded_c{s} c
    ON i.band_id = c.band_id AND i.band_key = c.band_key
),
inter_{s} AS (
  SELECT inc_id, corpus_id, count(*)::BIGINT AS isz
  FROM cand_{s} JOIN sh_i{s} a ON a.doc_id = inc_id
  JOIN sh_c{s} b ON b.doc_id = corpus_id AND a.shingle = b.shingle
  GROUP BY 1, 2
),
verified_{s} AS (
  SELECT inc_id, corpus_id,
         round(isz / (si.n_shingles + sc.n_shingles - isz), 4) AS jaccard
  FROM inter_{s}
  JOIN sizes_i{s} si ON si.doc_id = inc_id
  JOIN sizes_c{s} sc ON sc.doc_id = corpus_id
  WHERE round(isz / (si.n_shingles + sc.n_shingles - isz), 4) >= {threshold}
),
best_{s} AS (
  SELECT inc_id, corpus_id, jaccard,
         row_number() OVER (PARTITION BY inc_id
                            ORDER BY jaccard DESC, corpus_id) AS rk
  FROM verified_{s}
),
v{s} AS (
  SELECT i.doc_id, b.corpus_id AS dup_of, b.jaccard,
         (b.corpus_id IS NULL) AS is_new
  FROM {inc_src} i
  LEFT JOIN (SELECT * FROM best_{s} WHERE rk = 1) b ON b.inc_id = i.doc_id
)"""


def _incremental_oracle(num_perm: int = 8, bands: int = 4,
                        threshold: float = 0.8) -> str:
    """Serial replay of incremental LSH dedup: the corpus is 80% of
    documents by a deterministic md5 bucket of doc_id, the increment the
    other 20%."""
    return f"""
WITH split AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INT % 5 AS bucket
  FROM documents
),
corpus AS (SELECT doc_id, text FROM split WHERE bucket < 4),
inc AS (SELECT doc_id, text FROM split WHERE bucket = 4),
{_lsh_step('1', 'corpus', 'inc', num_perm, bands, threshold)}
SELECT doc_id, dup_of, jaccard, is_new FROM v1
"""


@register("dedup_incremental_lsh", _incremental_oracle())
def q_dedup_incremental(spark, sf_dir):
    """Daily-ingest dedup: band keys of the standing corpus act as a
    persisted LSH index; only the 20% increment is hashed and joined
    against it, so per-batch cost scales with the batch, not the corpus
    (operators/dedup.py:incremental_minhash_dedup)."""
    docs = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int") % 5
    )
    corpus = docs.where(bucket < 4)
    inc = docs.where(bucket == 4)
    return dedup.incremental_minhash_dedup(
        corpus, inc, num_perm=8, bands=4, k=3, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules + char-diversity (round 5)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


def _gopher_oracle(source: str, id_col: str, text_col: str) -> str:
    """Gopher rule set in DuckDB over any (id, text) relation — same exact
    integer formulations as operators/textstats.gopher_rules, so agreement is
    bit-level with no float seam. DuckDB lateral column aliases let `keep`
    reference the flag aliases directly."""
    norm = f"trim(regexp_replace({text_col}, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))"
    return f"""
WITH f AS (
  SELECT {id_col} AS id, {text_col} AS text,
         list_filter(string_split({norm}, ' '), w -> len(w) > 0) AS ws,
         len({norm})::BIGINT AS norm_len,
         string_split({text_col}, chr(10)) AS lines
  FROM {source}
), m AS (
  SELECT id,
    len(ws)::BIGINT AS n,
    (CASE WHEN len(ws) > 0 THEN norm_len - (len(ws) - 1) ELSE 0 END)::BIGINT AS wc,
    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS alpha,
    ((len(text) - len(replace(text, '#', '')))
       + (len(string_split(text, '...')) - 1))::BIGINT AS symbols,
    len(lines)::BIGINT AS n_lines,
    len(list_filter(lines, l -> ltrim(l)[1] IN ('-', '*', '•')))::BIGINT AS bullets,
    len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::BIGINT AS ell_end,
    len(list_filter(list_distinct(ws), w -> list_contains({_GOPHER_STOPS}, w)))::BIGINT AS stop_hits
  FROM f
)
SELECT id AS {id_col}, n::INT AS n_words, wc::INT AS word_chars,
  n_lines::INT AS n_lines, symbols::INT AS n_symbols, stop_hits::INT AS stopword_hits,
  (n >= 50 AND n <= 100000) AS flag_word_count,
  (n > 0 AND 3 * n <= wc AND wc <= 10 * n) AS flag_mean_len,
  (10 * symbols <= n) AS flag_symbol,
  (10 * bullets <= 9 * n_lines) AS flag_bullet,
  (10 * ell_end <= 3 * n_lines) AS flag_ellipsis,
  (n > 0 AND 5 * alpha >= 4 * n) AS flag_alpha,
  (stop_hits >= 2) AS flag_stopwords,
  (flag_word_count AND flag_mean_len AND flag_symbol AND flag_bullet
   AND flag_ellipsis AND flag_alpha AND flag_stopwords) AS keep
FROM m
"""


@register("quality_gopher_rules", _gopher_oracle("documents", "doc_id", "text"))
def q_quality_gopher_rules(spark, sf_dir):
    """Gopher quality-filter gate over the raw corpus (exact-integer rules,
    zero UDF — see operators/textstats.gopher_rules)."""
    return textstats.gopher_rules(_docs(spark, sf_dir))


from deepdoctection_spark.plans import oracles as _oracles  # noqa: E402


@register(
    "conv_quality_rules",
    _gopher_oracle(
        "(" + _oracles.oracle_conversation_text() + ")", "conv_id", "conv_text"
    ),
)
def q_conv_quality_rules(spark, sf_dir):
    """Extraction → curation composition: the Gopher gate applied to the
    REASSEMBLED conversation text (the real pipeline order — extract main
    text per turn, assemble in stable turn order, THEN quality-gate the
    conversation for the training mix). Spark runs the genuine HTML/layout
    extractors; the oracle replays template ground truth through the same
    rule SQL."""
    from deepdoctection_spark.plans import pipeline as _pipeline

    conv = _pipeline.q_conversation_text(spark, sf_dir)
    return textstats.gopher_rules(
        conv.select("conv_id", F.col("conv_text").alias("text")), id_col="conv_id"
    )


_CHAR_DIVERSITY_ORACLE = f"""
WITH t AS (SELECT doc_id, replace({_NORM}, ' ', '') AS s FROM documents),
m AS (
  SELECT doc_id, len(s)::BIGINT AS n_chars,
    list_distinct(string_split(s, '')) AS dc,
    list_sum(list_transform(list_distinct(string_split(s, '')),
      d -> (len(s) - len(replace(s, d, '')))::BIGINT
           * ((len(s) - len(replace(s, d, '')))::BIGINT - 1))) AS coll
  FROM t
)
SELECT doc_id, n_chars, len(dc)::INT AS distinct_chars,
  (CASE WHEN n_chars > 1
        THEN (2000000 * coll::BIGINT + n_chars * (n_chars - 1))
             // (2 * n_chars * (n_chars - 1))
        ELSE 0 END)::BIGINT AS simpson_micro
FROM m
"""


@register("quality_char_diversity", _CHAR_DIVERSITY_ORACLE)
def q_quality_char_diversity(spark, sf_dir):
    """Simpson char-collision index in exact integer micro-units — float-free
    repetitiveness signal; per-doc counting via replace-diff, no explode."""
    return textstats.char_diversity(_docs(spark, sf_dir))


# Deterministic multi-line "web page" synthesis over the documents table —
# the corpus text itself is punctuation-free word soup, on which every C4
# line rule is vacuously false; this template (same construction replayed in
# both engines, the FakeData/transcripts philosophy) exercises BOTH branches
# of every flag: terminal-punct keep, short-line drop, soup drop, boilerplate
# drop, sentence-count gate (doc_id%5), lorem page drop (%7, case-insensitive
# via the capitalized marker), brace page drop (%11).
_C4_PAGES_CTE = """
pages AS (
  SELECT doc_id, concat_ws(chr(10),
    'Document ' || doc_id || ' opens with a proper sentence.',
    'too short.',
    substr(text, 1, 40),
    CASE WHEN doc_id % 4 = 0
         THEN 'We updated our privacy policy effective today.' END,
    CASE WHEN doc_id % 5 IN (0, 1)
         THEN 'A second full sentence arrives with words!' END,
    CASE WHEN doc_id % 5 = 0
         THEN 'Does the third sentence complete the document?' END,
    CASE WHEN doc_id % 7 = 0
         THEN 'Filler contains Lorem Ipsum boilerplate markers today.' END,
    CASE WHEN doc_id % 11 = 0
         THEN 'code sample { return 1; } inline' END
  ) AS text FROM documents
)
"""


def _c4_pages(docs):
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("Document "), d.cast("string"),
                     F.lit(" opens with a proper sentence.")),
            F.lit("too short."),
            F.substring("text", 1, 40),
            F.when(d % 4 == 0,
                   F.lit("We updated our privacy policy effective today.")),
            F.when((d % 5).isin(0, 1),
                   F.lit("A second full sentence arrives with words!")),
            F.when(d % 5 == 0,
                   F.lit("Does the third sentence complete the document?")),
            F.when(d % 7 == 0,
                   F.lit("Filler contains Lorem Ipsum boilerplate markers "
                         "today.")),
            F.when(d % 11 == 0,
                   F.lit("code sample { return 1; } inline")),
        ).alias("text"),
    )


def _c4_oracle() -> str:
    """C4 rule set in DuckDB — same explicit whitespace class, line
    predicate and page gates as operators/textstats.c4_rules, so flags are
    bit-identical with no regex-dialect seam."""
    ws = "[ \\t\\r\\f\\x0B]"
    no_boiler = " AND ".join(
        f"NOT contains(lower(l), '{p}')" for p in textstats.C4_LINE_PHRASES
    )
    return f"""
WITH {_C4_PAGES_CTE.strip()},
f AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM pages
), w AS (
  SELECT doc_id, text, len(lines)::BIGINT AS n_lines,
    list_filter(
      list_transform(lines,
        l -> regexp_replace(l, '(^{ws}+)|({ws}+$)', '', 'g')),
      l -> len(list_filter(regexp_split_to_array(l, '{ws}+'),
                           x -> len(x) > 0)) >= 5
           AND right(l, 1) IN ('.', '!', '?', '"')
           AND {no_boiler}
    ) AS kept
  FROM f
), m AS (
  -- array_to_string of an empty list is NULL in DuckDB; Spark's
  -- array_join gives '' — coalesce to match
  SELECT doc_id, text, n_lines, len(kept)::BIGINT AS kept_lines,
         coalesce(array_to_string(kept, chr(10)), '') AS clean
  FROM w
), s AS (
  SELECT *, (len(clean) - len(translate(clean, '.!?', '')))::BIGINT AS n_sent,
         NOT contains(lower(text), 'lorem ipsum') AS flag_lorem,
         NOT contains(text, chr(123)) AS flag_brace
  FROM m
)
SELECT doc_id, n_lines::INT AS n_lines, kept_lines::INT AS kept_lines,
  n_sent::INT AS n_sentences, len(clean)::INT AS clean_chars,
  (n_sent >= 3) AS flag_sentences, flag_lorem, flag_brace,
  (kept_lines >= 1 AND n_sent >= 3 AND flag_lorem AND flag_brace) AS keep
FROM s
"""


@register("quality_c4_rules", _c4_oracle())
def q_quality_c4_rules(spark, sf_dir):
    """C4 cleaning gate (line-keep + page-drop rules) over deterministic
    template pages — exact integer/boolean arithmetic, zero UDF, one
    codegen map (operators/textstats.c4_rules); every flag exercises both
    branches (see _C4_PAGES_CTE)."""
    return textstats.c4_rules(_c4_pages(_docs(spark, sf_dir)))


_LUHN_SQL = """
CASE WHEN i % 2 = 1 THEN substr(reverse(cand), i, 1)::INT
     ELSE CASE WHEN 2 * substr(reverse(cand), i, 1)::INT > 9
               THEN 2 * substr(reverse(cand), i, 1)::INT - 9
               ELSE 2 * substr(reverse(cand), i, 1)::INT END END
"""


@register(
    "pii_luhn_validate",
    f"""
WITH aug AS (
  SELECT doc_id,
    'acct ' || lpad((('0x' || substr(md5('card#' || doc_id), 1, 13))
                     ::BIGINT)::VARCHAR, 16, '0')
    || ' ref ' || lpad((doc_id % 1000000000000)::VARCHAR, 12, '0')
    || CASE WHEN doc_id % 5 = 0 THEN ' id 999999999999999999999'
            ELSE '' END
    || ' end' AS text
  FROM documents
),
runs AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\d+')) AS cand
         FROM aug),
keep AS (SELECT doc_id, cand FROM runs WHERE length(cand) >= 13)
SELECT doc_id, cand, length(cand)::INT AS n_digits,
       (length(cand) <= 19)::INT AS len_ok,
       ((list_sum(list_transform(range(1, length(cand) + 1),
                                 i -> {_LUHN_SQL})) % 10 = 0)::INT
        * (length(cand) <= 19)::INT) AS luhn_valid
FROM keep
""",
)
def q_pii_luhn_validate(spark, sf_dir):
    """Checksum-validated card-number detection over planted candidates:
    each doc carries a deterministic 16-digit run (~10% Luhn-valid by
    hash), a 12-digit run (below card length — must NOT surface), and
    every 5th doc a 21-digit run (over card length — surfaced with
    len_ok=0, never valid). The oracle replays extraction AND the mod-10
    fold digit-for-digit (operators/textstats.luhn_candidates)."""
    from deepdoctection_spark.operators.textstats import luhn_candidates

    d = F.col("doc_id")
    c16 = F.lpad(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("card#"), d.cast("string"))
                      .cast("binary")), 1, 13),
            16, 10),
        16, "0")
    aug = F.concat(
        F.lit("acct "), c16,
        F.lit(" ref "), F.lpad((d % (10 ** 12)).cast("string"), 12, "0"),
        F.when(d % 5 == 0, F.lit(" id 999999999999999999999"))
        .otherwise(F.lit("")),
        F.lit(" end"),
    )
    docs = _docs(spark, sf_dir)
    return luhn_candidates(docs.select("doc_id", aug.alias("text")))


_MIX_WTS_CTE = f"""
toksm AS (SELECT source, string_split({_NORM}, ' ') AS ws FROM documents),
per_srcm AS (
  SELECT source, sum(len(list_filter(ws, w -> len(w) > 0)))::BIGINT
           AS n_tokens
  FROM toksm GROUP BY source
),
qm AS (
  SELECT source,
         floor(n_tokens * 1000000
               / sum(n_tokens) OVER ())::BIGINT AS p_q6
  FROM per_srcm
),
sm AS (SELECT source, floor(sqrt(p_q6::DOUBLE) * 1000 + 0.5)::BIGINT AS s_q3
       FROM qm),
wts AS (SELECT source,
               floor(s_q3 * 1000000 / sum(s_q3) OVER ())::BIGINT
                 AS weight_q6
        FROM sm)
"""


@register(
    "loader_mixture_schedule",
    f"""
WITH {_MIX_WTS_CTE},
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('sched#' || doc_id))::BIGINT AS k
  FROM documents
)
SELECT r.source, r.doc_id, r.k,
       ((2 * r.k - 1) * 1000000000
          // (2 * greatest(w.weight_q6, 1)))::BIGINT AS key_q3
FROM ranked r JOIN wts w USING (source)
""",
)
def q_loader_mixture_schedule(spark, sf_dir):
    """Stride-scheduled mixture interleave: temperature-scaled per-source
    weights (the mixture_weights math) drive a deterministic virtual-time
    key so any prefix of the key-sorted stream tracks the mixture within
    one doc per source — the executable epoch plan, no RNG, no global
    rank (operators/corpusprep.stride_schedule). The oracle replays the
    weight quantization AND the stride arithmetic exactly."""
    docs = _docs(spark, sf_dir)
    return corpusprep.stride_schedule(
        docs, corpusprep.mixture_weights(docs))


_MD_PAYLOAD_SQL = f"""
'# Doc ' || doc_id || chr(10)
|| substr({_NORM}, 1, 40)
|| ' see [docs](https://ex.org/p/' || doc_id || ') and ![fig](img'
|| doc_id || '.png)' || chr(10)
|| '```' || chr(10) || 'code_' || doc_id || chr(10) || '```' || chr(10)
|| CASE WHEN doc_id % 3 = 0 THEN '## Sub' || chr(10) ELSE '' END
|| '**b' || doc_id || '** *i* end'
"""


@register(
    "extract_markdown_text",
    f"""
WITH md AS (SELECT doc_id, {_MD_PAYLOAD_SQL} AS m FROM documents),
s1 AS (SELECT doc_id, m,
         regexp_extract_all(m, '(?s)```(.*?)```', 1) AS fences,
         regexp_replace(m, '(?s)```.*?```', ' ', 'g') AS nofence
       FROM md),
s2 AS (SELECT *, len(regexp_extract_all(nofence,
                     '!\\[[^\\]]*\\]\\([^)]*\\)'))::INT AS n_images,
         regexp_replace(nofence, '!\\[[^\\]]*\\]\\([^)]*\\)', ' ', 'g')
           AS noimg
       FROM s1),
s3 AS (SELECT *, regexp_extract_all(noimg,
                   '\\[([^\\]]*)\\]\\(([^)]*)\\)', 2) AS links,
         regexp_replace(noimg, '\\[([^\\]]*)\\]\\(([^)]*)\\)', '\\1', 'g')
           AS unlinked
       FROM s2),
s4 AS (SELECT *, len(regexp_extract_all(unlinked,
                     '(?m)^#{{1,6}}[ \\t]+'))::INT AS n_headers,
         regexp_replace(
           regexp_replace(unlinked, '(?m)^#{{1,6}}[ \\t]+', '', 'g'),
           '\\*{{1,2}}([^*]*)\\*{{1,2}}', '\\1', 'g') AS clean
       FROM s3)
SELECT doc_id,
       trim(regexp_replace(clean, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS text,
       len(links)::INT AS n_links,
       array_to_string(links, ',') AS links,
       n_images,
       len(fences)::INT AS n_fences,
       list_sum(list_transform(fences, x -> length(x)))::INT AS code_chars,
       n_headers
FROM s4
""",
)
def q_extract_markdown_text(spark, sf_dir):
    """Markdown main-content extraction (the third payload family beside
    HTML and PDF): synthesized README-style payloads — header, prose with
    a link and an image, a fenced code block, a conditional sub-header,
    emphasis — through the pure-column extraction chain
    (operators/textstats.markdown_extract). The oracle replays the
    identical RE2-safe regex chain, so fence isolation, link/image split,
    header/emphasis strip and the code-char audit are all value-checked."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    norm = F.trim(
        F.regexp_replace(F.col("text"), r"[ \t\n\r\f\x0B]+", " "))
    nl = F.lit("\n")
    md = F.concat(
        F.lit("# Doc "), ds, nl,
        F.substring(norm, 1, 40),
        F.lit(" see [docs](https://ex.org/p/"), ds,
        F.lit(") and ![fig](img"), ds, F.lit(".png)"), nl,
        F.lit("```"), nl, F.lit("code_"), ds, nl, F.lit("```"), nl,
        F.when(d % 3 == 0, F.concat(F.lit("## Sub"), nl)).otherwise(F.lit("")),
        F.lit("**b"), ds, F.lit("** *i* end"),
    )
    from deepdoctection_spark.operators.textstats import markdown_extract

    return markdown_extract(docs.select("doc_id", md.alias("text")))


@register(
    "extract_markdown_tables",
    """
WITH m AS (
  SELECT doc_id,
         'pre' || chr(10)
         || '| name | qty' || (doc_id % 5) || ' |' || chr(10)
         || '| --- | :-: |' || chr(10)
         || list_aggr(list_transform(range(1, 2 + doc_id % 3 + 1),
              i -> '| r' || i || ' | v' || (doc_id + i) || ' |'),
              'string_agg', chr(10)) || chr(10)
         || 'post' AS t
  FROM documents
),
tl AS (SELECT doc_id,
         list_filter(string_split(t, chr(10)),
                     l -> starts_with(l, '|')
                          AND NOT regexp_matches(l, '^\\|[-:| ]+\\|?$'))
           AS rows_
       FROM m),
rx AS (SELECT doc_id, unnest(rows_) AS line,
              unnest(range(1, len(rows_) + 1)) AS r FROM tl),
cx AS (SELECT doc_id, r,
         string_split(regexp_replace(regexp_replace(line, '^\\|', ''),
                                     '\\|$', ''), '|') AS cells
       FROM rx)
SELECT doc_id, r::INT AS row, unnest(range(1, len(cells) + 1))::INT AS col,
       trim(unnest(cells)) AS cell, (r = 1)::INT AS is_header
FROM cx
""",
)
def q_extract_markdown_tables(spark, sf_dir):
    """GFM pipe tables into the engine's (row, col, cell) relation: each
    doc carries a header + alignment separator + 2-4 data rows between
    prose lines; the separator must vanish, the prose must not leak, and
    every cell lands row/col-addressed exactly like the HTML/PDF table
    paths (operators/textstats.markdown_tables). The oracle replays the
    split/filter/zip chain."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    nl = F.lit("\n")
    data_rows = F.transform(
        F.sequence(F.lit(1), (d % 3 + 2).cast("int")),
        lambda i: F.concat(F.lit("| r"), i.cast("string"), F.lit(" | v"),
                           (d + i).cast("string"), F.lit(" |")),
    )
    md = F.concat(
        F.lit("pre"), nl,
        F.lit("| name | qty"), (d % 5).cast("string"), F.lit(" |"), nl,
        F.lit("| --- | :-: |"), nl,
        F.array_join(data_rows, "\n"), nl,
        F.lit("post"),
    )
    from deepdoctection_spark.operators.textstats import markdown_tables

    return markdown_tables(docs.select("doc_id", md.alias("text")))


def _cluster_longest_oracle() -> str:
    return f"""
WITH cl AS ({_cluster_oracle()}),
tk AS (SELECT doc_id,
         len(list_filter(string_split({_NORM}, ' '),
                         w -> len(w) > 0))::BIGINT AS n_tokens
       FROM documents),
j AS (SELECT cl.*, tk.n_tokens FROM cl JOIN tk USING (doc_id))
SELECT doc_id, cluster_id, cluster_size, n_tokens,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_tokens DESC, doc_id) = 1)::INT
         AS keep_longest
FROM j
"""


@register("dedup_cluster_keep_longest", _cluster_longest_oracle())
def q_dedup_cluster_keep_longest(spark, sf_dir):
    """Quality-aware near-dup representative selection: the keep-longest
    policy (CCNet/FineWeb) over the materialized LSH clusters — within a
    cluster the fullest member survives, truncated/boilerplate-wrapped
    copies drop; min-id keep is the quality-blind fallback dup_clusters
    already provides. One rank window over the cluster relation
    (operators/dedupclusters.cluster_select_longest); the oracle wraps the
    recursive-CTE transitive closure with the same window."""
    from deepdoctection_spark.operators.dedupclusters import (
        cluster_select_longest,
        dup_clusters,
    )

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=3,
                                    threshold=0.8)
    return cluster_select_longest(docs, dup_clusters(docs, pairs))


@register(
    "corpus_release_manifest",
    f"""
WITH t AS (
  SELECT doc_id, lang, md5(text) AS fp,
         len(list_filter(string_split({_NORM}, ' '),
                         w -> len(w) > 0))::BIGINT AS n_tokens
  FROM documents
),
tot AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS total_tokens,
         count(DISTINCT fp)::BIGINT AS n_distinct
  FROM t
)
SELECT 'n_docs' AS metric, n_docs::BIGINT AS value FROM tot
UNION ALL SELECT 'total_ws_tokens', total_tokens::BIGINT FROM tot
UNION ALL SELECT 'mean_tokens_milli',
       (total_tokens * 1000 // n_docs)::BIGINT FROM tot
UNION ALL SELECT 'distinct_text_ppm',
       (n_distinct * 1000000 // n_docs)::BIGINT FROM tot
UNION ALL
SELECT 'len50_keep_ppm',
       (sum((n_tokens >= 50)::INT) * 1000000 // count(*))::BIGINT FROM t
UNION ALL
SELECT 'lang_' || lang || '_ppm',
       (count(*) * 1000000 // (SELECT n_docs FROM tot))::BIGINT
FROM t GROUP BY lang
""",
)
def q_corpus_release_manifest(spark, sf_dir):
    """The release data card: one (metric, value) row per certification
    figure a corpus publish step must stamp — doc and token totals, exact
    integer-ppm dedup level (distinct md5 share), the ≥50-token keep rate,
    and the per-language mix — all from TWO fused hash aggregations over
    one scan plus a lang rollup; every number exact integer arithmetic so
    the card is reproducible bit-for-bit on any engine or cluster size."""
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.col("text"), r"[ \t\n\r\f\x0B]+", " "))
    t = docs.select(
        "doc_id", "lang",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.size(F.filter(F.split(norm, " "), lambda w: F.length(w) > 0))
        .cast("long").alias("n_tokens"),
    )
    tot = t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count_distinct("fp").cast("long").alias("n_distinct"),
        F.sum((F.col("n_tokens") >= 50).cast("int")).cast("long")
        .alias("n_len50"),
    )
    rows = (
        tot.select(F.lit("n_docs").alias("metric"),
                   F.col("n_docs").alias("value"))
        .unionByName(tot.select(F.lit("total_ws_tokens").alias("metric"),
                                F.col("total_tokens").alias("value")))
        .unionByName(tot.select(
            F.lit("mean_tokens_milli").alias("metric"),
            F.expr("total_tokens * 1000 DIV n_docs").alias("value")))
        .unionByName(tot.select(
            F.lit("distinct_text_ppm").alias("metric"),
            F.expr("n_distinct * 1000000 DIV n_docs").alias("value")))
        .unionByName(tot.select(
            F.lit("len50_keep_ppm").alias("metric"),
            F.expr("n_len50 * 1000000 DIV n_docs").alias("value")))
    )
    langs = (
        t.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
        .crossJoin(F.broadcast(tot.select("n_docs")))
        .select(
            F.concat(F.lit("lang_"), F.col("lang"), F.lit("_ppm"))
            .alias("metric"),
            F.expr("n * 1000000 DIV n_docs").alias("value"),
        )
    )
    return rows.unionByName(langs)
