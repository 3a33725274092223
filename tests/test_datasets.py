"""Dataset adapter facade (DataFlowBaseBuilder.build semantics); the split/
category parity is the dataset_build row of the parity gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepdoctection_spark.sources.datasets import TranscriptDataset, split_bucket


def test_splits_partition_the_corpus(spark, sf_small):
    ds = TranscriptDataset(spark, sf_small)
    n_all = ds.build().count()
    parts = {s: ds.build(split=s).count() for s in ("train", "val", "test")}
    assert sum(parts.values()) == n_all
    assert parts["train"] > parts["val"] >= 0


def test_split_membership_is_conv_stable(spark, sf_small):
    # every conv lands wholly in one split (bucket is a function of conv_id)
    ds = TranscriptDataset(spark, sf_small)
    v = ds.build(split="val").select("conv_id").distinct()
    t = ds.build(split="train").select("conv_id").distinct()
    assert v.join(t, "conv_id").count() == 0


def test_category_filter_prunes_spans(spark, sf_small):
    ds = TranscriptDataset(spark, sf_small)
    df = ds.build(categories=["table"])
    bad = df.select(
        F.size(F.filter("blocks", lambda b: b["category"] != "table")).alias("n")
    ).where(F.col("n") > 0)
    assert bad.count() == 0
    assert df.count() > 0


def test_repeat_adds_epoch_column(spark, sf_small):
    ds = TranscriptDataset(spark, sf_small)
    base = ds.build(max_datapoints=10)
    rep = ds.build(max_datapoints=10, repeat=3)
    assert rep.count() == 3 * base.count()
    assert set(r["epoch"] for r in rep.select("epoch").distinct().collect()) == {0, 1, 2}


def test_split_bucket_matches_duckdb():
    import duckdb

    ids = [f"conv-{i:05d}" for i in range(50)]
    con = duckdb.connect()
    expected = {
        cid: con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 2))::INT % 10", [cid]
        ).fetchone()[0]
        for cid in ids
    }
    import hashlib

    for cid in ids:
        got = int(hashlib.md5(cid.encode()).hexdigest()[:2], 16) % 10
        assert got == expected[cid]


def test_pii_scrub_redacts_everything(spark):
    """Every planted email/URL/IP is found exactly once and the post-scrub
    residue is zero; the scrubbed text contains the typed placeholders."""
    from deepdoctection_spark.operators.textstats import pii_scrub

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pii_scrub(docs).collect()
    assert len(out) == docs.count()
    for r in out:
        assert (r["n_emails"], r["n_urls"], r["n_ips"]) == (1, 1, 1)
        assert r["n_ips_left"] == 0


def test_decontaminate_flags_bench_sources(spark):
    """Benchmark-source docs (doc_id %% 37 == 0) contain their own snippet, so
    they must be contaminated; counts are consistent and bounded."""
    from deepdoctection_spark.operators.corpusprep import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = decontaminate(docs, k=5).collect()
    assert len(rows) == docs.count()
    bench_ids = {r["doc_id"] for r in rows if r["doc_id"] % 37 == 0}
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_ngrams"]
        assert r["contaminated"] == (r["n_hits"] > 0)
        if r["doc_id"] in bench_ids and r["n_ngrams"] >= 14:
            # the snippet (tokens 3..20) lives inside the doc -> self-overlap
            assert r["contaminated"], f"bench doc {r['doc_id']} not flagged"


def test_repetition_planted_docs_have_duplicates(spark):
    """Docs with doc_id %% 4 >= 1 get their first-8-token prefix appended, so
    the prefix 5-grams occur at least twice -> dup5_frac > 0; fractions stay
    in [0, 1]."""
    from deepdoctection_spark.operators.corpusprep import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = repetition_stats(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["top2_frac"] <= 1.0 and 0.0 <= r["dup5_frac"] <= 1.0
        if r["doc_id"] % 4 >= 1 and r["n5"] >= 20:
            assert r["dup5_frac"] > 0.0, f"doc {r['doc_id']} planted but clean"


def test_dsir_weights_are_deterministic_token_sums(spark):
    """n_feats equals the doc's token count and logw is the micro-unit sum
    (exact integer contract)."""
    from deepdoctection_spark.operators.corpusprep import dsir_weights
    from deepdoctection_spark.operators.textstats import token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = {r["doc_id"]: r for r in dsir_weights(docs).collect()}
    toks = {r["doc_id"]: r["ws_tokens"] for r in token_counts(docs).collect()}
    assert set(w) == set(toks)
    for doc_id, r in w.items():
        assert r["n_feats"] == toks[doc_id]
        assert abs(r["logw"] - r["logw_q6"] / 1e6) < 1e-12


def test_stratified_sample_exact_proportions(spark):
    """Per stratum: ranks are a dense permutation 1..n and exactly
    ceil(0.3*n) docs are kept."""
    import math

    from deepdoctection_spark.operators.corpusprep import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = stratified_sample(docs, frac=0.3).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        n = len(rs)
        assert sorted(r["sample_rank"] for r in rs) == list(range(1, n + 1))
        assert all(r["n_source"] == n for r in rs)
        kept = sum(r["keep"] for r in rs)
        assert kept == math.ceil(0.3 * n)


def test_chunk_documents_covers_every_token(spark):
    """Window starts advance by stride; every token position is covered;
    only the last window may be short; chunk 0 md5 equals the md5 of the
    first `chunk` tokens."""
    import hashlib

    from deepdoctection_spark.operators.corpusprep import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
        normalized_text,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    norm = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", normalized_text(F.col("text")).alias("t")).collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunk_documents(docs).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(norm)
    for doc_id, chunks in by_doc.items():
        ws = norm[doc_id].split(" ")
        n = len(ws)
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert all(c["n_tokens"] == n for c in chunks)
        # coverage: last window reaches the end token
        last_start = (len(chunks) - 1) * CHUNK_STRIDE
        assert last_start + CHUNK_TOKENS >= n
        # only the last window may be short
        for c in chunks[:-1]:
            assert c["n_chunk_tokens"] == CHUNK_TOKENS
        first_text = " ".join(ws[:CHUNK_TOKENS])
        assert chunks[0]["chunk_md5"] == hashlib.md5(first_text.encode()).hexdigest()


def test_pack_sequences_offsets_are_exact_prefix_sums(spark):
    """Offsets from the two-level decomposition equal the serial exclusive
    prefix sum in doc_id order, and seq spans follow from the offsets."""
    from deepdoctection_spark.operators.corpusprep import PACK_SEQ_LEN, pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sorted(pack_sequences(docs).collect(), key=lambda r: r["doc_id"])
    running = 0
    for r in rows:
        assert r["offset"] == running, f"doc {r['doc_id']}: {r['offset']} != {running}"
        running += r["n_tokens"]
        if r["n_tokens"] > 0:
            assert r["seq_first"] == r["offset"] // PACK_SEQ_LEN
            assert r["seq_last"] == (r["offset"] + r["n_tokens"] - 1) // PACK_SEQ_LEN
            assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1
        else:
            assert r["n_seqs"] == 0


def test_line_dedup_first_occurrence_wins(spark):
    """Duplicate segments are dropped everywhere EXCEPT their global first
    (doc_id, seg_idx) occurrence; a corpus with no duplicate segments drops
    nothing; totals are conserved."""
    from deepdoctection_spark.operators.corpusprep import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y z w q r s t"),  # segs: [a..h], [x..t]
            (2, "a b c d e f g h n o p q u v w k"),  # first seg dupes doc 1
            (3, "n o p q u v w k a b c d e f g h"),  # both dupe earlier segs
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert rows[1]["n_dropped"] == 0 and rows[1]["n_segs"] == 2
    assert rows[2]["n_dropped"] == 1 and rows[2]["n_tokens_kept"] == 8
    assert rows[3]["n_dropped"] == 2 and rows[3]["n_tokens_kept"] == 0
    import hashlib

    assert rows[3]["kept_md5"] == hashlib.md5(b"").hexdigest()
    assert rows[2]["kept_md5"] == hashlib.md5(b"n o p q u v w k").hexdigest()


def test_mixture_weights_sum_and_monotonicity(spark):
    """Weights are a probability-like vector in micro-units (sum within
    rounding of 1e6), sqrt temperature compresses the range (oversample > 1
    for under-represented sources, < 1 for over-represented), and shares
    are exact integer ppm."""
    from deepdoctection_spark.operators.corpusprep import mixture_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = mixture_weights(docs).collect()
    n_src = len(rows)
    assert n_src == 20
    tot = sum(r["n_tokens"] for r in rows)
    wsum = sum(r["weight_q6"] for r in rows)
    assert 1000000 - n_src <= wsum <= 1000000  # floor loses < 1 unit per row
    mean_p = 1000000 / n_src
    for r in rows:
        assert r["p_q6"] == r["n_tokens"] * 1000000 // tot
        if r["p_q6"] < mean_p * 0.95:
            assert r["oversample_q3"] > 1000
        if r["p_q6"] > mean_p * 1.05:
            assert r["oversample_q3"] < 1000


def test_conv_tool_stats_counts_and_sequence(spark):
    """Role mix follows the doc_id%3 synthesis, the tool sequence is
    turn-ordered, latency totals are the exact planted integers, and the ts
    span matches the 30 s cadence."""
    import hashlib

    from deepdoctection_spark.operators.transcriptstats import conv_tool_stats
    from deepdoctection_spark.sources.transcripts import build_transcripts

    t = build_transcripts(spark, "/root/testdata/sf0.001")
    rows = {r["conv_id"]: r for r in conv_tool_stats(t).collect()}
    turns = t.select("conv_id", "turn_idx", "role", "tool").collect()
    by_conv: dict[str, list] = {}
    for r in turns:
        by_conv.setdefault(r["conv_id"], []).append(r)
    assert set(rows) == set(by_conv)
    for conv, ts in by_conv.items():
        r = rows[conv]
        assert r["n_turns"] == len(ts)
        assert r["n_user"] == sum(x["role"] == "user" for x in ts)
        assert r["n_tool_calls"] == sum(x["tool"] != "" for x in ts)
        seq = ",".join(
            x["tool"] for x in sorted(ts, key=lambda x: x["turn_idx"]) if x["tool"]
        )
        assert r["tool_seq"] == seq
        lat = [
            int(
                hashlib.md5(f"lat#{conv}#{x['turn_idx']}".encode()).hexdigest()[:8],
                16,
            )
            % 10000
            for x in ts
        ]
        assert r["sum_latency_ms"] == sum(lat) and r["max_latency_ms"] == max(lat)
        assert r["span_sec"] == 30 * (
            max(x["turn_idx"] for x in ts) - min(x["turn_idx"] for x in ts)
        )


def test_role_bigrams_totals_conserved(spark):
    """Every turn contributes exactly one transition; '<start>' rows equal
    the number of conversations."""
    from deepdoctection_spark.operators.transcriptstats import role_bigrams
    from deepdoctection_spark.sources.transcripts import build_transcripts

    t = build_transcripts(spark, "/root/testdata/sf0.001")
    rows = role_bigrams(t).collect()
    n_turns = t.count()
    n_convs = t.select("conv_id").distinct().count()
    assert sum(r["n"] for r in rows) == n_turns
    assert sum(r["n"] for r in rows if r["prev_role"] == "<start>") == n_convs


def test_bpe_pair_counts_rank_contract(spark):
    """Ranks are 1..k, counts are non-increasing, ties broken by pair text
    ascending, and the top pair's count equals a hand recount."""
    from collections import Counter

    from deepdoctection_spark.operators.corpusprep import bpe_pair_counts
    from deepdoctection_spark.operators.dedup import normalized_text
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sorted(bpe_pair_counts(docs).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        pa, pb = a["left_sym"] + a["right_sym"], b["left_sym"] + b["right_sym"]
        assert (a["pair_count"], pa) >= (b["pair_count"], pa) and (
            a["pair_count"] > b["pair_count"] or pa < pb
        )
    counts: Counter = Counter()
    norm = docs.select(normalized_text(F.col("text")).alias("t")).collect()
    for r in norm:
        for w in r["t"].split(" "):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    # recount is per-OCCURRENCE; the operator weights the distinct-word vocab
    # by word frequency — identical totals
    best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
    assert rows[0]["pair_count"] == best[1]


def test_weighted_sample_es_is_exact_topk(spark):
    """The returned rows are EXACTLY the serial top-k of ln(u)/w keys with
    the doc_id tie-break, and every key recomputes from the planted md5
    uniform."""
    import hashlib, math

    from deepdoctection_spark.operators.corpusprep import (
        RES_SAMPLE_K,
        weighted_sample_es,
    )
    from deepdoctection_spark.operators.dedup import normalized_text
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    norm = docs.select("doc_id", normalized_text(F.col("text")).alias("t")).collect()
    serial = []
    for r in norm:
        w = max(sum(1 for x in r["t"].split(" ") if x), 1)
        h = int(hashlib.md5(f"res#{r['doc_id']}".encode()).hexdigest()[:13], 16)
        u = (h + 1) / 4503599627370496.0
        key = math.floor(math.log(u) / w * 1.0e12)
        serial.append((-key, r["doc_id"], w, key))
    serial.sort()
    expect = [(i + 1, d, w, k) for i, (_, d, w, k) in enumerate(serial[:RES_SAMPLE_K])]
    got = [
        (r["sample_rank"], r["doc_id"], r["weight"], r["key_q12"])
        for r in sorted(weighted_sample_es(docs).collect(), key=lambda r: r["sample_rank"])
    ]
    assert got == expect


def test_edit_distance_pairs_metrics_and_ascii_contract(spark):
    """Every candidate pair's metrics recompute serially (difflib-free exact
    Levenshtein), sim_q4 follows from the distance, and the corpus is pure
    ASCII (the byte/char levenshtein equivalence contract)."""
    from deepdoctection_spark.operators.dedup import (
        edit_distance_pairs,
        normalized_text,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert docs.where(F.col("text").rlike("[^\\x00-\\x7F]")).count() == 0
    nt = {r["doc_id"]: r["t"] for r in
          docs.select("doc_id", normalized_text(F.col("text")).alias("t")).collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = edit_distance_pairs(docs).collect()
    assert rows, "LSH should surface at least one candidate pair"
    for r in rows:
        a, b = nt[r["doc_a"]], nt[r["doc_b"]]
        assert (r["len_a"], r["len_b"]) == (len(a), len(b))
        d = lev(a, b)
        assert r["edit_distance"] == d
        import math
        assert r["sim_q4"] == math.floor((1.0 - d / max(len(a), len(b), 1)) * 10000 + 0.5)


def test_bpe_train_matches_python_reference(spark):
    """The distributed iterated trainer reproduces a pure-Python BPE loop
    (Sennrich-style: pair argmax with (count desc, pair asc) tie-break,
    greedy left-to-right non-overlapping merge apply) exactly, merge table
    row for row."""
    from collections import Counter

    from deepdoctection_spark.operators.corpusprep import BPE_SEP, bpe_train
    from deepdoctection_spark.operators.dedup import normalized_text
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(bpe_train(docs, 6).collect(), key=lambda r: r["rank"])

    words: Counter = Counter()
    for r in docs.select(normalized_text(F.col("text")).alias("t")).collect():
        for w in r["t"].split(" "):
            if w and BPE_SEP not in w:
                words[w] += 1
    vocab = {tuple(w): n for w, n in words.items()}
    expect = []
    for rank in range(1, 7):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (l, rgt), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + BPE_SEP + kv[0][1])
        )
        expect.append((rank, l, rgt, l + rgt, cnt))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rgt:
                    out.append(l + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    assert [
        (r["rank"], r["left_sym"], r["right_sym"], r["new_token"], r["pair_count"])
        for r in got
    ] == expect


def test_bpe_encode_corpus_matches_python_reference(spark):
    """Per-document token counts after 6 trained merges equal a pure-Python
    train+encode replay; token counts never exceed word char counts and
    shrink (or hold) as merges land."""
    from collections import Counter

    from deepdoctection_spark.operators.corpusprep import (
        BPE_SEP,
        bpe_encode_corpus,
    )
    from deepdoctection_spark.operators.dedup import normalized_text
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_encode_corpus(docs, 6).collect()
    }

    texts = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", normalized_text(F.col("text")).alias("t")
        ).collect()
    }
    words: Counter = Counter()
    for t in texts.values():
        for w in t.split(" "):
            if w and BPE_SEP not in w:
                words[w] += 1
    vocab = {w: tuple(w) for w in words}
    for _ in range(6):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += words[w]
        if not pairs:
            break
        (l, rgt), _c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + BPE_SEP + kv[0][1])
        )
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rgt:
                    out.append(l + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = tuple(out)
    for did, t in texts.items():
        valid = [w for w in t.split(" ") if w and BPE_SEP not in w]
        exp_tokens = sum(len(vocab[w]) for w in valid)
        assert got[did] == (len(valid), exp_tokens), did
        assert exp_tokens <= sum(len(w) for w in valid)


def _norm_py(s: str) -> str:
    import re

    return re.sub("[ \t\n\r\f\x0b]+", " ", s).strip()


def test_bigram_perplexity_matches_python_replay(spark, sf_small):
    """Exact integer replay: same add-one bigram model, same micro-bit
    quantization, same bucket thresholds."""
    import math

    from deepdoctection_spark.operators.corpusprep import (
        PPLX_HEAD_MICROBITS,
        PPLX_TAIL_MICROBITS,
        bigram_perplexity,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    got = {r["doc_id"]: r for r in bigram_perplexity(docs).collect()}

    rows = [(r["doc_id"], _norm_py(r["text"])) for r in docs.collect()]
    doc_bigrams = {}
    pair_c: dict[tuple[str, str], int] = {}
    vocab = set()
    for did, t in rows:
        if not t:
            continue
        ws = t.split(" ")
        bgs = [("<s>" if i == 0 else ws[i - 1], ws[i]) for i in range(len(ws))]
        doc_bigrams[did] = bgs
        for bg in bgs:
            pair_c[bg] = pair_c.get(bg, 0) + 1
            vocab.add(bg[1])
    prev_c: dict[str, int] = {}
    for (p, _), c in pair_c.items():
        prev_c[p] = prev_c.get(p, 0) + c
    V = len(vocab)
    assert set(got) == set(doc_bigrams)
    for did, bgs in doc_bigrams.items():
        s = sum(
            math.floor(
                -math.log2((pair_c[bg] + 1) / (prev_c[bg[0]] + V)) * 1000000 + 0.5
            )
            for bg in bgs
        )
        r = got[did]
        assert r["n_bigrams"] == len(bgs), did
        assert abs(r["avg_nll_bits"] - math.floor(s / len(bgs) / 100 + 0.5) / 10000.0) < 1e-9, did
        avg_micro = math.floor(s / len(bgs))
        exp_bucket = (
            "head"
            if avg_micro < PPLX_HEAD_MICROBITS
            else ("middle" if avg_micro < PPLX_TAIL_MICROBITS else "tail")
        )
        assert r["bucket"] == exp_bucket, did


def test_exact_substr_spans_matches_python_replay(spark, sf_small):
    """Gaps-and-islands replay: duplicated 8-gram positions merged into
    maximal spans, exact integer fields + ordered span fingerprint."""
    import hashlib

    from deepdoctection_spark.operators.corpusprep import (
        SUBSTR_K,
        exact_substr_spans,
    )

    k = SUBSTR_K
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    got = {r["doc_id"]: r for r in exact_substr_spans(docs).collect()}

    rows = [(r["doc_id"], _norm_py(r["text"]).split(" ")) for r in docs.collect()]
    occ: dict[str, list[tuple[int, int]]] = {}
    gram_count: dict[str, int] = {}
    for did, ws in rows:
        for i in range(len(ws) - k + 1):
            g = " ".join(ws[i : i + k])
            gram_count[g] = gram_count.get(g, 0) + 1
            occ.setdefault(g, []).append((did, i))
    per_doc: dict[int, list[int]] = {}
    for g, c in gram_count.items():
        if c > 1:
            for did, pos in occ[g]:
                per_doc.setdefault(did, []).append(pos)
    assert set(got) == set(per_doc)
    for did, positions in per_doc.items():
        positions.sort()
        spans: list[list[int]] = []
        for p in positions:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        r = got[did]
        assert r["n_dup_grams"] == len(positions), did
        assert r["n_spans"] == len(spans), did
        assert r["dup_tokens"] == sum(e - s for s, e in spans), did
        fp = hashlib.md5(
            ",".join(f"{s:06d}:{e:06d}" for s, e in spans).encode()
        ).hexdigest()
        assert r["span_md5"] == fp, did


def test_luhn_candidates_known_vectors(spark):
    from deepdoctection_spark.operators.textstats import luhn_candidates

    docs = spark.createDataFrame(
        [
            (0, "pay 4111111111111111 now"),            # Luhn-valid Visa test
            (1, "ref 4111111111111112 bad check"),      # flipped check digit
            (2, "id 4532015112830366 ok"),              # another valid vector
            (3, "short 123456789012 ignored"),          # 12 digits: no row
            (4, "long 999999999999999999999 over"),     # 21 digits: len_ok 0
            (5, "two 4111111111111111 and 4111111111111112"),
        ],
        "doc_id long, text string",
    )
    rows = luhn_candidates(docs).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc                      # sub-card-length runs dropped
    assert [(r.cand, r.len_ok, r.luhn_valid) for r in by_doc[0]] == [
        ("4111111111111111", 1, 1)]
    assert [(r.luhn_valid) for r in by_doc[1]] == [0]
    assert [(r.luhn_valid) for r in by_doc[2]] == [1]
    (over,) = by_doc[4]
    assert (over.n_digits, over.len_ok, over.luhn_valid) == (21, 0, 0)
    assert sorted((r.cand, r.luhn_valid) for r in by_doc[5]) == [
        ("4111111111111111", 1), ("4111111111111112", 0)]


def test_luhn_candidates_fixture_has_both_classes(spark, sf_parity):
    """The planted md5-derived 16-digit runs must exercise both verdicts
    (~10% valid by hash) — guards against a degenerate fixture."""
    from pyspark.sql import functions as F

    import deepdoctection_spark.plans.training_ops  # noqa: F401 — registers
    from deepdoctection_spark.plans.registry import QUERIES

    agg = QUERIES["pii_luhn_validate"](spark, sf_parity).where(
        "n_digits = 16").agg(
        F.sum("luhn_valid").alias("v"), F.count("*").alias("n")).first()
    assert 0 < agg.v < agg.n


def test_stride_schedule_prefixes_track_mixture(spark):
    from deepdoctection_spark.operators.corpusprep import stride_schedule

    # two sources, weights 3:1 (q6 = 750000 / 250000)
    docs = spark.createDataFrame(
        [(i, "big") for i in range(300)] + [(1000 + i, "small") for i in range(100)],
        "doc_id long, source string",
    )
    wts = spark.createDataFrame(
        [("big", 750000), ("small", 250000)], "source string, weight_q6 long"
    )
    rows = sorted(stride_schedule(docs, wts).collect(),
                  key=lambda r: (r.key_q3, r.source))
    # stride guarantee: in every prefix, served_s is within ±1 of w_s * t
    # (Waldspurger's throughput error bound for stride scheduling)
    served = {"big": 0, "small": 0}
    for t, r in enumerate(rows[:200], start=1):
        served[r.source] += 1
        assert abs(served["big"] - 0.75 * t) <= 1.0, (t, served)
        assert abs(served["small"] - 0.25 * t) <= 1.0, (t, served)
    # per-source k dense from 1
    ks = {}
    for r in rows:
        ks.setdefault(r.source, []).append(r.k)
    for s, lst in ks.items():
        assert sorted(lst) == list(range(1, len(lst) + 1))


def test_stride_schedule_deterministic_across_partitioning(spark):
    from deepdoctection_spark.operators.corpusprep import stride_schedule

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(120)], "doc_id long, source string"
    )
    wts = spark.createDataFrame(
        [("s0", 500000), ("s1", 300000), ("s2", 200000)],
        "source string, weight_q6 long",
    )
    a = sorted(map(tuple, stride_schedule(docs.coalesce(1), wts).collect()))
    b = sorted(map(tuple, stride_schedule(docs.repartition(17), wts).collect()))
    assert a == b


def test_stride_schedule_zero_weight_source_matches_oracle(spark, sf_small,
                                                           tmp_path):
    """A source with no tokens floors to weight_q6 = 0; both engines
    schedule it at 1 ppm instead of dividing by zero."""
    from deepdoctection_spark.operators.corpusprep import mixture_weights
    from deepdoctection_spark.plans import training_ops  # noqa: F401
    from deepdoctection_spark.plans.registry import ORACLES, QUERIES
    from tests.harness import compare_query, sf_variant

    sf = sf_variant(
        sf_small, tmp_path / "sf", "documents",
        "SELECT doc_id, CASE WHEN source = 'src0' THEN '' ELSE text END"
        " AS text, lang, source, n_chars FROM src")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    wts = {r.source: r.weight_q6 for r in mixture_weights(docs).collect()}
    assert wts["src0"] == 0 and min(v for k, v in wts.items() if k != "src0") > 0
    name = "loader_mixture_schedule"
    assert compare_query(spark, name, QUERIES[name], ORACLES[name], sf) == []
    keys = [r.key_q3 for r in QUERIES[name](spark, sf)
            .where("source = 'src0'").collect()]
    assert len(keys) == 25 and min(keys) == 500000000


def test_markdown_extract_semantics(spark):
    from deepdoctection_spark.operators.textstats import markdown_extract

    md = (
        "# Title\n\nintro [a](http://x/1) mid ![p](pic.png) "
        "[b](http://x/2)\n\n```\nlink [c](http://x/3) inside code\n```\n\n"
        "## Sub\n**bold** *it* plain"
    )
    df = spark.createDataFrame([(1, md), (2, "no markdown here")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in markdown_extract(df).collect()}
    r = out[1]
    # fence isolated FIRST: the link inside code is not harvested
    assert r.n_links == 2 and r.links == "http://x/1,http://x/2"
    assert r.n_images == 1
    assert r.n_fences == 1
    assert r.code_chars == len("\nlink [c](http://x/3) inside code\n")
    assert r.n_headers == 2
    assert "```" not in r.text and "](" not in r.text and "#" not in r.text
    assert "bold" in r.text and "**" not in r.text
    assert "a" in r.text.split() and "b" in r.text.split()  # anchor text kept
    plain = out[2]
    assert plain.text == "no markdown here"
    assert (plain.n_links, plain.n_images, plain.n_fences,
            plain.n_headers, plain.code_chars) == (0, 0, 0, 0, 0)


def test_markdown_tables_cell_addressing(spark):
    from deepdoctection_spark.operators.textstats import markdown_tables

    md = ("before\n| A | B | C |\n|---|:--:|--:|\n"
          "| 1 | two | 3 |\n| x |  | z |\nafter | not a table")
    df = spark.createDataFrame([(1, md)], "doc_id long, text string")
    cells = {(r.row, r.col): (r.cell, r.is_header)
             for r in markdown_tables(df).collect()}
    assert cells[(1, 1)] == ("A", 1) and cells[(1, 3)] == ("C", 1)
    assert cells[(2, 2)] == ("two", 0) and cells[(3, 1)] == ("x", 0)
    assert cells[(3, 2)] == ("", 0)          # empty cell kept, addressed
    assert len(cells) == 9                   # separator + prose never leak
    assert max(r for r, _ in cells) == 3


def test_release_manifest_internally_consistent(spark, sf_parity):
    import deepdoctection_spark.plans.training_ops  # noqa: F401 — registers
    from deepdoctection_spark.plans.registry import QUERIES

    card = {r.metric: r.value for r in
            QUERIES["corpus_release_manifest"](spark, sf_parity).collect()}
    n = card["n_docs"]
    assert n > 0 and card["total_ws_tokens"] > n
    assert card["mean_tokens_milli"] == card["total_ws_tokens"] * 1000 // n
    assert 0 < card["distinct_text_ppm"] <= 1000000
    assert 0 <= card["len50_keep_ppm"] <= 1000000
    lang_ppm = {k: v for k, v in card.items()
                if k.startswith("lang_") and k.endswith("_ppm")}
    assert len(lang_ppm) == 5
    # per-lang shares sum to ~1e6 (floor-division slack < n_langs)
    assert 1000000 - len(lang_ppm) < sum(lang_ppm.values()) <= 1000000
