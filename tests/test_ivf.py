"""Trained IVF quantizer: Lloyd-loop convergence + trained-search wiring
(end-to-end is the ann_ivf_search_trained row of the parity gate)."""

from __future__ import annotations

import numpy as np
import pytest

from deepdoctection_spark.operators import similarity


@pytest.fixture(scope="module")
def embs(spark):
    # two well-separated blobs around ±1 on alternating dims → k=2 k-means
    # has an obvious fixpoint
    rng = np.random.default_rng(3)
    rows = []
    for vid in range(40):
        center = 1.0 if vid % 2 == 0 else -1.0
        v = center + rng.normal(0, 0.05, 8)
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lloyd_converges_and_assignments_stable(embs):
    stats: dict = {}
    cents = similarity.train_ivf_centroids(
        embs, k=2, rounds=None, max_rounds=20, stats=stats
    )
    assert stats["converged"] and stats["rounds"] <= 20
    assert stats["max_shift"] == 0.0
    # fixpoint: one more assign+recompute round leaves centroids unchanged
    assign = similarity.ivf_assign(embs, k=2, centroids=cents)
    again = similarity._recompute_centroids(embs, assign)
    a = {r["cluster"]: r["cemb"] for r in cents.collect()}
    b = {r["cluster"]: r["cemb"] for r in again.collect()}
    assert a.keys() == b.keys()
    for c in a:
        np.testing.assert_array_equal(a[c], b[c])


def test_trained_centroids_are_blob_means(embs):
    cents = similarity.train_ivf_centroids(embs, k=2, rounds=None, max_rounds=20)
    rows = {r["cluster"]: np.array(r["cemb"]) for r in cents.collect()}
    assert len(rows) == 2
    signs = sorted(np.sign(v).sum() for v in rows.values())
    assert signs == [-8, 8]  # one centroid per blob, all dims same sign


def test_fixed_rounds_runs_exactly_n(embs):
    stats: dict = {}
    similarity.train_ivf_centroids(embs, k=2, rounds=3, stats=stats)
    assert stats["rounds"] == 3


def test_trained_search_shape(embs):
    cents = similarity.train_ivf_centroids(embs, k=2, rounds=2)
    out = similarity.ivf_search(
        embs, n_queries=4, k=3, n_clusters=2, probes=1, centroids=cents
    ).collect()
    assert len(out) == 12  # 4 queries × top-3
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]
        # with probes=1 on separated blobs, neighbors share the query's parity
        for r in rs:
            assert r["vec_id"] % 2 == q % 2


def test_physical_pruning_matches_logical_search(embs, tmp_path):
    """ivf_search_pruned over a cluster-partitioned IceTable returns exactly
    ivf_search's rows with the same centroids, and the plan proves files
    were pruned (the similarity.py:270 claim, demonstrated)."""
    cents = similarity.train_ivf_centroids(embs, k=4, rounds=2)
    table = similarity.ivf_build_index(
        embs, str(tmp_path / "ivf"), n_clusters=4, centroids=cents)
    spark = embs.sparkSession
    from pyspark.sql import functions as F

    queries = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        similarity.as_double(F.col("embedding")).alias("qemb"),
    )
    stats: dict = {}
    pruned = similarity.ivf_search_pruned(
        table, queries, k=3, probes=1, centroids=cents, stats=stats)
    logical = similarity.ivf_search(
        embs, n_queries=3, k=3, probes=1, n_clusters=4, centroids=cents)
    assert stats["pruned_files"] > 0 and stats["probed_clusters"] < 4
    a = sorted(map(tuple, pruned.collect()))
    b = sorted(map(tuple, logical.collect()))
    assert a == b


def test_pruned_search_requires_centroids(embs, tmp_path):
    with pytest.raises(ValueError):
        similarity.ivf_search_pruned(None, embs, centroids=None)


def test_repl_assign_indexes_each_vector_r_times(embs):
    a1 = similarity.ivf_assign(embs, k=4, repl=1)
    a2 = similarity.ivf_assign(embs, k=4, repl=2)
    assert a1.count() == 40
    assert a2.count() == 80
    per_vec = {r["vec_id"]: r["n"] for r in a2.groupBy("vec_id").count()
               .withColumnRenamed("count", "n").collect()}
    assert all(n == 2 for n in per_vec.values())
    # the primary assignment is a subset of the repl=2 assignment
    s1 = {(r["vec_id"], r["cluster"]) for r in a1.collect()}
    s2 = {(r["vec_id"], r["cluster"]) for r in a2.collect()}
    assert s1 <= s2


def test_repl_search_dedups_and_never_loses_recall(embs):
    base = similarity.ivf_search(embs, n_queries=8, k=3, probes=2,
                                 n_clusters=4)
    repl = similarity.ivf_search(embs, n_queries=8, k=3, probes=2,
                                 n_clusters=4, repl=2)
    # no duplicate (query, vec) pairs after overlapped-list dedup
    assert repl.groupBy("query_id", "vec_id").count().where(
        "count > 1").count() == 0
    # overlapped lists only widen the candidate set: per-query top-k
    # cosine of repl >= baseline's (same scoring, superset candidates)
    def best(df):
        return {r["query_id"]: r["cosine_sim"] for r in df.where("rank = 1")
                .collect()}
    b, r = best(base), best(repl)
    assert all(r[q] >= b[q] for q in b)


def test_kmeanspp_init_is_deterministic_and_k_sized(embs):
    c1 = similarity.ivf_centroids_pp(embs, k=4, seed=7)
    c2 = similarity.ivf_centroids_pp(embs, k=4, seed=7)
    r1 = sorted((r["cluster"], tuple(r["cemb"])) for r in c1.collect())
    r2 = sorted((r["cluster"], tuple(r["cemb"])) for r in c2.collect())
    assert r1 == r2  # hash-seeded sampling: bit-identical re-runs
    assert len(r1) == 4
    # on the two-blob fixture the k=2 kmeans|| centroids must land one per
    # blob (any init that misses a blob would leave a centroid near 0)
    c = similarity.ivf_centroids_pp(embs, k=2, seed=7)
    means = sorted(float(np.mean(r["cemb"])) for r in c.collect())
    assert means[0] < -0.8 and means[1] > 0.8


def test_train_with_pp_init_converges(embs):
    stats: dict = {}
    cents = similarity.train_ivf_centroids(
        embs, k=2, rounds=None, max_rounds=20, stats=stats, init="pp")
    assert stats["converged"]
    means = sorted(float(np.mean(r["cemb"])) for r in cents.collect())
    assert means[0] < -0.8 and means[1] > 0.8


def test_physical_repl_index_matches_logical_repl_search(embs, tmp_path):
    from pyspark.sql import functions as F

    cents = similarity.ivf_centroids(embs, k=4)
    table = similarity.ivf_build_index(
        embs, str(tmp_path / "ivf_repl"), n_clusters=4, centroids=cents,
        repl=2)
    queries = embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        similarity.as_double(F.col("embedding")).alias("qemb"))
    stats: dict = {}
    phys = similarity.ivf_search_pruned(
        table, queries, k=3, probes=2, centroids=cents, stats=stats)
    logical = similarity.ivf_search(
        embs, n_queries=4, k=3, probes=2, n_clusters=4, centroids=cents,
        repl=2)
    assert sorted(map(tuple, phys.collect())) == sorted(
        map(tuple, logical.collect()))


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_int8_codes_and_error_bound(spark, sf_parity):
    import numpy as np

    from deepdoctection_spark.operators.similarity import quantize_int8

    embs = spark.read.parquet(f"{sf_parity}/embeddings.parquet")
    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in embs.collect()}
    out = {r.vec_id: r for r in quantize_int8(embs).collect()}
    assert set(out) == set(raw)
    for vid, r in out.items():
        x = raw[vid]
        assert r.n_dims == len(x)
        # codes live in int8 range and the absmax element hits ±127
        assert r.max_abs_code == 127
        # serial replay of the exact contract
        amax = np.abs(x).max()
        codes = np.floor(x * 127.0 / amax + 0.5).astype(int)
        assert r.sum_codes == codes.sum()
        amax_q6 = int(np.floor(amax * 1e6))
        recon_q6 = np.floor(codes * amax_q6 / 127.0).astype(np.int64)
        err = int(np.abs(np.floor(x * 1e6).astype(np.int64) - recon_q6).sum())
        assert r.err_abs_q6 == err
        # error bound: per element |x - recon| <= amax/254 + quantization
        # slack of the q6 grids (2 units per element)
        assert err <= len(x) * (amax_q6 / 254 + 2)


def test_knn_int8_recall_vs_float_bruteforce(spark, sf_parity):
    from deepdoctection_spark.operators.similarity import (
        knn_bruteforce,
        knn_int8,
    )

    embs = spark.read.parquet(f"{sf_parity}/embeddings.parquet")
    exact = {}
    for r in knn_bruteforce(embs, n_queries=20, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    quant = {}
    for r in knn_int8(embs, n_queries=20, k=5).collect():
        quant.setdefault(r.query_id, set()).add(r.vec_id)
    assert set(quant) == set(exact)
    recalls = [len(exact[q] & quant[q]) / 5 for q in exact]
    mean_recall = sum(recalls) / len(recalls)
    # 8-bit absmax quantization of 64-dim vectors barely moves cosine
    # ranks: demand near-exact agreement on average
    assert mean_recall >= 0.9, (mean_recall, sorted(recalls))


def test_int8_all_zero_vectors_match_oracle(spark, sf_small, tmp_path):
    """An all-zero embedding quantizes to zero codes with amax_q6 = 0 and
    scores cos_q8 = 0 in kNN, identically on Spark and DuckDB."""
    from deepdoctection_spark.plans import training_ops  # noqa: F401
    from deepdoctection_spark.plans.registry import ORACLES, QUERIES
    from tests.harness import compare_query, sf_variant

    sf = sf_variant(
        sf_small, tmp_path / "sf", "embeddings",
        "SELECT vec_id, CASE WHEN vec_id IN (3, 100)"
        " THEN list_transform(embedding, v -> 0::FLOAT) ELSE embedding END"
        " AS embedding, label FROM src")
    for name in ("embed_quantize_int8", "knn_int8_search"):
        assert compare_query(spark, name, QUERIES[name], ORACLES[name],
                             sf) == []
    zero = QUERIES["embed_quantize_int8"](spark, sf).where(
        "vec_id IN (3, 100)").collect()
    assert len(zero) == 2
    for r in zero:
        assert (r.amax_q6, r.max_abs_code, r.sum_codes, r.err_abs_q6) == (
            0, 0, 0, 0)
    # query 3 is the zero vector: every neighbour ties at 0, ranked by id
    knn = sorted((r.rank, r.vec_id, r.cos_q8) for r in QUERIES[
        "knn_int8_search"](spark, sf).where("query_id = 3").collect())
    assert knn == [(1, 0, 0), (2, 1, 0), (3, 2, 0), (4, 4, 0), (5, 5, 0)]
