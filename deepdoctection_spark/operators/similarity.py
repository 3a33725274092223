"""Similarity search over an embedding column (array<float>).

Two tiers, as a 100 TB training-data pipeline needs them:
- brute-force cosine top-k: the exactness baseline. Queries are broadcast
  (small side), the corpus side streams — one narrow pass + a per-query
  top-k window. All arithmetic is JVM-side (`zip_with`/`aggregate` over
  double arrays inside whole-stage codegen) — no Python.
- LSH-bucketed ANN: deterministic random-hyperplane signatures; candidate
  pairs share a bucket, verified by exact cosine. The hyperplanes are seeded
  numpy constants embedded as literals so any SQL engine reproduces the
  bucketing bit-for-bit.

At 10^9 vectors the brute-force path shards the corpus by partition and the
broadcast query block stays < a few MB; the ANN path replaces the cross
product with a bucket equi-join (the same shape as MinHash-LSH in dedup.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ANN_PLANES_SEED = 7
ANN_NUM_PLANES = 8
EMBED_DIM = 64


def hyperplanes(num_planes: int = ANN_NUM_PLANES, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic hyperplane matrix (num_planes × dim), values in [-1, 1)
    rounded to 6 decimals so SQL literal embedding is exact."""
    rng = np.random.RandomState(ANN_PLANES_SEED)
    return np.round(rng.uniform(-1.0, 1.0, size=(num_planes, dim)), 6)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    round_to: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first n_queries vectors.

    Broadcast the (tiny) query block against the full corpus; rank per query
    with a window. Ties broken by vec_id for determinism.
    """
    from pyspark.sql.window import Window

    base = embeddings.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qemb"), F.col("emb")), round_to).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def mine_hard_negatives(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    dup_cosine: float = 0.98,
    round_to: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per query,
    the top-k most-similar corpus vectors BELOW the duplicate band (rounded
    cosine < ``dup_cosine``). Duplicates and near-copies are the worst
    possible negatives — they are unlabeled positives that poison the
    contrastive loss — so the miner excludes the duplicate band and returns
    the informative just-below-duplicate neighbors.

    Same plan shape as :func:`knn_bruteforce` (broadcast query block against
    the streaming corpus, one window); the duplicate filter is a column
    predicate applied BEFORE ranking — no extra shuffle, and the window
    ranks only non-duplicate rows. At 10^9 vectors the corpus side streams;
    swap the scorer for the IVF probe path unchanged."""
    from pyspark.sql.window import Window

    base = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qemb"), F.col("emb")), round_to).alias(
                "cosine_sim"
            ),
        )
        .where(F.col("cosine_sim") < dup_cosine)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _plane_literal(plane: np.ndarray) -> Column:
    return F.array(*[F.lit(float(v)).cast("double") for v in plane])


def ann_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, bucket): sign-of-dot-product signature over the deterministic
    hyperplanes, packed little-endian into an int."""
    planes = hyperplanes()
    emb = as_double(F.col("embedding"))
    bucket = None
    for p, plane in enumerate(planes):
        bit = F.when(_dot(emb, _plane_literal(plane)) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return embeddings.select("vec_id", bucket.cast("int").alias("bucket"))


def ann_lsh_pairs(embeddings: DataFrame, min_cosine: float = 0.9, round_to: int = 5) -> DataFrame:
    """Near-neighbor pairs: same LSH bucket, verified cosine ≥ min_cosine."""
    buckets = ann_buckets(embeddings)
    base = embeddings.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    withb = base.join(buckets, "vec_id")
    a = withb.alias("a")
    b = withb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.emb"), F.col("b.emb")), round_to).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= min_cosine)
    )


# ---------------------------------------------------------------------------
# IVF: inverted-file ANN with a deterministic sampled coarse quantizer
# ---------------------------------------------------------------------------

IVF_K = 8
IVF_PROBES = 2


def _l2sq(a: Column, b: Column, round_to: int = 6) -> Column:
    """Squared L2 via dot products (identical evaluation order in the SQL
    oracle: dot(a,a) - 2*dot(a,b) + dot(b,b)); rounded before ranking so
    near-ties order identically in both engines."""
    return F.round(_dot(a, a) - 2 * _dot(a, b) + _dot(b, b), round_to)


def ivf_centroids(embeddings: DataFrame, k: int = IVF_K) -> DataFrame:
    """Coarse quantizer SEED: the first k vectors (deterministic sampling).
    ivf_kmeans_step below runs actual Lloyd iterations on top of this seed
    with DECIMAL-accumulated (order-independent) means, so the trained path
    is available without losing cross-engine reproducibility."""
    return embeddings.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"),
        as_double(F.col("embedding")).alias("cemb"),
    )


def ivf_centroids_pp(
    embeddings: DataFrame,
    k: int = IVF_K,
    rounds: int = 3,
    oversample: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """k-means|| initialization (Bahmani et al., VLDB'12 — the distributed
    kmeans++): instead of k sequential corpus passes (kmeans++ proper,
    unusable at 10^9 vectors), run ``rounds`` passes that each sample
    points with probability ``min(1, l·d²(x,C)/Σd²)`` where l =
    ``oversample`` (default 2k), then weight the O(rounds·l) candidates by
    their Voronoi-cell population and reduce them to k centroids with a
    DRIVER-side weighted kmeans++ + Lloyd (the candidate set is
    model-sized, like MLlib's KMeans init).

    Deterministic end-to-end: the per-point coin flips hash
    ``xxhash64(vec_id, round, seed)`` into [0,1) instead of consuming an
    RNG — re-runs, task retries and different partitionings sample
    identically — and the driver-side reduction seeds numpy from ``seed``.

    Each round is one broadcast-join min-distance pass + one scalar agg —
    no shuffle wider than the corpus scan. Honest measurement note: on the
    synthetic benchmark corpus (uniform unit vectors, no cluster
    structure) this init matches but does not beat the first-k seed; its
    value shows on clustered real embeddings, while recall per scanned
    byte on unstructured data is bought by finer quantization and
    ``repl`` multi-assignment (BENCH.md §IVF)."""
    spark = embeddings.sparkSession
    base = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("emb"))
    lfac = oversample or 2 * k
    first = base.orderBy("vec_id").limit(1).collect()[0]
    cand: dict[int, list[float]] = {
        int(first["vec_id"]): [float(v) for v in first["emb"]]}
    for r in range(rounds):
        cdf = spark.createDataFrame(
            [(i, e) for i, e in sorted(cand.items())],
            "cid bigint, cemb array<double>")
        d2 = (
            base.crossJoin(F.broadcast(cdf))
            .groupBy("vec_id")
            .agg(F.min(_l2sq(F.col("emb"), F.col("cemb"))).alias("d2"),
                 F.first("emb").alias("emb"))
        )
        total = d2.agg(F.sum("d2")).first()[0] or 0.0
        if total <= 0:
            break  # every point already coincides with a candidate
        # deterministic coin flip: hash -> uniform [0,1)
        u = (F.pmod(F.xxhash64("vec_id", F.lit(r), F.lit(seed)),
                    F.lit(1_000_000_007)) / F.lit(1_000_000_007.0))
        picked = d2.where(
            u < F.least(F.lit(1.0),
                        F.lit(float(lfac)) * F.col("d2") / F.lit(float(total)))
        ).select("vec_id", "emb").collect()
        for row in picked:
            cand[int(row["vec_id"])] = [float(v) for v in row["emb"]]
    # weight candidates by Voronoi-cell population (one assign pass)
    cdf = spark.createDataFrame(
        [(i, e) for i, e in sorted(cand.items())],
        "cluster bigint, cemb array<double>")
    weights = {
        int(r["cluster"]): int(r["n"])
        for r in ivf_assign(embeddings, centroids=cdf)
        .groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    ids = sorted(cand)
    pts = np.asarray([cand[i] for i in ids], dtype=np.float64)
    w = np.asarray([weights.get(i, 0) for i in ids], dtype=np.float64)
    w = np.maximum(w, 1e-12)
    rng = np.random.default_rng(seed)
    # weighted kmeans++ over the model-sized candidate set
    chosen = [int(rng.choice(len(pts), p=w / w.sum()))]
    while len(chosen) < min(k, len(pts)):
        dmin = np.min(
            ((pts[:, None, :] - pts[chosen][None, :, :]) ** 2).sum(-1), axis=1)
        p = w * dmin
        if p.sum() <= 0:
            break
        chosen.append(int(rng.choice(len(pts), p=p / p.sum())))
    cents = pts[chosen]
    for _ in range(100):  # weighted Lloyd on the candidate set
        a = (((pts[:, None, :] - cents[None, :, :]) ** 2).sum(-1)).argmin(1)
        new = np.stack([
            np.average(pts[a == c], axis=0, weights=w[a == c])
            if (a == c).any() else cents[c]
            for c in range(len(cents))
        ])
        if np.abs(new - cents).max() < 1e-12:
            break
        cents = new
    return spark.createDataFrame(
        [(c, [float(v) for v in cents[c]]) for c in range(len(cents))],
        "cluster int, cemb array<double>")


def ivf_assign(
    embeddings: DataFrame, k: int = IVF_K, centroids: DataFrame | None = None,
    repl: int = 1
) -> DataFrame:
    """(vec_id, cluster, dist2): nearest coarse centroid(s) per vector.

    The centroid table is k rows → broadcast; assignment is one narrow pass
    over the corpus + a per-vector argmin window (tie-break cluster id).
    ``centroids`` (cluster, cemb) overrides the sampled seed — pass the
    output of train_ivf_centroids for the trained quantizer.

    ``repl > 1`` indexes every vector under its ``repl`` nearest centroids
    (FAISS multi-assignment / ScaNN spilling): the inverted lists overlap,
    so a fixed probe count sees boundary-straddling neighbors it would
    otherwise miss — measured on the synthetic corpus this buys more
    recall per scanned byte than ANY quantizer-training change (see
    BENCH.md §IVF). Index size grows ×repl; the at-scale trade is repl=2
    with half the probes (same scan fraction, higher recall)."""
    from pyspark.sql.window import Window

    base = embeddings.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    cents = centroids if centroids is not None else ivf_centroids(embeddings, k)
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cluster", _l2sq(F.col("emb"), F.col("cemb")).alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist2"), F.col("cluster"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= repl)
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"), "dist2")
    )


def _recompute_centroids(embeddings: DataFrame, assign: DataFrame) -> DataFrame:
    """(cluster, cemb): element-wise member mean with DECIMAL(30,10)
    accumulation (order-independent sum → bit-reproducible across engines,
    same policy as ivf_kmeans_step) reassembled into an array ordered by
    dimension."""
    dims = embeddings.join(assign, "vec_id").select(
        "cluster",
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "val"),
    )
    per_dim = dims.groupBy("cluster", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
            / F.count("*")
        ).alias("cv")
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("cemb")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    k: int = IVF_K,
    rounds: int | None = None,
    max_rounds: int = 50,
    tol: float = 0.0,
    stats: dict | None = None,
    init: str = "first",
    seed: int = 1,
) -> DataFrame:
    """Lloyd-trained coarse quantizer (the reference's trained-predictor slot,
    /root/reference/deepdoctection/extern/base.py:118-439: a model artifact
    produced by training, then served).

    Driver-side control loop over fully distributed rounds (assign =
    broadcast-join argmin; recompute = map-side-combinable hash agg). Between
    rounds only the MODEL (k × dim doubles ≈ KBs) is collected — the same
    driver-resident-parameters pattern as Spark MLlib KMeans — so lineage
    stays flat without checkpoints and the next round's centroids re-enter
    the plan as a literal broadcast table.

    rounds=N runs exactly N Lloyd iterations (cross-engine-reproducible: the
    oracle chains the same CTE N times). rounds=None iterates until the max
    centroid shift ≤ tol, up to max_rounds. ``stats`` (optional dict) is
    filled with {'rounds', 'converged', 'max_shift'}.

    ``init="pp"`` seeds with :func:`ivf_centroids_pp` (k-means||) instead
    of the first-k sample; ``seed`` feeds its deterministic sampler.
    """
    spark = embeddings.sparkSession
    cents = (ivf_centroids_pp(embeddings, k, seed=seed)
             if init == "pp" else ivf_centroids(embeddings, k))
    n_rounds = 0
    converged = False
    shift = float("inf")
    prev: dict[int, np.ndarray] | None = None
    limit = rounds if rounds is not None else max_rounds
    while n_rounds < limit:
        assign = ivf_assign(embeddings, k, centroids=cents)
        new = _recompute_centroids(embeddings, assign)
        rows = new.collect()  # model-sized: k × dim doubles
        cur = {r["cluster"]: np.asarray(r["cemb"], dtype=np.float64) for r in rows}
        cents = spark.createDataFrame(
            [(int(c), [float(v) for v in emb]) for c, emb in sorted(cur.items())],
            "cluster int, cemb array<double>",
        )
        n_rounds += 1
        if prev is not None and set(prev) == set(cur):
            shift = max(
                float(np.abs(prev[c] - cur[c]).max()) for c in cur
            ) if cur else 0.0
            if rounds is None and shift <= tol:
                converged = True
                break
        prev = cur
    if stats is not None:
        stats.update(rounds=n_rounds, converged=converged or rounds is not None,
                     max_shift=None if shift == float("inf") else shift)
    return cents


def ivf_search(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    probes: int = IVF_PROBES,
    n_clusters: int = IVF_K,
    round_to: int = 5,
    centroids: DataFrame | None = None,
    repl: int = 1,
) -> DataFrame:
    """ANN top-k: probe the `probes` nearest inverted lists per query, exact
    cosine only within them. At 10^9 vectors this replaces the full cross
    product with (corpus/n_clusters)·probes candidates per query. The probe
    pruning here is logical (a filter after the scan); for the PHYSICAL
    version — only probed partitions' files ever opened — build the index
    with :func:`ivf_build_index` and search with :func:`ivf_search_pruned`.

    ``centroids`` plugs in the TRAINED quantizer (train_ivf_centroids);
    default is the sampled seed. ``repl`` = overlapped inverted lists
    (see :func:`ivf_assign`): candidates reached through two probed lists
    dedup before scoring, so results stay exact-within-candidates."""
    from pyspark.sql.window import Window

    base = embeddings.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    cents = (
        centroids if centroids is not None else ivf_centroids(embeddings, n_clusters)
    )
    assign = ivf_assign(embeddings, n_clusters, centroids=cents, repl=repl)

    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("qdist2"), F.col("cluster"))
    probed = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qemb", "cluster",
            _l2sq(F.col("qemb"), F.col("cemb")).alias("qdist2"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= probes)
        .select("query_id", "qemb", "cluster")
    )
    cand = probed.join(assign, "cluster").where(
        F.col("vec_id") != F.col("query_id")
    )
    if repl > 1:
        # overlapped lists can reach the same (query, vec) through two
        # probed clusters; each pair scores once
        cand = cand.select("query_id", "qemb", "vec_id").dropDuplicates(
            ["query_id", "vec_id"])
    scored = cand.join(base, "vec_id").select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qemb"), F.col("emb")), round_to).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
        )
    )


def ivf_kmeans_step(embeddings: DataFrame, k: int = IVF_K) -> DataFrame:
    """One Lloyd iteration of the coarse quantizer: assign every vector to
    its nearest seed centroid (ivf_assign), then recompute each centroid as
    the element-wise mean of its members — (cluster, dim, centroid_val) rows.

    This is the TRAINED-quantizer upgrade over the sampled seed
    (ivf_centroids): the docstring there notes plain k-means drifts across
    engines on float summation order, so the mean uses DECIMAL(30,10)
    accumulation (order-independent exact sum, same policy as
    rel_pricing_summary) divided as a double — bit-reproducible in any SQL
    engine. Output is flattened per dimension (posexplode) so the oracle
    compares scalars, and downstream re-assembly is one
    collect_list(sorted by dim).

    Scale shape: one broadcast-assign pass + one (cluster, dim) hash
    aggregation over |corpus| × dim rows — both map-side combinable; more
    Lloyd rounds repeat the same two steps with the new centroids.
    """
    assign = ivf_assign(embeddings, k)
    dims = (
        embeddings.join(assign, "vec_id")
        .select("cluster", F.posexplode(as_double(F.col("embedding"))).alias("dim", "val"))
    )
    return dims.groupBy(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dim").cast("int").alias("dim"),
    ).agg(
        (
            F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
            / F.count("*")
        ).alias("centroid_val"),
        F.count("*").cast("long").alias("n_members"),
    )


def ivf_build_index(
    embeddings: DataFrame,
    table_path: str,
    n_clusters: int = IVF_K,
    centroids: DataFrame | None = None,
    repl: int = 1,
):
    """Materialize the IVF index PHYSICALLY: assign every corpus vector to
    its nearest coarse centroid and write (vec_id, cluster, embedding) as an
    IceTable identity-partitioned by ``cluster`` (Hive-layout files, one
    partition per inverted list; the manifest records each file's cluster).

    This closes the logical/physical gap noted in :func:`ivf_search`'s
    docstring: with the corpus partitioned by cluster on write, probe
    pruning stops being a post-scan filter and becomes file planning —
    :func:`ivf_search_pruned` opens ONLY the probed partitions' files. At
    10^9 vectors × 4096 lists × 8 probes that is the difference between
    reading the whole corpus and reading ~0.2% of it, before Spark ever
    schedules a task (reference analogue: the served-model predictor slot,
    /root/reference/deepdoctection/extern/base.py:118-439 — train once,
    serve the artifact; here the artifact is the partitioned table +
    centroid model).

    Returns the committed :class:`IceTable`. One broadcast-assign pass +
    one hash partition write; the cluster column is INT so partition-dir
    values round-trip exactly.
    """
    from deepdoctection_spark.sources.icetable import IceTable

    cents = (
        centroids if centroids is not None else ivf_centroids(embeddings, n_clusters)
    )
    assign = ivf_assign(embeddings, n_clusters, centroids=cents, repl=repl)
    corpus = embeddings.join(assign, "vec_id").select(
        "vec_id", "cluster", "embedding"
    )
    table = IceTable(table_path)
    table.append(corpus, partition_by="cluster")
    return table


def ivf_search_pruned(
    table,
    queries: DataFrame,
    k: int = 5,
    probes: int = IVF_PROBES,
    centroids: DataFrame | None = None,
    round_to: int = 5,
    stats: dict | None = None,
) -> DataFrame:
    """ANN top-k over a :func:`ivf_build_index` table with PHYSICAL probe
    pruning: the probed (query, cluster) pairs are model-sized (n_queries ×
    probes ints, collected like MLlib model parameters), their cluster set
    becomes an IceTable ``("cluster", "in", …)`` scan predicate, and
    ``plan_files`` drops every non-probed partition's files from the scan
    before Spark opens anything — manifest-level pruning, not a filter.

    ``queries`` = (query_id, qemb array<double>); ``centroids`` = the
    trained/seed quantizer (cluster, cemb) — REQUIRED, the index was built
    against it. ``stats`` (optional dict) receives the plan detail
    {'probed_clusters', 'scanned_files', 'pruned_files'} so callers can
    assert the pruning actually happened. Results are EXACTLY those of
    :func:`ivf_search` with the same centroids: candidates are the probed
    clusters' members either way; only the I/O differs.
    """
    from pyspark.sql.window import Window

    if centroids is None:
        raise ValueError("ivf_search_pruned requires the index's centroids")
    spark = queries.sparkSession
    wq = Window.partitionBy("query_id").orderBy(F.col("qdist2"), F.col("cluster"))
    probed = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "cluster",
            _l2sq(F.col("qemb"), F.col("cemb")).alias("qdist2"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= probes)
        .select("query_id", "cluster")
    )
    pairs = [(int(r["query_id"]), int(r["cluster"])) for r in probed.collect()]
    clusters = sorted({c for _, c in pairs})

    plan = table.plan(("cluster", "in", clusters))
    if stats is not None:
        stats.update(
            probed_clusters=len(clusters),
            scanned_files=len(plan["files"]),
            pruned_files=plan["pruned_files"],
        )
    corpus = table.scan(spark, ("cluster", "in", clusters)).select(
        "vec_id", "cluster", as_double(F.col("embedding")).alias("emb")
    )
    probed_df = spark.createDataFrame(pairs, "query_id bigint, cluster int")
    cand = corpus.join(F.broadcast(probed_df), "cluster").where(
        F.col("vec_id") != F.col("query_id")
    # a repl>1 index stores a vector in several probed partitions: each
    # (query, vec) pair scores once (harmless no-op on a repl=1 index)
    ).select("query_id", "vec_id", "emb").dropDuplicates(
        ["query_id", "vec_id"])
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qemb"), F.col("emb")), round_to).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
        )
    )


# production SemDeDup uses ~0.95+ on real embeddings; the synthetic fixture's
# within-cluster cosines top out at ~0.49, so the default exercises the
# positive path (is_dup=true rows) while keeping the same plan shape
SEMDEDUP_TAU = 0.4


def semdedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_TAU,
    k: int = IVF_K,
    round_to: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings with the IVF coarse quantizer, compare pairs ONLY
    within a cluster, and mark every vector that has a LOWER-id in-cluster
    neighbor with cosine ≥ threshold as a semantic duplicate (keep-first —
    the deterministic stand-in for the paper's keep-lowest-quality rule).

    Scale shape (the published recipe's point): one broadcast centroid
    assign pass, ONE shuffle keyed on cluster id, and a quadratic verify
    bounded per cluster (k is sized so clusters stay small — at 100 TB you
    raise k with corpus size to hold the per-cluster pair budget constant).
    No all-pairs path; all cosine arithmetic JVM-side (zip_with/aggregate).

    Output: (vec_id, cluster, is_dup, n_dups, max_cos).
    """
    assign = ivf_assign(embeddings, k)
    base = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    j = assign.join(base, "vec_id").select("vec_id", "cluster", "emb")
    x, y = j.alias("x"), j.alias("y")
    dups = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") > F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.round(cosine(F.col("x.emb"), F.col("y.emb")), round_to).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dups"),
            F.max("cos").alias("max_cos"),
        )
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("n_dups").isNotNull().alias("is_dup"),
        F.coalesce("n_dups", F.lit(0)).cast("int").alias("n_dups"),
        "max_cos",
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ, Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search")
# ---------------------------------------------------------------------------

PQ_M = 8         # subspaces (64-dim embedding -> 8 sub-vectors of 8 dims)
PQ_KS = 16       # codebook entries per subspace
PQ_SUBDIM = EMBED_DIM // PQ_M


def _sub_l2sq_micro(a: Column, b: Column) -> Column:
    """Sub-vector squared L2 in integer MICRO-UNITS: computed with the same
    dot-product expansion + evaluation order as :func:`_l2sq`, then
    quantized to a BIGINT before any summation — ADC accumulates exact
    integers, so cross-engine ranking agrees bit-for-bit."""
    d2 = _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)
    return F.floor(d2 * 1000000 + F.lit(0.5)).cast("long")


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """Per-subspace codebooks seeded from the first `ks` vectors'
    sub-vectors (the same deterministic-sampling contract as
    :func:`ivf_centroids`). Output: (m, code, cemb) — a model-sized table
    (m*ks rows) that broadcasts everywhere it is used."""
    d = EMBED_DIM // m
    emb = as_double(F.col("embedding"))
    subs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("m"),
                F.slice(emb, j * d + 1, d).alias("cemb"),
            )
            for j in range(m)
        ]
    )
    return (
        embeddings.where(F.col("vec_id") < ks)
        .select(F.col("vec_id").cast("int").alias("code"), F.explode(subs).alias("s"))
        .select(F.col("s.m").alias("m"), "code", F.col("s.cemb").alias("cemb"))
    )


def _sub_vectors(embeddings: DataFrame, m: int) -> DataFrame:
    d = EMBED_DIM // m
    emb = as_double(F.col("embedding"))
    subs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("m"),
                F.slice(emb, j * d + 1, d).alias("semb"),
            )
            for j in range(m)
        ]
    )
    return embeddings.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.semb").alias("semb")
    )


def pq_encode(embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """PQ encode: each vector becomes `m` one-byte-ish codes — the argmin
    codebook entry per subspace (ties break on the lower code id).

    Scale shape: the codebook (m*ks rows) is broadcast into the sub-vector
    stream (N*m rows, all JVM-side slice/explode — no Python), the argmin
    is a per-(vec_id, m) window over ks candidates, and the code array
    folds back with one collect_list keyed on vec_id. The 100 TB point of
    PQ: downstream search touches the 8-byte code row, never the 256-byte
    raw vector.

    Output: (vec_id, codes array<int> ordered by subspace, err_micro = the
    summed squared quantization error in integer micro-units).
    """
    from pyspark.sql import Window

    cb = pq_codebooks(embeddings, m, ks)
    subs = _sub_vectors(embeddings, m)
    scored = subs.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "code",
        _sub_l2sq_micro(F.col("semb"), F.col("cemb")).alias("d2_micro"),
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2_micro", "code")
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("m"), F.col("code")))
                ),
                lambda s: s["code"],
            ).alias("codes"),
            F.sum("d2_micro").cast("long").alias("err_micro"),
        )
    )


def pq_search_adc(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a lookup
    table of sub-distances to every codebook entry (m*ks entries — tiny),
    then each database vector's approximate distance is the SUM of `m`
    table lookups selected by its codes.

    Scale shape: the LUT is queries × m × ks rows (model-sized, broadcast);
    the code table joins it on (m, code) — a broadcast equi-join over the
    exploded code stream, one groupBy(query_id, vec_id) integer sum, one
    per-query top-k window. The raw embedding column is read ONLY for the
    n_queries rows; the corpus side travels as codes. Exact-integer
    micro-unit accumulation keeps the rank order engine-independent.

    Output: (query_id, vec_id, adc_micro, rank).
    """
    from pyspark.sql import Window

    codes = pq_encode(embeddings, m, ks).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    ).select("vec_id", F.col("m").cast("int").alias("m"), "code")
    cb = pq_codebooks(embeddings, m, ks)
    qsubs = _sub_vectors(embeddings.where(F.col("vec_id") < n_queries), m).select(
        F.col("vec_id").alias("query_id"), "m", F.col("semb").alias("qsemb")
    )
    lut = qsubs.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        _sub_l2sq_micro(F.col("qsemb"), F.col("cemb")).alias("d2_micro"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2_micro").cast("long").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_micro", "rank")
    )


def _nonzero(amax):
    """The absmax scale divisor: an all-zero vector divides its zeros by 1,
    so its codes are 0 instead of 0/0 (DuckDB NULL, Spark ANSI error)."""
    return F.when(amax > 0, amax).otherwise(F.lit(1.0))


def quantize_int8(embs: DataFrame) -> DataFrame:
    """Per-vector absmax int8 quantization — the storage format a 10^12-row
    vector corpus actually ships (4× smaller than float32, and the ADC/IVF
    search paths consume the codes directly): code_i = round(x_i·127/amax),
    one scale per vector.

    Determinism contract (the repo's cross-engine discipline): floats widen
    to double ONCE, the rounding is floor(v+0.5) (identical half-handling
    both engines, unlike round()'s engine-specific ties), the scale
    travels as an exact micro-unit integer, and the reconstruction error
    audit is a pure-integer fold — recon_q6 = floor(code·amax_q6/127.0)
    (float floor → floor-toward−∞ on BOTH engines; BIGINT DIV would
    diverge on negatives: Spark truncates, DuckDB floors) and
    err_abs_q6 = Σ|floor(x·10⁶) − recon_q6| over index-addressed lists,
    order-free. Entirely JVM higher-order expressions: a narrow map, zero
    Python, zero shuffle.

    An all-zero vector (amax = 0) gets zero codes and amax_q6 = 0.

    Returns (vec_id, n_dims, amax_q6, max_abs_code, sum_codes, codes_md5,
    err_abs_q6)."""
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(xd, F.abs))
    amax_q6 = F.floor(amax * 1e6).cast("long")
    codes = F.transform(
        xd, lambda v: F.floor(v * 127.0 / _nonzero(amax) + 0.5).cast("int"))
    base = embs.select(
        "vec_id", xd.alias("xd"), amax_q6.alias("amax_q6"),
        codes.alias("codes"))
    recon_q6 = F.transform(
        F.col("codes"),
        lambda c: F.floor(c.cast("double") * F.col("amax_q6") / 127.0)
        .cast("long"))
    x_q6 = F.transform(F.col("xd"),
                       lambda v: F.floor(v * 1e6).cast("long"))
    err = F.aggregate(
        F.zip_with(x_q6, recon_q6, lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"), lambda acc, e: acc + e)
    return base.select(
        "vec_id",
        F.size("codes").cast("int").alias("n_dims"),
        "amax_q6",
        F.array_max(F.transform(F.col("codes"), F.abs)).cast("int")
        .alias("max_abs_code"),
        F.aggregate(F.col("codes"), F.lit(0).cast("long"),
                    lambda a, c: a + c).alias("sum_codes"),
        F.md5(F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ",")
            .cast("binary")).alias("codes_md5"),
        err.alias("err_abs_q6"),
    )


def knn_int8(embeddings: DataFrame, n_queries: int = 20,
             k: int = 5) -> DataFrame:
    """Exact-arithmetic kNN over the int8-QUANTIZED corpus — the search
    path ``quantize_int8``'s codes exist to serve: the corpus side streams
    as 64 signed bytes per vector (4× less scan I/O than float32), the
    float query block broadcasts as exact milli-unit integers, and the
    score is the cosine of the quantized vector — scale-invariant, so the
    per-vector amax cancels and never enters the ranking.

    Cross-engine determinism: numerator Σq·c and both norm sums are exact
    BIGINTs; the single float step (num / sqrt(nq·nc) · 10⁸, floored) is
    one exactly-rounded sqrt + one divide on exact integers — bit-identical
    in Spark and DuckDB. Same plan shape as knn_bruteforce (broadcast
    queries × streaming corpus + one per-query rank window).

    An all-zero query or corpus vector scores cos_q8 = 0.

    Output: (query_id, vec_id, cos_q8, rank)."""
    from pyspark.sql.window import Window

    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(xd, F.abs))
    corpus = embeddings.select(
        "vec_id",
        F.transform(xd, lambda v: F.floor(v * 127.0 / _nonzero(amax) + 0.5)
                    .cast("long")).alias("codes"),
    )
    queries = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.transform(xd, lambda v: F.floor(v * 1000.0 + 0.5).cast("long"))
        .alias("qq"),
    )
    sums = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda v: v * v),
        F.lit(0).cast("long"), lambda a, x: a + x)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            F.aggregate(
                F.zip_with(F.col("qq"), F.col("codes"),
                           lambda a, b: a * b),
                F.lit(0).cast("long"), lambda a, x: a + x).alias("num"),
            sums(F.col("qq")).alias("nq"),
            sums(F.col("codes")).alias("nc"),
        )
        .select(
            "query_id", "vec_id",
            F.when(F.col("nq") * F.col("nc") == 0, F.lit(0)).otherwise(
                F.floor(F.col("num") / F.sqrt((F.col("nq") * F.col("nc"))
                                              .cast("double")) * 1e8 + 0.5))
            .cast("long").alias("cos_q8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q8").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_q8",
                F.col("rank").cast("int").alias("rank"))
    )
