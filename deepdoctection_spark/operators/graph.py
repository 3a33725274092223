"""Join-based PageRank over a document link graph.

The graph-analytics counterpart of the near-dup cluster formation in
operators/dedupclusters.py (bounded min-label propagation): here the
iterative kernel is the power iteration r' = (1-d)/N + d·Σ_in r/outdeg,
expressed as DataFrame algebra — one equi-join (edge.src → rank) plus one
hash aggregation (group by dst) per iteration, the textbook
"PageRank on a relational engine" plan. At web scale the edge table is
partitioned by src so each iteration's join co-locates with the rank table's
partitioning; the per-iteration shuffle is the aggregation on dst only.

Determinism contract: ranks live as INTEGER nano-units (the initial mass is
SCALE = 1e9 split evenly, integer floor), per-edge contributions are integer
floor-divisions rank//outdeg, and the damping step is integer
(15·SCALE)//(100·N) + (85·Σ)//100 — no float anywhere, so Spark and the
unrolled-CTE DuckDB oracle agree bit-for-bit and the result is independent
of aggregation order. The floor-division mass leakage (< N·outdeg units per
iteration, i.e. < 1e-3 of total mass here) is part of the operator's defined
semantics, exactly like the integer micro-bit contracts in
corpusprep.bigram_perplexity.

The edge list is derived deterministically from the documents table (both
engines build the same graph): node doc_id links to (7·doc_id + k) mod N for
k = 1..(1 + doc_id mod 3) — out-degree 1-3, every node reachable (7 ⊥ N
shift makes the k=1 edges a bijection), no dangling nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000
PR_ITERS = 5
DAMP_NUM, DAMP_DEN = 85, 100


def _edges(docs: DataFrame) -> DataFrame:
    """Deterministic 1-3-out-regular edge list over the doc_id node set."""
    n = docs.select(F.count("*").cast("long").alias("n"))
    base = docs.select(F.col("doc_id").cast("long").alias("src")).crossJoin(
        F.broadcast(n)
    )
    ks = F.sequence(F.lit(1), (F.col("src") % 3 + 1).cast("int"))
    return base.select(
        "src",
        "n",
        (F.col("src") % 3 + 1).cast("long").alias("outdeg"),
        F.explode(ks).alias("k"),
    ).select(
        "src",
        "outdeg",
        ((F.col("src") * 7 + F.col("k")) % F.col("n")).alias("dst"),
    )


def pagerank(docs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-nano-unit PageRank after ``iters`` power iterations.

    The driver loop is over a model-scalar iteration count; each round is
    entirely distributed (join + agg). localCheckpoint every round keeps the
    lineage flat — same discipline as dedupclusters' label propagation."""
    edges = _edges(docs).persist()
    n_nodes = docs.count()
    init = (
        docs.select(F.col("doc_id").cast("long").alias("node"))
        .withColumn("r", F.lit(PR_SCALE // n_nodes).cast("long"))
    )
    teleport = (15 * PR_SCALE) // (100 * n_nodes)
    ranks = init
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select("dst", F.expr("r DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            init.select("node")
            .join(contrib, init["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(inflow, CAST(0 AS BIGINT)))"
                        f" DIV {DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    edges.unpersist()
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("pr_nano"))


HITS_SCALE = 1_000_000
HITS_ITERS = 3


def hits(docs: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Integer HITS (Kleinberg hubs/authorities) after ``iters`` rounds.

    Unnormalized fixed-iteration variant: per round, auth' = Σ_in hub over
    in-edges, then hub' = Σ_out auth' over out-edges — two join+agg passes,
    the same relational shape as :func:`pagerank`. With out/in-degree ≤ 3
    the values grow ≤ 9× per round from HITS_SCALE, so three rounds stay
    far inside BIGINT and need no normalization; fixed-round raw scores are
    a deterministic ranking (normalization only matters in the limit).
    Integer sums are aggregation-order independent → bit-identical to the
    unrolled-CTE DuckDB replay."""
    edges = _edges(docs).select("src", "dst").persist()
    nodes = docs.select(F.col("doc_id").cast("long").alias("node"))
    hub = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))
    auth = nodes.withColumn("a", F.lit(HITS_SCALE).cast("long"))
    for _ in range(iters):
        a_in = (
            edges.join(hub, edges["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("s"))
        )
        auth = (
            nodes.join(a_in, nodes["node"] == a_in["dst"], "left")
            .select(
                "node", F.coalesce("s", F.lit(0)).cast("long").alias("a")
            )
            .localCheckpoint(eager=False)
        )
        h_out = (
            edges.join(auth, edges["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("s"))
        )
        hub = (
            nodes.join(h_out, nodes["node"] == h_out["src"], "left")
            .select(
                "node", F.coalesce("s", F.lit(0)).cast("long").alias("h")
            )
            .localCheckpoint(eager=False)
        )
    out = hub.join(auth, "node").select(
        F.col("node").alias("doc_id"), "h", "a"
    )
    edges.unpersist()
    return out.select(
        "doc_id", F.col("h").alias("hub"), F.col("a").alias("auth")
    )


CC_BLOCK = 7
CC_ITERS = 7


def block_components(docs: DataFrame, block: int = CC_BLOCK) -> DataFrame:
    """Connected components by bounded min-label propagation.

    The undirected graph is the deterministic block-path: (v, v+1) whenever
    both live in the same ``block``-sized doc_id block — so components are
    exactly the blocks and the converged label is the closed-form
    ``block·(v div block)``, which is the oracle. The propagation itself is
    the real distributed kernel (per round: one equi-join on the neighbor
    endpoint + one min-agg), the same plan family as
    dedupclusters.cluster_duplicates; a path of ``block`` nodes needs
    ``block-1`` simultaneous rounds, so the round count is a structure
    constant, independent of N."""
    nodes = docs.select(F.col("doc_id").cast("long").alias("v"))
    fwd = (
        nodes.where((F.col("v") % block) != block - 1)
        .select(F.col("v").alias("x"), (F.col("v") + 1).alias("y"))
        .join(nodes.select(F.col("v").alias("y")), "y", "semi")
    )
    und = fwd.select("x", "y").union(
        fwd.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    labels = nodes.select(
        F.col("v").alias("node"), F.col("v").alias("label")
    )
    for _ in range(block - 1):
        neigh = (
            und.join(labels, und["y"] == labels["node"])
            .groupBy("x")
            .agg(F.min("label").alias("nl"))
        )
        labels = (
            labels.join(neigh, labels["node"] == neigh["x"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nl", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def _tri_edges(docs: DataFrame) -> DataFrame:
    """Canonical undirected edge list of the deterministic circulant-plus
    graph: (v, v+1), (v, v+2) for every node and (v, v+4) when v mod 5 < 2,
    all mod N — guaranteed triangles (every consecutive triple) with
    per-node counts that vary via the conditional chord."""
    n = docs.select(F.count("*").cast("long").alias("n"))
    base = docs.select(F.col("doc_id").cast("long").alias("v")).crossJoin(
        F.broadcast(n)
    )
    raw = (
        base.select("v", ((F.col("v") + 1) % F.col("n")).alias("d"))
        .union(base.select("v", ((F.col("v") + 2) % F.col("n")).alias("d")))
        .union(
            base.where(F.col("v") % 5 < 2).select(
                "v", ((F.col("v") + 4) % F.col("n")).alias("d")
            )
        )
    )
    return (
        raw.where(F.col("v") != F.col("d"))
        .select(
            F.least("v", "d").alias("a"), F.greatest("v", "d").alias("b")
        )
        .distinct()
    )


def triangles(docs: DataFrame) -> DataFrame:
    """Per-node triangle counts via the oriented two-join plan.

    Canonical a<b orientation means each triangle {x<y<z} is enumerated
    exactly once as e(x,y)⋈e(y,z)⋈e(x,z) — the standard relational triangle
    plan (two hash equi-joins, no Cartesian). At web scale the orientation
    is by degree rather than id (points high-degree hubs at each other once)
    — with this graph's bounded degree, id order is already that bound.
    Output is one row per node that closes ≥1 triangle."""
    e = _tri_edges(docs)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, e1["y"] == e2["y2"])
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_tri")
    ).select(F.col("node").alias("doc_id"), "n_tri")


BFS_MAX_DEPTH = 20


def bfs_levels(
    docs: DataFrame, source: int = 0, max_depth: int = BFS_MAX_DEPTH
) -> DataFrame:
    """Single-source BFS levels over the directed PageRank edge set.

    Frontier iteration: per round one equi-join (frontier → out-edges), a
    distinct, and an anti-join against the settled set — each round is
    fully distributed and the driver only checks frontier emptiness (a
    scalar). The ~3× expansion of this graph reaches all N nodes in
    O(log₃ N) rounds, so the loop terminates long before ``max_depth``;
    the cap also bounds the DuckDB recursive-CTE oracle so both engines
    compute the identical reachable set."""
    edges = _edges(docs).select("src", "dst").persist()
    spark = docs.sparkSession
    levels = spark.createDataFrame([(source, 0)], "node long, lvl int")
    frontier = levels
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(levels, "node", "anti")
            .withColumn("lvl", F.lit(depth))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        levels = levels.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    edges.unpersist()
    return levels.select(F.col("node").alias("doc_id"), "lvl")
