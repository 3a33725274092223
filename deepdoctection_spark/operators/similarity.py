"""Exact cosine top-k over an embedding column (array<float>).

Queries are broadcast (small side) and the corpus side streams: one narrow
pass plus a per-query top-k window. All arithmetic is JVM-side
(`zip_with`/`aggregate` over double arrays inside whole-stage codegen), with
no Python. At 10^9 vectors the corpus shards by partition and the broadcast
query block stays under a few MB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
