"""The three relational queries that ``bench.py`` times, each with a DuckDB
oracle, over the TPC-H-style ``lineitem``, ``orders`` and ``customer`` tables
and the ``events`` table:

- ``rel_pricing_summary``: filter + grouped aggregation (TPC-H Q1 shape);
- ``rel_join_revenue``: a three-way join with a broadcast dimension, then a
  grouped aggregation (TPC-H Q3 shape);
- ``rel_window_topk``: a per-key ``row_number`` window and a top-k filter.

Float policy: monetary sums go through DECIMAL(20,4) so Spark's parallel
aggregation and DuckDB's serial one are bit-identical; the one double
average is rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deepdoctection_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- grouped aggregation (pricing summary, TPC-H Q1 shape) -------------------


@register(
    "rel_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(20,4))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(20,4))::DOUBLE AS sum_base_price,
       sum((l_extendedprice::DECIMAL(20,4)) * (1 - l_discount::DECIMAL(20,4)))::DOUBLE AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(20,4)")
                * (1 - F.col("l_discount").cast("decimal(20,4)"))
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- multi-join + grouped agg (Q3 shape, broadcast-able dims) ----------------


@register(
    "rel_join_revenue",
    """
SELECT c_mktsegment,
       count(DISTINCT o.o_orderkey) AS n_orders,
       sum((l_extendedprice::DECIMAL(20,4)) * (1 - l_discount::DECIMAL(20,4)))::DOUBLE AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY c_mktsegment
""",
)
def q_join_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    l = _t(spark, sf_dir, "lineitem")
    # customer is the small dim: broadcast it so the big fact join is
    # shuffle-free on that side; orders⋈lineitem shuffles on orderkey once.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(20,4)")
                * (1 - F.col("l_discount").cast("decimal(20,4)"))
            ).cast("double").alias("revenue"),
        )
    )


# --- window + per-key top-k ------------------------------------------------------


@register(
    "rel_window_topk",
    """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def q_window_topk(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", F.col("rn").cast("long").alias("rn"))
    )
