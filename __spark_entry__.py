"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Query families:
- extraction (the north-rule engine): Spark runs the real HTML/layout parsers
  over synthesized payloads; the DuckDB oracle reconstructs expected outputs
  from template ground truth — a genuine end-to-end parity check.
- relational: the three TPC-H-style queries bench.py times (grouped
  aggregation, a broadcast-dimension join, a per-key window top-k).
- training-data ops: dedup / similarity / text-analysis over documents and
  embeddings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import deepdoctection_spark.plans.coco_ops  # noqa: F401 — registers COCO mAP query
import deepdoctection_spark.plans.evaluation  # noqa: F401 — registers eval metrics (Evaluator analogue)
import deepdoctection_spark.plans.ice_ops  # noqa: F401 — registers IceTable snapshot/time-travel queries
import deepdoctection_spark.plans.lm_ops  # noqa: F401 — registers LM-service (stub model) queries
import deepdoctection_spark.plans.matchnms_ops  # noqa: F401 — registers matching+NMS queries
import deepdoctection_spark.plans.multimodal_ops  # noqa: F401 — registers media decode/feature queries
import deepdoctection_spark.plans.pipeline  # noqa: F401 — registers extraction queries
import deepdoctection_spark.plans.pubtables_ops  # noqa: F401 — registers pubtables segmentation query
import deepdoctection_spark.plans.refine_ops  # noqa: F401 — registers cell-merge refinement query
import deepdoctection_spark.plans.relational  # noqa: F401 — registers bench.py's relational queries
import deepdoctection_spark.plans.graph_ops  # noqa: F401 — registers the five graph queries
import deepdoctection_spark.plans.streaming_ops  # noqa: F401 — registers bounded streaming runs
import deepdoctection_spark.plans.training_ops  # noqa: F401 — registers dedup, kNN, text-stats and LLM data-prep queries
from deepdoctection_spark.plans.registry import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001 (per-turn main text +
    span counts in stable turn order)."""
    return QUERIES["extract_text"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
