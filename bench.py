#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "headline_total_sec", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>,
     "turns": N, "turns_per_sec": R, "cpus": C, "replication": K}

Design notes
------------
- Forcing full computation uses the `noop` sink (df.write.format("noop")):
  every row is produced and serialized by the executors, nothing is collected
  to the driver — the measured time is the distributed pipeline, not driver
  ingest.
- The sandbox parquet inputs are single small files → a 1-split scan that
  would serialize the Arrow extraction stage onto one core. Real 100 TB
  inputs arrive in thousands of splits, so the bench reproduces that shape:
  the transcript build is replicated REPL× (crossJoin with spark.range, new
  conv_id per replica) and repartitioned to 3×cores before the mapInPandas
  stage. Replication multiplies distinct payloads, not one cached row.
- turns/sec (BASELINE.json metric) is reported for the full extraction
  pipeline (parse → spans → tables → reading order → word tokens).
- SELF-ATTRIBUTING NUMBERS: the sandbox VM's effective CPU speed swings
  ±2× across sessions (BENCH.md logs identical code at 1.6 s and 12 s for
  the same query on different days). So the JSON now carries, alongside
  each query's best-of-trials figure, (a) every raw trial wall
  (``trials``) and (b) a pure-CPU multiprocessing control reading taken
  before and after the query loop (``control_units_per_sec`` — the same
  hashlib.md5 busy-loop scripts/scaling_bench.py normalizes against, no
  Spark involved). A regressed headline is then self-explaining: if the
  control reading dropped proportionally, the machine was slow, not the
  code. Reference analogue: TestDataSpeed's warmup discipline
  (dataflow/common.py:23-61).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from deepdoctection_spark.config import get_spark  # noqa: E402
from deepdoctection_spark.operators.extraction import extract_transcripts  # noqa: E402
from deepdoctection_spark.operators.reassembly import reassemble_conversations  # noqa: E402
from deepdoctection_spark.sources.transcripts import (  # noqa: E402
    build_transcripts,
    replicated_transcripts as _replicated,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPL = int(os.environ.get("SPARK_GRAFT_BENCH_REPL", "24"))


def replicated_transcripts(spark: SparkSession, sf_dir: str, repl: int) -> DataFrame:
    """Shared workload builder (sources/transcripts.replicated_transcripts)
    at the bench's partitioning."""
    return _replicated(spark, sf_dir, repl, partitions=CPUS * 3)


def run(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

ALL_TRIALS: dict[str, list[float]] = {}


def timed(df_builder, name: str = "") -> float:
    """Best-of-TRIALS wall seconds — the sandbox VM's effective CPU speed
    swings ±2× run-to-run (hypervisor noise); min-of-trials is the standard
    throughput estimator on shared hardware. Raw walls land in ALL_TRIALS
    so the emitted JSON shows the spread, not just the min."""
    walls = []
    for _ in range(TRIALS):
        t0 = time.monotonic()
        run(df_builder())
        walls.append(round(time.monotonic() - t0, 3))
    if name:
        ALL_TRIALS[name] = walls
    return round(min(walls), 3)


def _control_task(_: int) -> int:
    from hashlib import md5

    h = b"x"
    for _ in range(400000):
        h = md5(h).digest()
    return 1


def control_probe(procs: int | None = None, tasks: int = 96) -> float:
    """Machine-speed control: pure-CPU multiprocessing tasks/sec with NO
    Spark in the loop (same busy-loop as scripts/scaling_bench.py's
    hw_control). Read alongside the query walls, it attributes a slow
    bench to the VM vs the code."""
    from multiprocessing import Pool

    procs = procs or CPUS
    with Pool(procs) as p:
        p.map(_control_task, range(procs))  # warm forks
        t0 = time.monotonic()
        p.map(_control_task, range(tasks))
        return round(tasks / (time.monotonic() - t0), 2)


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    # register query families lazily (import cost kept out of timings)
    import deepdoctection_spark.plans.evaluation  # noqa: F401
    import deepdoctection_spark.plans.lm_ops  # noqa: F401
    import deepdoctection_spark.plans.multimodal_ops  # noqa: F401
    import deepdoctection_spark.plans.pipeline  # noqa: F401
    import deepdoctection_spark.plans.relational  # noqa: F401
    import deepdoctection_spark.plans.training_ops  # noqa: F401
    from deepdoctection_spark.plans.registry import QUERIES

    timings: dict[str, float] = {}

    # warm the JVM + Arrow path once (tiny), excluded from timings
    run(extract_transcripts(build_transcripts(spark, SF_DIR).limit(256)))

    control_start = control_probe()

    t_all = replicated_transcripts(spark, SF_DIR, REPL)
    n_turns = t_all.count()

    timings["extract_turns"] = timed(
        lambda: extract_transcripts(t_all, with_words=True), "extract_turns"
    )
    turns_per_sec = round(n_turns / timings["extract_turns"], 1)

    timings["extract_reassemble"] = timed(
        lambda: reassemble_conversations(extract_transcripts(t_all, with_words=False)),
        "extract_reassemble",
    )

    # mega-conversation stress: same rows, ~30% reassigned to ONE conv_id —
    # the reassembly must keep this within ~1.5x of the uniform shape, though
    # the hot conv is one aggregation group
    from pyspark.sql import functions as F

    t_skew = t_all.withColumn(
        "hot", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(10)) < 3
    ).select(
        F.when(F.col("hot"), F.lit("conv-mega")).otherwise(F.col("conv_id")).alias("conv_id"),
        F.when(
            F.col("hot"),
            F.pmod(F.hash("conv_id", "turn_idx", "text"), F.lit(2147483647)),
        )
        .otherwise(F.col("turn_idx"))
        .cast("int")
        .alias("turn_idx"),
        "role", "text", "tool", "ts",
    )
    timings["reassemble_skewed"] = timed(
        lambda: reassemble_conversations(extract_transcripts(t_skew, with_words=False)),
        "reassemble_skewed",
    )

    for name in (
        "table_cells",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "knn_bruteforce",
        "lang_id",
        "quality_scores",
        "media_image_stats",
        "eval_span_prf",
        "rel_pricing_summary",
        "rel_join_revenue",
        "rel_window_topk",
    ):
        timings[name] = timed(lambda n=name: QUERIES[n](spark, SF_DIR), name)

    control_end = control_probe()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "trials": ALL_TRIALS,
                "control_units_per_sec": {
                    "start": control_start,
                    "end": control_end,
                    "note": "pure-CPU multiprocessing md5 tasks/sec, no Spark"
                            " — compare across rounds to separate VM speed"
                            " from code speed",
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "turns": n_turns,
                "turns_per_sec": turns_per_sec,
                "cpus": CPUS,
                "replication": REPL,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
