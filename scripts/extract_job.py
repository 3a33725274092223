#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north-rule packaging).

Run via:

    spark-submit --master local[8] \
        --py-files dist/deepdoctection_spark.zip \
        scripts/extract_job.py --sf-dir /root/testdata/sf0.1 \
        --repl 48 --cores 8 --out /tmp/extract_metrics_8.json

On a real cluster the same command line takes ``--master yarn``/k8s and
executor sizing flags; nothing in the job references local paths except the
input/output locations. The job:

1. builds the replicated transcript table (multi-split scan shape),
2. runs the full extraction (blocks, cells, words, table HTML) through the
   single mapInArrow stage,
3. reassembles conversations (the one shuffle),
4. forces full materialization through the `noop` sink (distributed write,
   nothing collected to the driver),
5. writes a JSON metrics file {turns, wall_sec, turns_per_sec, cores}.

The scaling harness (scripts/scaling_bench.py) runs this job at two
parallelism levels on the same input and reports the scaling efficiency
demanded by BASELINE.json north_rule (N vs 4N executors; sandbox stand-in:
local[8] vs local[32]).

Python workers: importing ``deepdoctection_spark`` (which every worker does
to unpickle the extraction UDF, on any master, ``--py-files`` included)
installs ``zipcache``, so a reused worker stops re-reading the zip archives
on its path at every task (about 0.2 CPU-s per task on Python < 3.13). Each
worker still pays the read on its first two tasks.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def build_session(cores: int) -> SparkSession:
    # Exactly the engine's session config (no drift between the scaling
    # evidence and bench/tests): master=None lets spark-submit's --master
    # win; the package is on the path via --py-files anyway.
    from deepdoctection_spark.config import get_spark

    return get_spark(
        app_name="extract_job", master=None, shuffle_partitions=max(8, cores)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repl", type=int, default=48)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument(
        "--from-ice",
        default=None,
        metavar="TABLE_DIR",
        help="materialize the replicated input as an IceTable at TABLE_DIR "
        "first (reused if it already holds the same row count) and run the "
        "measured extraction over the SNAPSHOT READ — the north-rule input "
        "shape (Iceberg table of transcripts) in the scaling job itself",
    )
    args = ap.parse_args()

    from deepdoctection_spark.operators.extraction import extract_transcripts
    from deepdoctection_spark.operators.reassembly import reassemble_conversations
    from deepdoctection_spark.sources.transcripts import (
        build_transcripts,
        replicated_transcripts,
    )

    spark = build_session(args.cores)

    # the SAME workload builder bench.py uses (shared helper — no drift)
    t = replicated_transcripts(
        spark, args.sf_dir, args.repl, partitions=args.cores * 3
    )
    if args.from_ice:
        from deepdoctection_spark.sources.icetable import IceTable

        tbl = IceTable(args.from_ice)
        expected = t.count()
        snap = tbl.snapshot()
        if sum(f["rows"] for f in snap["files"]) != expected:
            # (re)materialize once; timing below measures the READ path only
            tbl.overwrite(t, allow_schema_change=True)
        t = tbl.read(spark)

    # warm-up: JIT + Python worker pool spin-up excluded from the measurement
    extract_transcripts(
        build_transcripts(spark, args.sf_dir).limit(256)
    ).write.format("noop").mode("overwrite").save()

    n_turns = t.count()

    # The sandbox VM's effective CPU speed varies run-to-run (hypervisor
    # noise); each pipeline is timed `--trials` times and the best wall is
    # reported (standard practice for throughput claims on shared hardware).
    def best_of(df_builder) -> tuple[float, list[float]]:
        walls = []
        for _ in range(args.trials):
            t0 = time.monotonic()
            df_builder().write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
        return min(walls), walls

    wall_extract, walls_e = best_of(lambda: extract_transcripts(t, with_words=True))
    wall_reassemble, walls_r = best_of(
        lambda: reassemble_conversations(extract_transcripts(t, with_words=False))
    )

    metrics = {
        "cores": args.cores,
        "turns": n_turns,
        "wall_sec_extract": wall_extract,
        "walls_extract": walls_e,
        "turns_per_sec": round(n_turns / wall_extract, 1),
        "wall_sec_reassemble": wall_reassemble,
        "walls_reassemble": walls_r,
        "turns_per_sec_reassemble": round(n_turns / wall_reassemble, 1),
        "sf_dir": args.sf_dir,
        "repl": args.repl,
        "input": "icetable" if args.from_ice else "parquet",
    }
    with open(args.out, "w") as f:
        json.dump(metrics, f)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
