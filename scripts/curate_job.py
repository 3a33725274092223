"""Production entry point: curate a document corpus into a training set.

Runs (or resumes) jobs/curate.run_resumable_curation over a documents
parquet table: fused keep/drop decisions (near-dup clusters × quality ×
lang-id) committed once, then the kept corpus committed one wave of buckets
per IceTable snapshot. Safe to kill at any point and re-run with the same
arguments.

Usage:
    python scripts/curate_job.py --docs /root/testdata/sf0.01/documents.parquet \\
        --out /tmp/curated [--n-buckets 16] [--wave-size 8]

On a cluster: spark-submit --py-files dist/deepdoctection_spark.zip \\
    scripts/curate_job.py --submit --docs s3://corpus/documents --out s3://corpus/curated
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--wave-size", type=int, default=8)
    ap.add_argument(
        "--submit",
        action="store_true",
        help="running under spark-submit: let its --master win",
    )
    ap.add_argument(
        "--publish",
        default=None,
        metavar="TABLE_PATH",
        help="after completion, publish the corpus as an IceTable snapshot "
        "(clustered on (pred_lang, doc_id), Bloom sidecar on doc_id)",
    )
    args = ap.parse_args()

    from deepdoctection_spark import get_spark
    from deepdoctection_spark.jobs.curate import (
        load_curated,
        publish_curated,
        run_resumable_curation,
    )

    # --submit → master=None so spark-submit's --master wins (cluster path);
    # plain `python scripts/curate_job.py` uses the env-derived local[N]
    spark = (
        get_spark(app_name="curate_job", master=None)
        if args.submit
        else get_spark(app_name="curate_job")
    )
    docs = spark.read.parquet(args.docs)
    t0 = time.time()
    res = run_resumable_curation(
        spark, docs, args.out, n_buckets=args.n_buckets, wave_size=args.wave_size
    )
    curated = load_curated(spark, args.out).count()
    out = {
        "job_id": res.job_id,
        "decisions_reused": res.decisions_reused,
        "n_docs": res.n_docs,
        "n_kept": res.n_kept,
        "curated_rows_committed": curated,
        "waves": res.waves,
        "skipped_buckets": res.skipped_buckets,
        "wall_sec": round(time.time() - t0, 2),
    }
    if args.publish:
        snap = publish_curated(spark, args.out, args.publish)
        out["published"] = {
            "table": args.publish,
            "seq": snap["sequence"],
            "operation": snap["operation"],
            "files": len(snap["files"]),
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
