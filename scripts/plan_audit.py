#!/usr/bin/env python
"""Whole-registry physical-plan audit: every batch query's executed plan is
scanned for the anti-patterns that silently die at 100 TB — CartesianProduct
(quadratic row blowup) and BatchEvalPython (row-at-a-time Python UDFs in the
hot path). BroadcastNestedLoopJoin is reported but allowed ONLY for the
whitelisted queries that intentionally broadcast a model/grid-sized side
(kNN query vectors, the COCO threshold grid, the corpus-surprisal vocab).

    python scripts/plan_audit.py [--sf-dir /root/testdata/sf0.001]

Exit code 1 on any violation; writes PLAN_AUDIT.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# broadcasts of model-sized sides (bounded by k, not by data volume)
BNLJ_WHITELIST = {
    "eval_coco_map", "knn_bruteforce", "quality_surprisal",
    "mixture_weights",  # two 1-row global-total broadcasts (token + weight sums)
    "quality_perplexity_bigram",  # 1-row vocab-size broadcast (add-one smoothing V)
    "graph_triangles",  # 1-row node-count broadcast building the ring edges
    "data_expectations",  # four 1-row aggregate relations scalar-combined
    # embeds mixture_weights' whitelisted 1-row global-total broadcasts on
    # its (sources-sized) weights side; the schedule join itself is a
    # broadcast hash equi-join on source
    "loader_mixture_schedule",
    # 1-row corpus-total aggregate scalar-combined into each card row —
    # the data_expectations pattern
    "corpus_release_manifest",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from deepdoctection_spark import get_spark

    spark = get_spark(app_name="plan_audit")
    report: dict = {"cartesian": [], "pyudf": [], "bnlj": [],
                    "bnlj_unexpected": [], "skipped": [], "audited": 0}
    for name, fn in sorted(entry.queries().items()):
        if name.startswith("stream_"):
            # bounded streaming runs execute on build; their stage plans are
            # pinned by tests/test_streaming.py instead
            report["skipped"].append(name)
            continue
        try:
            plan = fn(spark, args.sf_dir) \
                ._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must not abort
            report["skipped"].append(f"{name}: {type(exc).__name__}")
            continue
        report["audited"] += 1
        if "CartesianProduct" in plan:
            report["cartesian"].append(name)
        if "BatchEvalPython" in plan:
            report["pyudf"].append(name)
        if "BroadcastNestedLoopJoin" in plan:
            report["bnlj"].append(name)
            if name not in BNLJ_WHITELIST:
                report["bnlj_unexpected"].append(name)
    bad = report["cartesian"] + report["pyudf"] + report["bnlj_unexpected"]
    report["ok"] = not bad
    out = REPO / "PLAN_AUDIT.json"
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    print(f"-> {out}")
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
