"""End-to-end resumable corpus curation: decisions → filtered write.

The production "build the training set" path: fuse the per-doc keep/drop
verdicts (near-dup clustering × quality × language — plans/training_ops
`curation_decisions`, the capstone oracle query) and materialize the kept
corpus with the same commit protocol as jobs/resumable.py, so a killed run
resumes without recomputation or duplication.

Two committed stages, each an IceTable (sources/icetable.py) commit:

1. **decisions** — the global pass (LSH pairs cross any bucketing, so this
   cannot be incremental): curation_decisions(docs) committed as ONE
   snapshot of the table at {out}/decisions, partitioned by ``keep`` so the
   kept/total counts come from the commit's own manifest entries. A resume
   finds that snapshot and reuses the decisions verbatim — decision
   stability across attempts is what makes stage 2 idempotent.
2. **curated corpus** — kept docs, bucketed by xxhash64(doc_id), committed
   to the WaveTable at {out} one wave of buckets per snapshot by
   jobs/resumable.run_waves (identical recovery semantics to
   run_resumable_extract: a torn wave is invisible and rerun, committed
   buckets are skipped).

Reference analogue: the dataflow save/checkpoint surface (deepdoctection's
``Image.save``) — single-node JSON dumps there; table commits here.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepdoctection_spark.jobs.resumable import BUCKET_COL, WaveTable, read_manifest, run_waves
from deepdoctection_spark.sources.icetable import IceTable


def curation_decisions(docs: DataFrame) -> DataFrame:
    """Per-doc fused keep/drop decision (see plans/training_ops for the
    oracle-registered query built on this)."""
    from deepdoctection_spark.operators import dedup, textstats
    from deepdoctection_spark.operators.dedupclusters import dup_clusters

    pairs = dedup.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=3, threshold=0.8)
    clusters = dup_clusters(docs, pairs)
    q = textstats.quality_scores(docs).select("doc_id", "quality")
    lang = textstats.lang_id(docs).select("doc_id", "pred_lang")
    keep = (
        F.col("is_kept") & (F.col("quality") >= 0.5) & (F.col("pred_lang") != "und")
    )
    reason = (
        F.when(~F.col("is_kept"), "duplicate")
        .when(F.col("quality") < 0.5, "low_quality")
        .when(F.col("pred_lang") == "und", "unknown_lang")
        .otherwise("")
    )
    return (
        q.join(lang, "doc_id")
        .join(clusters, "doc_id")
        .select(
            "doc_id", "pred_lang", "quality", "cluster_id", "cluster_size",
            keep.alias("keep"), reason.alias("drop_reason"),
        )
    )


@dataclass
class CurationResult:
    job_id: str
    n_buckets: int
    decisions_reused: bool = False
    n_docs: int = 0
    n_kept: int = 0
    processed_buckets: list[int] = field(default_factory=list)
    skipped_buckets: int = 0
    waves: int = 0


def run_resumable_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    wave_size: int = 8,
    fail_after_waves: int | None = None,
) -> CurationResult:
    """Run (or resume) the full curation into ``out_dir`` (``fail_after_waves``
    counts corpus waves: see jobs/resumable.run_waves)."""
    # stage 1: the decisions snapshot is the commit; a resume reuses it
    decisions = IceTable(os.path.join(out_dir, "decisions"))
    reused = decisions.current_seq() > 0
    if not reused:
        decisions.append(curation_decisions(docs), partition_by="keep")
    files = decisions.snapshot()["files"]
    res = CurationResult(
        job_id=uuid.uuid4().hex[:12],
        n_buckets=n_buckets,
        decisions_reused=reused,
        n_docs=sum(f["rows"] for f in files),
        n_kept=sum(f["rows"] for f in files if f["partition"]["keep"] == "true"),
    )
    kept = docs.join(
        decisions.read(spark).where("keep").select("doc_id", "pred_lang", "quality"),
        "doc_id",
    ).withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    return run_waves(out_dir, kept, res, wave_size, fail_after_waves)


def load_curated(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed curated corpus (a read of the WaveTable at ``out_dir``:
    files of a torn wave are invisible)."""
    table = WaveTable(out_dir)
    if not table.current_seq():
        raise FileNotFoundError(f"no committed curated data under {out_dir}")
    return table.read(spark)


def publish_curated(
    spark: SparkSession,
    out_dir: str,
    table_path: str,
    sort_files: int = 8,
) -> dict:
    """Publish the completed curation run as an IceTable snapshot — the
    consumable "training set vN" table.

    The wave-bucketed table at ``out_dir`` is a WRITE layout (resume
    granularity); readers want a TABLE: one atomic version with snapshot
    isolation, history (each publish is an overwrite commit, so corpus v1
    remains time-travelable after v2 lands), and prunable file metadata.
    Each publish also TAGS its snapshot ``corpus-v<seq>`` (Iceberg named
    ref), so "the exact table a model trained on" is pinned by name.
    The publish clusters on (pred_lang, doc_id) — training consumers slice
    by language, then by id range — and writes a Bloom sidecar on doc_id so
    single-document audits ("why is doc X in the set?") read one file, not
    the corpus. Requires ALL buckets committed: publishing a torn run would
    freeze a partial corpus into a version.
    """
    manifest = read_manifest(out_dir)
    n_buckets = {e["n_buckets"] for e in manifest}
    missing = (set(range(max(n_buckets))) - {e["bucket"] for e in manifest}
               if n_buckets else set())
    if not n_buckets or missing:
        raise RuntimeError(
            f"curation at {out_dir} is incomplete (missing buckets "
            f"{sorted(missing) if n_buckets else 'all'}); resume it before publishing"
        )
    corpus = load_curated(spark, out_dir).drop(BUCKET_COL)
    t = IceTable(table_path)
    # each publish is one commit = one corpus version (v1 stays
    # time-travelable after v2 lands); sort_by + bloom make the published
    # files range-prunable by (pred_lang, doc_id) and point-prunable by id
    kwargs = dict(
        sort_by=["pred_lang", "doc_id"],
        sort_files=sort_files,
        bloom_cols=["doc_id"],
    )
    if t.snapshot()["files"]:
        snap = t.overwrite(corpus, **kwargs)
    else:
        snap = t.append(corpus, **kwargs)
    t.tag(f"corpus-v{snap['sequence']}", snap["sequence"])
    return snap
