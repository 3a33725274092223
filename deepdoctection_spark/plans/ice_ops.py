"""IceTable queries with DuckDB oracles.

Each query BUILDS a real IceTable in a temp dir from the events table with a
deterministic commit sequence, then exercises an Iceberg-semantics read path
(time travel / stats-pruned scan / orphan cleanup). The oracle
never sees the table — it recomputes the expected result from the same
deterministic commit definitions over the raw events view, so agreement
proves the snapshot machinery end-to-end (commit → manifest → file planning
→ read), the same philosophy as the codec oracles.

Results are localCheckpoint-materialized before the temp table dir is
removed — the returned DataFrame carries no reference to deleted files."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepdoctection_spark.plans.registry import register
from deepdoctection_spark.sources.icetable import IceTable


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _summarize(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 3).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _materialize_then_rm(df: DataFrame, tmp: str) -> DataFrame:
    out = df.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


_SUMMARY_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 3) AS sum_value,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM slice GROUP BY event_type
"""


@register(
    "ice_time_travel",
    f"""
WITH slice AS (
  SELECT * FROM events WHERE event_id % 3 IN (0, 1)
)
{_SUMMARY_SQL}
""",
)
def q_ice_time_travel(spark, sf_dir):
    """Three commits (append ⅓, append ⅓, OVERWRITE ⅓); read at seq=2 —
    the pre-overwrite snapshot. The oracle sees only the first two thirds:
    agreement proves overwrite isolation + historical file-list replay."""
    ev = _events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_tt_")
    t = IceTable(f"{tmp}/tbl")
    t.append(ev.where("event_id % 3 = 0"))
    t.append(ev.where("event_id % 3 = 1"))
    t.overwrite(ev.where("event_id % 3 = 2"))
    return _materialize_then_rm(_summarize(t.read(spark, seq=2)), tmp)


def _oracle_ice_extract() -> str:
    from deepdoctection_spark.plans import oracles

    return oracles.oracle_extract_text()


@register("ice_extract_turns", _oracle_ice_extract())
def q_ice_extract_turns(spark, sf_dir):
    """The north-rule input shape end-to-end: the transcripts live in an
    ICEBERG-SEMANTICS TABLE (three append commits — a real multi-file
    snapshot with manifests, not a parquet dir) and the extraction stage
    (one mapInArrow, zero shuffle) runs over the snapshot read. The oracle
    is the standard extract_text template oracle: agreement proves the
    table machinery is transparent to the pipeline — same bytes in, same
    extracted text + block counts out."""
    from deepdoctection_spark.operators.extraction import extract_transcripts
    from deepdoctection_spark.sources.transcripts import build_transcripts

    tr = build_transcripts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_ext_")
    t = IceTable(f"{tmp}/tbl")
    for k in range(3):
        t.append(tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == k))
    out = extract_transcripts(t.read(spark)).select(
        "conv_id", "turn_idx", "role", "tool", "extracted_text", "n_blocks"
    )
    return _materialize_then_rm(out, tmp)


@register(
    "ice_bloom_lookup",
    """
SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key, lang, n_chars
FROM documents
WHERE md5(CAST(doc_id AS VARCHAR)) = md5('137')
""",
)
def q_ice_bloom_lookup(spark, sf_dir):
    """Bloom-sidecar point lookup on a high-cardinality unordered key:
    four doc_id-quartile commits keyed by md5(doc_id) — every file's
    [min,max] on the hex key spans the whole keyspace, so footer stats
    alone can never prune. The per-file Bloom (written via bloom_cols)
    must drop at least 2 of the 4 files for an equality probe (asserted),
    and the re-applied filter keeps the result exact. This is the
    `conv_id = X` path at 10^12 turns: one file read, not a table scan."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("key"),
            "lang",
            "n_chars",
        )
    )
    hi = docs.agg(F.max("doc_id")).first()[0]
    qsize = hi // 4 + 1
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_bloom_")
    t = IceTable(f"{tmp}/tbl")
    for k in range(4):
        t.append(
            docs.where(
                (F.col("doc_id") >= k * qsize)
                & (F.col("doc_id") < (k + 1) * qsize)
            ).coalesce(1),
            bloom_cols=["key"],
        )
    probe = hashlib.md5(b"137").hexdigest()
    keep, pruned = t.plan_files(("key", "=", probe))
    assert pruned >= 2, f"bloom pruning inert: pruned={pruned}"
    return _materialize_then_rm(t.scan(spark, ("key", "=", probe)), tmp)


@register(
    "ice_sorted_scan",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id >= 100 AND doc_id < 150
""",
)
def q_ice_sorted_scan(spark, sf_dir):
    """Write-order clustering + compound predicate: ONE commit of the
    shuffled documents table written with sort_by (range partition + local
    sort into 4 files) — per-file doc_id ranges become near-disjoint, so a
    conjunctive range scan must prune at least 2 files from footer stats
    that only exist because of the clustered write (asserted). Unlike
    ice_pruned_scan the disjointness is produced by the writer, not by
    hand-split commits — the Iceberg write-order contract."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .repartition(8)  # scatter: clustering must come from sort_by alone
    )
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_sort_")
    t = IceTable(f"{tmp}/tbl")
    t.append(docs, sort_by=["doc_id"], sort_files=4)
    pred = [("doc_id", ">=", 100), ("doc_id", "<", 150)]
    keep, pruned = t.plan_files(pred)
    assert pruned >= 2, f"write-order clustering inert: pruned={pruned}"
    return _materialize_then_rm(t.scan(spark, pred), tmp)


@register(
    "ice_pruned_scan",
    f"""
WITH bounds AS (
  SELECT (max(user_id) * 3) // 4 AS cut FROM events
),
slice AS (
  SELECT e.* FROM events e, bounds b WHERE e.user_id >= b.cut
)
{_SUMMARY_SQL}
""",
)
def q_ice_pruned_scan(spark, sf_dir):
    """Manifest min/max pruning: four commits over disjoint user_id quarters
    (one file each), scan with user_id >= 3rd-quartile cut — the planner
    must drop the three low-range files from footer stats alone, and the
    re-applied filter keeps the result exact on the boundary file."""
    ev = _events(spark, sf_dir)
    hi = ev.agg(F.max("user_id")).first()[0]
    qsize = hi // 4 + 1
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_prune_")
    t = IceTable(f"{tmp}/tbl")
    for k in range(4):
        t.append(
            ev.where(
                (F.col("user_id") >= k * qsize)
                & (F.col("user_id") < (k + 1) * qsize)
            ).coalesce(1)
        )
    cut = (hi * 3) // 4
    keep, pruned = t.plan_files(("user_id", ">=", cut))
    assert pruned >= 2, f"stats pruning inert: pruned={pruned}"
    return _materialize_then_rm(
        _summarize(t.scan(spark, ("user_id", ">=", cut))), tmp
    )


@register(
    "ice_evolved_scan",
    f"""
WITH slice AS (
  SELECT e.* FROM events e WHERE e.event_type = 'click'
)
{_SUMMARY_SQL}
""",
)
def q_ice_evolved_scan(spark, sf_dir):
    """PARTITION EVOLUTION: commit 1 lands half the events unpartitioned,
    commit 2 evolves the spec to partition_by=event_type
    (allow_spec_change) — the scan must stitch the flat era (column in
    data, footer-stats pruning) and the Hive era (column from the path,
    partition-value pruning) into one exact result. Pruning asserted: the
    evolved era's non-click partitions never reach Spark."""
    ev = _events(spark, sf_dir)
    cut = ev.agg(F.max("event_id")).first()[0] // 2
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_evolve_")
    t = IceTable(f"{tmp}/tbl")
    t.append(ev.filter(F.col("event_id") <= cut).coalesce(2))
    t.append(ev.filter(F.col("event_id") > cut),
             partition_by="event_type", allow_spec_change=True)
    keep, pruned = t.plan_files(("event_type", "=", "click"))
    assert pruned >= 3, f"evolved-era partition pruning inert: {pruned}"
    return _materialize_then_rm(
        _summarize(t.scan(spark, ("event_type", "=", "click"))), tmp)


@register(
    "ice_orphan_cleanup",
    f"""
WITH slice AS (
  SELECT * FROM events WHERE event_id % 3 IN (0, 1)
)
{_SUMMARY_SQL}
""",
)
def q_ice_orphan_cleanup(spark, sf_dir):
    """Iceberg remove_orphan_files: two appends, then three injected
    orphans — a stray data parquet (a torn write's leftover), an
    unreferenced manifest and an unreferenced Bloom sidecar (a lost
    commit race's debris). Asserted: dry-run reports EXACTLY the three
    injected files and deletes nothing; the real run removes them and
    ONLY them (every referenced file survives, pinned by count); reads at
    head and at seq=1 are unchanged. The oracle sees the two appends —
    agreement proves cleanup never touched live data."""
    import json as _json
    import os

    ev = _events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ddspark_ice_orph_")
    t = IceTable(f"{tmp}/tbl")
    t.append(ev.where("event_id % 3 = 0"), bloom_cols=["event_type"])
    t.append(ev.where("event_id % 3 = 1"), bloom_cols=["event_type"])
    data_dir = t.data_dir
    live_before = sorted(
        os.path.join(r, fn) for r, _d, fs in os.walk(data_dir) for fn in fs)
    # inject orphans: torn-write parquet + lost-race manifest + sidecar
    src = live_before[0]
    orphan_parquet = os.path.join(data_dir, "deadbeef0000-99999.parquet")
    shutil.copyfile(src, orphan_parquet)
    orphan_manifest = os.path.join(t.meta_dir, "manifest-deadbeef.json")
    with open(orphan_manifest, "w") as f:
        _json.dump([], f)
    puffin = os.path.join(t.meta_dir, "puffin")
    os.makedirs(puffin, exist_ok=True)
    orphan_sidecar = os.path.join(puffin, "deadbeef.orphan.bloom.json")
    with open(orphan_sidecar, "w") as f:
        _json.dump({"m": 8, "k": 1, "bits": []}, f)

    dry = t.remove_orphans(dry_run=True)
    assert dry["n_orphans"] == 3, dry
    assert dry["orphan_data_files"] == ["deadbeef0000-99999.parquet"], dry
    assert dry["orphan_manifests"] == ["manifest-deadbeef.json"], dry
    assert os.path.exists(orphan_parquet), "dry run must not delete"

    real = t.remove_orphans()
    assert real["n_orphans"] == 3, real
    assert not os.path.exists(orphan_parquet)
    assert not os.path.exists(orphan_manifest)
    assert not os.path.exists(orphan_sidecar)
    live_after = sorted(
        os.path.join(r, fn) for r, _d, fs in os.walk(data_dir) for fn in fs)
    assert live_after == live_before, "cleanup touched a referenced file"
    assert t.read(spark, seq=1).count() > 0  # time travel intact
    return _materialize_then_rm(_summarize(t.read(spark)), tmp)
