"""IceTable (sources/icetable.py): append-only snapshots, time travel,
compaction, two-level manifest pruning (min/max, partition values, Bloom
sidecars), optimistic-commit conflicts, schema pinning, tags and orphan
removal — the Iceberg-semantics subset the transcript source and the
checkpointed jobs' commit protocol need, over plain parquet."""

from __future__ import annotations

import json
import os

import pytest

from deepdoctection_spark.sources.icetable import CommitConflict, IceTable


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{tag}' AS tag", "id * 2 AS val")


@pytest.fixture()
def tbl(tmp_path):
    return IceTable(str(tmp_path / "tbl"))


def _stale_commit_view(monkeypatch, tbl, seq):
    """Make ``tbl`` resolve the current sequence as ``seq`` for its next two
    lookups, then truthfully. An append looks once while planning and once
    per commit attempt, so its first attempt targets ``seq + 1``, loses
    that race to the snapshot already there, and rebases."""
    real = tbl.current_seq
    calls = {"n": 0}

    def stale_twice():
        calls["n"] += 1
        return seq if calls["n"] <= 2 else real()

    monkeypatch.setattr(tbl, "current_seq", stale_twice)


def test_append_and_snapshot_read(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 150, tag="b"))
    assert tbl.read(spark).count() == 150
    assert tbl.current_seq() == 2
    log = list(tbl.snapshot_log())
    assert [e["operation"] for e in log] == ["append", "append"]
    assert log[1]["parent"] == log[0]["snapshot_id"]
    assert sum(m["rows"] for m in log[1]["manifests"]) == 150


def test_time_travel_and_overwrite(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.overwrite(_df(spark, 0, 10, tag="ow"))
    assert tbl.read(spark).count() == 10
    assert tbl.read(spark, seq=1).count() == 100  # old snapshot intact
    assert {r["tag"] for r in tbl.read(spark, seq=2).collect()} == {"ow"}


def test_uncommitted_files_invisible(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    # simulate a torn commit: data file landed, snapshot never written
    orphan = os.path.join(tbl.data_dir, "deadbeef-00000.parquet")
    _df(spark, 900, 910).coalesce(1).write.parquet(orphan + ".dir")
    part = [f for f in os.listdir(orphan + ".dir") if f.endswith(".parquet")][0]
    os.rename(os.path.join(orphan + ".dir", part), orphan)
    assert tbl.read(spark).count() == 10  # snapshot lists only committed files


def test_stale_version_hint_self_heals(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    tbl.append(_df(spark, 10, 20))
    with open(os.path.join(tbl.meta_dir, "version-hint.text"), "w") as f:
        f.write("1")  # stale/torn hint
    assert tbl.current_seq() == 2  # snap files are the source of truth
    assert tbl.read(spark).count() == 20


def test_manifest_pruning_skips_files(spark, tbl):
    # three disjoint id ranges → three commits → distinct file stats
    for lo in (0, 1000, 2000):
        tbl.append(_df(spark, lo, lo + 100).coalesce(1))
    keep, pruned = tbl.plan_files(("id", ">=", 2000))
    assert pruned >= 2  # the 0- and 1000- range files never reach Spark
    got = tbl.scan(spark, ("id", ">=", 2000))
    assert sorted(r["id"] for r in got.collect()) == list(range(2000, 2100))
    # conservative on unknown columns: no stats → no pruning, still exact
    keep_all, pruned_none = tbl.plan_files(("nonexistent", "=", 1))
    assert pruned_none == 0


def test_string_stats_pruning(spark, tbl):
    tbl.append(_df(spark, 0, 10, tag="aaa").coalesce(1))
    tbl.append(_df(spark, 0, 10, tag="zzz").coalesce(1))
    keep, pruned = tbl.plan_files(("tag", "=", "zzz"))
    assert pruned == 1
    assert tbl.scan(spark, ("tag", "=", "zzz")).count() == 10


def test_commit_conflict_retries_then_raises(spark, tbl, monkeypatch):
    tbl.append(_df(spark, 0, 10))

    # a writer with a permanently stale view: every retry targets seq 2,
    # which a concurrent winner already committed → exclusive create loses
    # 5 times → CommitConflict
    blocker = {"sequence": 2, "snapshot_id": "x", "parent": None,
               "operation": "append",
               "schema": "id bigint,tag string,val bigint",
               "added": [], "manifests": [],
               "ts_ms": 0}
    with open(tbl._snap_path(2), "w") as f:
        json.dump(blocker, f)
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    with pytest.raises(CommitConflict):
        tbl.append(_df(spark, 10, 20))

    # loser-retries-and-wins path: the first attempt is stale (sees 1, loses
    # the race for 2), the retry re-resolves and lands on 3
    monkeypatch.undo()
    _stale_commit_view(monkeypatch, tbl, 1)
    snap = tbl.append(_df(spark, 10, 20))
    assert snap["sequence"] == 3
    assert snap["parent"] == "x"  # lineage re-resolved on retry


def test_schema_pinning_and_add_only_evolution(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    with pytest.raises(ValueError, match="schema drift"):
        tbl.append(spark.range(5).selectExpr("id", "'x' AS other"))
    # add-only evolution is allowed when explicit
    wider = _df(spark, 10, 20).selectExpr("*", "CAST(1 AS INT) AS extra")
    tbl.append(wider, allow_schema_change=True)
    assert "extra" in tbl.read(spark).columns
    # type change is rejected even when explicit
    mutated = _df(spark, 0, 5).selectExpr(
        "CAST(id AS STRING) AS id", "tag", "val")
    with pytest.raises(ValueError, match="ADD columns"):
        tbl.append(mutated, allow_schema_change=True)


def test_empty_table_reads_empty(spark, tbl):
    assert tbl.read(spark).count() == 0
    assert tbl.current_seq() == 0


def test_compaction_rewrites_without_changing_data(spark, tbl):
    for lo in (0, 100, 200, 300):
        tbl.append(_df(spark, lo, lo + 100).repartition(4))
    n_before = len(tbl.snapshot()["files"])
    assert n_before >= 8
    tbl.compact(spark, target_files=2)
    snap = tbl.snapshot()
    assert snap["operation"] == "replace"
    assert len(snap["files"]) <= 2
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == list(range(400))
    # time travel still sees the pre-compaction layout
    assert len(tbl.snapshot(4)["files"]) == n_before


def test_streaming_sink_epoch_idempotence(spark, tbl):
    sink = tbl.streaming_sink("q1")
    sink(_df(spark, 0, 50), 0)
    sink(_df(spark, 50, 90), 1)
    sink(_df(spark, 50, 90), 1)  # retried epoch: must be a no-op
    sink(_df(spark, 0, 50), 0)   # late replay of an old epoch: no-op
    assert tbl.read(spark).count() == 90
    assert tbl.current_seq() == 2
    ops = [e["operation"] for e in tbl.snapshot_log()]
    assert ops == ["append", "append"]
    # a different query tag keeps its own epoch sequence
    tbl.streaming_sink("q2")(_df(spark, 900, 910), 0)
    assert tbl.read(spark).count() == 100


def test_identity_partitioning_roundtrip_and_pruning(spark, tbl):
    df = spark.range(0, 300).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS part", "id * 2 AS val")
    tbl.append(df, partition_by="part")
    # partition column re-derives from the Hive path on read
    got = tbl.read(spark)
    assert set(got.columns) == {"id", "part", "val"}
    assert got.count() == 300
    assert got.where("part = '1'").count() == 100
    # manifest prunes sibling partitions without opening them
    keep, pruned = tbl.plan_files(("part", "=", 1))
    assert pruned >= 2 and all(
        f["partition"]["part"] == "1" for f in keep)
    assert sorted(r["id"] for r in tbl.scan(spark, ("part", "=", 1)).collect()) \
        == [i for i in range(300) if i % 3 == 1]
    # range ops on partition strings are conservatively non-pruning
    _keep_all, pruned_range = tbl.plan_files(("part", ">=", 1))
    assert pruned_range == 0


def test_partition_spec_is_pinned(spark, tbl):
    """The spec is table metadata (Iceberg semantics): a commit with a
    different partition_by must fail loudly — Spark cannot read mixed
    Hive/flat layouts under one basePath."""
    df = spark.range(0, 60).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS part", "id * 2 AS val")
    tbl.append(df, partition_by="part")
    with pytest.raises(ValueError, match="partition spec drift"):
        tbl.append(spark.range(60, 80).selectExpr(
            "id", "'x' AS part", "id * 2 AS val"))  # flat layout
    # same-spec append is fine; compaction preserves the spec
    tbl.append(spark.range(60, 80).selectExpr(
        "id", "'x' AS part", "id * 2 AS val"), partition_by="part")
    assert tbl.read(spark).count() == 80
    tbl.compact(spark, target_files=1)
    got = tbl.read(spark)
    assert got.count() == 80 and got.where("part = 'x'").count() == 20


# ---------------------------------------------------------------------------
# Bloom sidecars, write-order clustering, compound predicates
# ---------------------------------------------------------------------------


def _keyed_df(spark, lo, hi):
    # md5-ish high-cardinality unordered key: every file's [min,max] spans
    # the whole keyspace, so footer stats alone can never prune on it
    return spark.range(lo, hi).selectExpr("id", "md5(cast(id as string)) AS k")


def test_bloom_point_lookup_prunes_where_minmax_cannot(spark, tbl):
    for lo in (0, 1000, 2000):
        tbl.append(_keyed_df(spark, lo, lo + 200).coalesce(1),
                   bloom_cols=["k"])
    import hashlib
    probe = hashlib.md5(b"1100").hexdigest()  # lives only in the 1000-file
    # min/max alone keeps ALL files (hex keys overlap across files)...
    files = tbl.snapshot()["files"]
    for f in files:
        s = f["stats"]["k"]
        assert s["min"] <= probe <= s["max"]  # ranges overlap
    # ...the Bloom prunes to (almost certainly) exactly one
    keep, pruned = tbl.plan_files(("k", "=", probe))
    assert pruned >= 2
    got = tbl.scan(spark, ("k", "=", probe)).collect()
    assert len(got) == 1 and got[0]["id"] == 1100


def test_bloom_no_false_negatives_over_all_keys(spark, tbl):
    tbl.append(_keyed_df(spark, 0, 300).coalesce(1), bloom_cols=["k"])
    tbl.append(_keyed_df(spark, 300, 600).coalesce(1), bloom_cols=["k"])
    import hashlib
    for probe_id in range(0, 600, 37):
        probe = hashlib.md5(str(probe_id).encode()).hexdigest()
        got = tbl.scan(spark, ("k", "=", probe)).collect()
        assert len(got) == 1 and got[0]["id"] == probe_id


def test_sort_by_clusters_files_for_range_pruning(spark, tbl):
    # one shuffled commit, sorted on write into 4 files: per-file ranges
    # become near-disjoint and a point/range predicate prunes most files
    df = spark.range(0, 4000).selectExpr(
        "cast(hash(id) as bigint) AS scatter", "id").orderBy("scatter") \
        .select("id").repartition(4)
    tbl.append(df, sort_by=["id"], sort_files=4)
    files = tbl.snapshot()["files"]
    assert len(files) >= 2
    keep, pruned = tbl.plan_files(("id", "<", 50))
    assert pruned >= len(files) - 1  # all but the first range file skipped
    assert tbl.scan(spark, ("id", "<", 50)).count() == 50
    assert tbl.snapshot().get("sort_by") == ["id"]


def test_compound_predicate_is_conjunctive(spark, tbl):
    for lo in (0, 1000):
        tbl.append(_df(spark, lo, lo + 100, tag="a" if lo == 0 else "z")
                   .coalesce(1))
    keep, pruned = tbl.plan_files([("id", ">=", 1000), ("tag", "=", "z")])
    assert pruned == 1
    got = tbl.scan(spark, [("id", ">=", 1000), ("id", "<", 1010),
                           ("tag", "=", "z")])
    assert sorted(r["id"] for r in got.collect()) == list(range(1000, 1010))
    # contradictory conjunction prunes everything and returns empty
    keep, pruned = tbl.plan_files([("tag", "=", "a"), ("tag", "=", "z")])
    assert keep == [] and pruned == 2
    assert tbl.scan(spark, [("tag", "=", "a"), ("tag", "=", "z")]).count() == 0


# ---------------------------------------------------------------------------
# Manifest-list metadata layer (round 4): O(added) commits, driver-side
# harvest, rebase-on-race, two-level planning
# ---------------------------------------------------------------------------


def test_commit_metadata_is_o_added_not_o_table(spark, tbl):
    """A 1-file append to a 120-file table must write O(1) metadata: one
    manifest holding only the new file, and a snapshot that grows by one
    manifest REFERENCE — never a re-serialized table file list."""
    big = spark.range(0, 12000).selectExpr(
        "id", "'a' AS tag", "id * 2 AS val").repartition(120)
    tbl.append(big)  # 120 files in ONE manifest
    assert len(tbl.snapshot()["files"]) >= 100
    size_after_big = os.path.getsize(tbl._snap_path(1))

    tbl.append(_df(spark, 0, 5).coalesce(1))
    snap2_path = tbl._snap_path(2)
    with open(snap2_path) as f:
        raw2 = json.load(f)
    # on-disk snapshot carries manifest refs, not file entries
    assert "files" not in raw2
    assert len(raw2["manifests"]) == 2
    assert len(raw2["added"]) == 1
    # the commit's own manifest holds exactly its one file
    with open(os.path.join(tbl.meta_dir, raw2["added_manifests"][0])) as f:
        assert len(json.load(f)["entries"]) == 1
    # snapshot growth = one manifest ref, nowhere near 120 file entries
    # (a single file entry with stats serializes to ~300 bytes)
    assert os.path.getsize(snap2_path) - size_after_big < 1500
    # and the appended table still reads fully
    assert tbl.read(spark).count() == 12005


def test_many_file_commit_stats_prune_like_single_file_commits(spark, tbl):
    """A 120-file commit's manifest stats prune exactly as single-file
    commits' do: the footer min/max of every file reaches its entry."""
    df = spark.range(0, 12000).selectExpr("id", "id * 2 AS val")
    tbl.append(df.repartitionByRange(120, "id").sortWithinPartitions("id"))
    keep, pruned = tbl.plan_files(("id", "<", 100))
    assert pruned >= 110  # near-disjoint ranges: almost all files pruned
    assert tbl.scan(spark, ("id", "<", 100)).count() == 100


def test_append_runs_no_spark_job_beyond_the_write(spark, tbl, tmp_path):
    """The footer harvest reads on the driver: a 120-file append runs the
    same Spark jobs as a plain parquet write of the same frame, and no
    extra job to collect manifest entries."""
    sc = spark.sparkContext

    def frame():
        return spark.range(0, 12000).selectExpr(
            "id", "id * 2 AS val").repartition(120)

    def jobs_of(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs_of(f"plain-{id(tbl)}",
                    lambda: frame().write.parquet(str(tmp_path / "plain")))
    ice = jobs_of(f"ice-{id(tbl)}", lambda: tbl.append(frame()))
    assert len(tbl.snapshot()["files"]) == 120
    assert plain >= 1 and ice == plain


def test_append_race_rebases_on_winner_without_losing_files(spark, tbl,
                                                            monkeypatch):
    """Lost-update regression: a loser that retries after a concurrent
    append wins must carry the WINNER's manifests, not the stale parent's
    (the pre-fix code re-committed the file list computed before the race,
    silently dropping the winner's rows)."""
    tbl.append(_df(spark, 0, 10))          # seq 1
    tbl.append(_df(spark, 10, 30, tag="winner"))  # seq 2: the racing winner
    # loser resolves seq 1 first (stale view), loses the CAS for seq 2,
    # retries, and must rebuild its manifest list on top of seq 2
    _stale_commit_view(monkeypatch, tbl, 1)
    snap = tbl.append(_df(spark, 30, 35, tag="loser"))
    assert snap["sequence"] == 3
    got = tbl.read(spark)
    assert got.count() == 35  # 10 + 20 (winner's rows survive) + 5
    assert got.where("tag = 'winner'").count() == 20


def test_lost_append_race_leaves_no_orphan_manifest(spark, tbl, monkeypatch):
    """append writes its manifest once, before the commit: the rebased
    retry reuses it, so the attempt that lost the race leaves no manifest
    that no snapshot references."""
    tbl.append(_df(spark, 0, 10))                  # seq 1
    tbl.append(_df(spark, 10, 30, tag="winner"))   # seq 2
    _stale_commit_view(monkeypatch, tbl, 1)
    snap = tbl.append(_df(spark, 30, 35, tag="loser"))
    assert snap["sequence"] == 3
    assert tbl.remove_orphans(dry_run=True)["orphan_manifests"] == []


def test_nested_type_schema_evolution(spark, tbl):
    """Add-only evolution on a table with nested columns: the DDL diff must
    split on depth-0 commas only (struct<a:int,b:string> would break a
    naive split)."""
    df = spark.sql(
        "SELECT id, named_struct('a', id, 'b', CAST(id AS STRING)) AS s, "
        "map('k', id) AS m FROM range(10)")
    tbl.append(df)
    wider = spark.sql(
        "SELECT id, named_struct('a', id, 'b', CAST(id AS STRING)) AS s, "
        "map('k', id) AS m, CAST(1 AS INT) AS extra FROM range(10, 20)")
    tbl.append(wider, allow_schema_change=True)
    assert "extra" in tbl.read(spark).columns
    assert tbl.read(spark).count() == 20
    mutated = spark.sql(
        "SELECT id, named_struct('a', CAST(id AS STRING)) AS s, "
        "map('k', id) AS m FROM range(5)")
    with pytest.raises(ValueError, match="ADD columns"):
        tbl.append(mutated, allow_schema_change=True)


def test_quote_bearing_string_predicates(spark, tbl):
    """Predicates are Column expressions, not SQL splicing: literals with
    quotes must scan correctly."""
    df = spark.sql(
        "SELECT * FROM VALUES (1, \"o'brien\"), (2, 'plain'), "
        "(3, 'al\"so') AS t(id, tag)")
    tbl.append(df.coalesce(1))
    got = tbl.scan(spark, ("tag", "=", "o'brien")).collect()
    assert len(got) == 1 and got[0]["id"] == 1
    got = tbl.scan(spark, ("tag", "=", 'al"so')).collect()
    assert len(got) == 1 and got[0]["id"] == 3


def test_manifest_level_pruning_never_loads_pruned_manifests(spark, tbl,
                                                             monkeypatch):
    """Two-level planning: a predicate excluded by the manifest-list
    aggregates must prune the whole manifest WITHOUT reading its entries —
    at 10^6 files this is what keeps planning off the metadata floor."""
    for lo in (0, 1000, 2000):
        tbl.append(_df(spark, lo, lo + 100).coalesce(1))
    loads = []
    real_load = tbl._load_manifest

    def counting_load(path):
        loads.append(path)
        return real_load(path)

    monkeypatch.setattr(tbl, "_load_manifest", counting_load)
    detail = tbl.plan(("id", ">=", 2000))
    assert detail["pruned_manifests"] == 2
    assert detail["scanned_manifests"] == 1
    assert len(loads) == 1  # pruned manifests were never opened
    assert len(detail["files"]) == 1


def test_in_predicate_partition_and_stats_pruning(spark, tbl):
    # partitioned table: one Hive dir per tag
    df = spark.range(0, 90).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS tag", "id * 2 AS val")
    tbl.append(df, partition_by="tag")
    plan = tbl.plan(("tag", "in", ["0", "2"]))
    assert plan["pruned_files"] > 0  # tag=1 partition never opened
    got = tbl.scan(spark, ("tag", "in", ["0", "2"]))
    assert got.count() == 60
    assert set(r["tag"] for r in got.select("tag").distinct().collect()) == {"0", "2"}
    # stats-level IN on an unpartitioned numeric column
    t2 = IceTable(tbl.path + "_stats")
    for lo in (0, 100, 200):
        t2.append(spark.range(lo, lo + 50).coalesce(1)
                  .selectExpr("id", "id * 2 AS val"))
    plan2 = t2.plan(("id", "in", [5, 7]))
    assert plan2["pruned_files"] == 2  # files [100,150) and [200,250) excluded
    assert t2.scan(spark, ("id", "in", [5, 7])).count() == 2


def test_in_predicate_bloom_pruning(spark, tbl):
    for tag in ("alpha", "beta", "gamma"):
        tbl.append(
            spark.range(0, 20).selectExpr("id", f"'{tag}' AS tag"),
            bloom_cols=["tag"],
        )
    plan = tbl.plan(("tag", "in", ["alpha", "nosuch"]))
    # min/max can't split single-value files apart, Bloom can
    assert plan["pruned_files"] >= 2
    assert tbl.scan(spark, ("tag", "in", ["alpha", "nosuch"])).count() == 20


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg partition evolution: commit 1 unpartitioned, commit 2 under
    partition_by (opt-in flag) — old files keep their flat layout, new
    files land Hive-style, and every read path sees both eras with the
    partition column populated (from data for era 1, from the path for
    era 2). Pruning on the partition column works per era: partition-value
    match for Hive files, footer stats for flat files."""
    from pyspark.sql import functions as F

    era1 = spark.range(100).select(
        F.col("id").alias("event_id"), F.lit("en").alias("lang"))
    era2 = spark.range(100, 200).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "de").otherwise("fr").alias("lang"))
    t = IceTable(str(tmp_path / "t"))
    t.append(era1)
    with pytest.raises(ValueError, match="spec drift"):
        t.append(era2, partition_by="lang")
    t.append(era2, partition_by="lang", allow_spec_change=True)

    got = t.read(spark)
    assert got.count() == 200
    assert got.filter(F.col("lang") == "en").count() == 100
    assert got.filter(F.col("lang") == "de").count() == 50

    # scan pruning: lang='de' keeps only the de partition of era 2 plus any
    # era-1 file whose footer range may contain 'de' (era 1 is all-'en' so
    # its stats exclude 'de')
    keep, pruned = t.plan_files(("lang", "=", "de"))
    assert pruned >= 2, f"evolved-table pruning inert: pruned={pruned}"
    rows = t.scan(spark, ("lang", "=", "de")).collect()
    assert len(rows) == 50 and all(r.lang == "de" for r in rows)


def test_tags_pin_snapshots_by_name(spark, tbl):
    """Iceberg named refs: tag('v1') reads by name while the table moves on,
    and re-tagging an existing name raises."""
    tbl.append(_df(spark, 0, 100))
    tbl.tag("v1")
    tbl.overwrite(_df(spark, 0, 10, tag="v2data"))
    tbl.overwrite(_df(spark, 0, 5, tag="v3data"))
    assert tbl.tags() == {"v1": 1}
    assert tbl.read(spark, tag="v1").count() == 100
    with pytest.raises(FileExistsError):
        tbl.tag("v1", 2)
    with pytest.raises(ValueError, match="no such tag"):
        tbl.read(spark, tag="nope")


def test_isnull_pruning_from_footer_null_counts(spark, tbl):
    """IS NULL / IS NOT NULL predicates: files whose footer null count is
    zero are pruned for isnull (at both metadata levels); notnull stays
    conservative; results exact either way."""
    from pyspark.sql import functions as F

    dense = spark.range(100).select(
        F.col("id"), F.col("id").cast("string").alias("note"))
    sparse = spark.range(100, 200).select(
        "id",
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id").cast("string")).alias("note"))
    tbl.append(dense.coalesce(1))
    tbl.append(sparse.coalesce(1))
    keep, pruned = tbl.plan_files(("note", "isnull", None))
    assert pruned == 1  # the dense file has nulls == 0
    rows = tbl.scan(spark, ("note", "isnull", None)).collect()
    assert sorted(r.id for r in rows) == list(range(100, 200, 10))
    keep_nn, pruned_nn = tbl.plan_files(("note", "notnull", None))
    assert pruned_nn == 0  # conservative
    assert tbl.scan(spark, ("note", "notnull", None)).count() == 190


# -- concurrent-writer conflict matrix -------------------------------------


def test_race_compact_aborts_on_moved_parent(spark, tbl, monkeypatch):
    """compact() computes its manifest list from a specific parent; a
    writer landing between planning and commit must surface as
    CommitConflict, not silently drop the racer's files."""
    tbl.append(_df(spark, 0, 50))   # seq 1
    tbl.append(_df(spark, 50, 80))  # seq 2
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    with pytest.raises(CommitConflict, match="re-plan"):
        tbl.compact(spark)


# -- remove_orphan_files maintenance ----------------------------------------


def _walk(d):
    return sorted(
        os.path.relpath(os.path.join(r, fn), d)
        for r, _dirs, fs in os.walk(d) for fn in fs)


def test_remove_orphans_only_touches_unreferenced(spark, tbl, tmp_path):
    tbl.append(_df(spark, 0, 50), bloom_cols=["tag"])
    tbl.append(_df(spark, 50, 80))
    before_data = _walk(tbl.data_dir)
    before_meta = _walk(tbl.meta_dir)
    # clean table: nothing to do
    assert tbl.remove_orphans(dry_run=True)["n_orphans"] == 0
    # inject a torn-write data file + lost-race manifest + stray sidecar
    import shutil as _sh
    _sh.copyfile(os.path.join(tbl.data_dir, before_data[0]),
                 os.path.join(tbl.data_dir, "feedface-00099.parquet"))
    with open(os.path.join(tbl.meta_dir, "manifest-feedface.json"), "w") as f:
        json.dump([], f)
    with open(os.path.join(tbl.meta_dir, "puffin", "stray.bloom.json"),
              "w") as f:
        json.dump({"m": 8, "k": 1, "bits": []}, f)
    dry = tbl.remove_orphans(dry_run=True)
    assert dry["n_orphans"] == 3 and dry["dry_run"]
    assert dry["orphan_data_files"] == ["feedface-00099.parquet"]
    # dry run deleted nothing
    assert "feedface-00099.parquet" in _walk(tbl.data_dir)
    real = tbl.remove_orphans()
    assert real["n_orphans"] == 3
    assert _walk(tbl.data_dir) == before_data
    assert _walk(tbl.meta_dir) == before_meta
    assert tbl.read(spark).count() == 80
    assert tbl.read(spark, seq=1).count() == 50  # time travel intact


def test_harvest_records_null_counts_of_all_null_columns(spark, tbl):
    """An all-null column has a footer null count but no min/max: the entry
    records the count under ``null_value_counts`` (Iceberg's field of that
    name) and still gets no ``stats`` entry, so it is never pruned on."""
    df = spark.createDataFrame([(i, None) for i in range(5)],
                               "id long, note string").coalesce(1)
    (entry,) = tbl.append(df)["files"]
    assert entry["null_value_counts"] == {"id": 0, "note": 5}
    assert "note" not in entry["stats"] and entry["stats"]["id"]["nulls"] == 0
