"""IceTable (sources/icetable.py): snapshot isolation, time travel,
incremental reads, manifest min/max pruning, optimistic-commit conflicts
and schema pinning — the Iceberg-semantics subset the north rule's
checkpoint/lineage contract needs, over plain parquet."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from deepdoctection_spark.sources.icetable import CommitConflict, IceTable


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{tag}' AS tag", "id * 2 AS val")


@pytest.fixture()
def tbl(tmp_path):
    return IceTable(str(tmp_path / "tbl"))


def test_append_and_snapshot_read(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 150, tag="b"))
    assert tbl.read(spark).count() == 150
    assert tbl.current_seq() == 2
    h = tbl.history()
    assert [e["operation"] for e in h] == ["append", "append"]
    assert h[1]["parent"] == h[0]["snapshot_id"]
    assert h[1]["total_rows"] == 150


def test_time_travel_and_overwrite(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.overwrite(_df(spark, 0, 10, tag="ow"))
    assert tbl.read(spark).count() == 10
    assert tbl.read(spark, seq=1).count() == 100  # old snapshot intact
    assert {r["tag"] for r in tbl.read(spark, seq=2).collect()} == {"ow"}


def test_incremental_read_is_exactly_the_delta(spark, tbl):
    tbl.append(_df(spark, 0, 50))
    tbl.append(_df(spark, 50, 80))
    tbl.append(_df(spark, 80, 90))
    inc = tbl.read_incremental(spark, after_seq=1, until_seq=3)
    assert sorted(r["id"] for r in inc.collect()) == list(range(50, 90))


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
    real_current_seq = tbl.current_seq

    # a writer with a permanently stale view: every retry targets seq 2,
    # which a concurrent winner already committed → exclusive create loses
    # 5 times → CommitConflict
    blocker = {"sequence": 2, "snapshot_id": "x", "parent": None,
               "operation": "append",
               "schema": "id bigint,tag string,val bigint",
               "added": [], "manifests": [], "delete_manifests": [],
               "ts_ms": 0}
    with open(tbl._snap_path(2), "w") as f:
        json.dump(blocker, f)
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    with pytest.raises(CommitConflict):
        tbl.append(_df(spark, 10, 20))

    # loser-retries-and-wins path: first resolution is stale (sees 1, loses
    # the race for 2), the retry re-resolves and lands on 3
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real_current_seq()

    monkeypatch.setattr(tbl, "current_seq", stale_once)
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
    # incremental consumers never re-see compacted rows
    assert tbl.read_incremental(spark, after_seq=4).count() == 0


def test_streaming_sink_epoch_idempotence(spark, tbl):
    sink = tbl.streaming_sink("q1")
    sink(_df(spark, 0, 50), 0)
    sink(_df(spark, 50, 90), 1)
    sink(_df(spark, 50, 90), 1)  # retried epoch: must be a no-op
    sink(_df(spark, 0, 50), 0)   # late replay of an old epoch: no-op
    assert tbl.read(spark).count() == 90
    assert tbl.current_seq() == 2
    ops = [(e["operation"]) for e in tbl.history()]
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


# --- row-level ops (copy-on-write) ------------------------------------------


def test_delete_where_rewrites_only_candidate_files(spark, tbl):
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.append(_df(spark, 100, 200).coalesce(1))
    tbl.append(_df(spark, 200, 300).coalesce(1))
    snap = tbl.delete_where(spark, ("id", "<", 50))
    assert snap["operation"] == "delete"
    assert snap["carried_files"] == 2 and snap["rewrote_files"] == 1
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == list(
        range(50, 300))
    # time travel: pre-delete snapshot still has the rows
    assert tbl.read(spark, seq=3).count() == 300


def test_delete_where_null_predicate_rows_survive(spark, tbl):
    df = spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (CAST(NULL AS BIGINT), 'c')"
        " AS t(id, tag)")
    tbl.append(df.coalesce(1))
    tbl.delete_where(spark, ("id", "<", 2))
    tags = sorted(
        r["tag"] for r in tbl.read(spark).collect())
    # id=1 deleted; NULL id is NOT TRUE under the predicate -> kept
    assert tags == ["b", "c"]


def test_delete_entire_file_leaves_no_empty_entry(spark, tbl):
    tbl.append(_df(spark, 0, 10).coalesce(1))
    tbl.append(_df(spark, 100, 110).coalesce(1))
    snap = tbl.delete_where(spark, ("id", "<", 50))
    assert len(snap["files"]) == 1  # emptied file not re-listed
    assert tbl.read(spark).count() == 10


def test_merge_upsert_updates_inserts_and_carries(spark, tbl):
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.append(_df(spark, 100, 200).coalesce(1))
    src = spark.sql(
        "SELECT id, 'upd' AS tag, id * 10 AS val FROM range(150, 160)"
        " UNION ALL "
        "SELECT id, 'new' AS tag, id * 10 AS val FROM range(500, 505)")
    snap = tbl.merge_upsert(spark, src, "id")
    assert snap["operation"] == "merge"
    assert snap["carried_files"] == 1 and snap["rewrote_files"] == 1
    rows = {r["id"]: r for r in tbl.read(spark).collect()}
    assert len(rows) == 205
    assert rows[155]["tag"] == "upd" and rows[155]["val"] == 1550  # replaced
    assert rows[42]["tag"] == "a" and rows[42]["val"] == 84  # untouched
    assert rows[502]["tag"] == "new"  # inserted
    # time travel: pre-merge value intact
    old = {r["id"]: r for r in tbl.read(spark, seq=2).collect()}
    assert old[155]["val"] == 310 and 502 not in old


def test_merge_upsert_empty_source_is_noop(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    before = tbl.current_seq()
    tbl.merge_upsert(spark, _df(spark, 0, 0), "id")
    assert tbl.current_seq() == before


def test_merge_upsert_schema_drift_rejected(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    bad = spark.range(0, 5).selectExpr("id", "'x' AS wrong_col")
    with pytest.raises(ValueError, match="schema drift"):
        tbl.merge_upsert(spark, bad, "id")


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
        assert s["min"] <= probe <= s["max"] or True  # ranges overlap
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


def test_executor_harvest_matches_driver_harvest_stats(spark, tbl):
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
    real = tbl.current_seq
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real()

    # loser resolves seq 1 first (stale view), loses the CAS for seq 2,
    # retries, and must rebuild its manifest list on top of seq 2
    monkeypatch.setattr(tbl, "current_seq", stale_once)
    snap = tbl.append(_df(spark, 30, 35, tag="loser"))
    assert snap["sequence"] == 3
    got = tbl.read(spark)
    assert got.count() == 35  # 10 + 20 (winner's rows survive) + 5
    assert got.where("tag = 'winner'").count() == 20


def test_row_level_op_race_raises_commit_conflict(spark, tbl, monkeypatch):
    """delete/merge plan their rewrite against a specific parent; a lost
    commit race must surface as CommitConflict, never a silent rebase that
    could resurrect deleted rows."""
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.append(_df(spark, 100, 200).coalesce(1))  # seq 2 = racing winner
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    with pytest.raises(CommitConflict, match="re-plan"):
        tbl.delete_where(spark, ("id", "<", 50))


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
    quotes must scan and delete correctly."""
    df = spark.sql(
        "SELECT * FROM VALUES (1, \"o'brien\"), (2, 'plain'), "
        "(3, 'al\"so') AS t(id, tag)")
    tbl.append(df.coalesce(1))
    got = tbl.scan(spark, ("tag", "=", "o'brien")).collect()
    assert len(got) == 1 and got[0]["id"] == 1
    tbl.delete_where(spark, ("tag", "=", 'al"so'))
    assert sorted(r["tag"] for r in tbl.read(spark).collect()) == [
        "o'brien", "plain"]


def test_compound_key_merge_prunes_on_every_key_column(spark, tbl):
    """Two-key merge: file B overlaps the source on key[0] but is disjoint
    on key[1] — the compound intersection must carry it (the key[0]-only
    plan would rewrite it)."""
    file_a = spark.sql(
        "SELECT id AS k1, id AS k2, 'a' AS tag FROM range(0, 100)")
    file_b = spark.sql(
        "SELECT id AS k1, id + 1000 AS k2, 'b' AS tag FROM range(0, 100)")
    tbl.append(file_a.coalesce(1))
    tbl.append(file_b.coalesce(1))
    src = spark.sql(
        "SELECT id AS k1, id AS k2, 'upd' AS tag FROM range(10, 20)")
    snap = tbl.merge_upsert(spark, src, ["k1", "k2"])
    # k1 spans overlap for BOTH files; k2 [1000,1099] is disjoint from
    # source k2 [10,19] -> file B carried by the second key column alone
    assert snap["carried_files"] == 1 and snap["rewrote_files"] == 1
    rows = {(r["k1"], r["k2"]): r["tag"] for r in tbl.read(spark).collect()}
    assert rows[(15, 15)] == "upd" and rows[(15, 1015)] == "b"
    assert len(rows) == 200


def test_merge_with_temporal_key_column(spark, tbl):
    """Date/timestamp merge keys: footer stats store ISO strings; the
    source's min/max arrive as datetime objects and must compare in the
    same space instead of raising TypeError."""
    df = spark.sql(
        "SELECT DATE'2024-01-01' + CAST(id AS INT) AS d, id AS v "
        "FROM range(0, 10)")
    tbl.append(df.coalesce(1))
    far = spark.sql(
        "SELECT DATE'2030-01-01' + CAST(id AS INT) AS d, id + 100 AS v "
        "FROM range(0, 5)")
    snap = tbl.merge_upsert(spark, far, "d")  # disjoint: pure insert
    assert snap["carried_files"] == 1 and snap["rewrote_files"] == 0
    assert tbl.read(spark).count() == 15
    upd = spark.sql(
        "SELECT DATE'2024-01-03' AS d, CAST(999 AS BIGINT) AS v")
    tbl.merge_upsert(spark, upd, "d")
    rows = {str(r["d"]): r["v"] for r in tbl.read(spark).collect()}
    assert rows["2024-01-03"] == 999 and len(rows) == 15


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


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """zorder_by gives BOTH columns file-level locality: a box predicate
    and each single-column predicate prune files, where plain sort_by only
    serves its prefix column (a value-only scan over a user_id-sorted
    table prunes nothing)."""
    from pyspark.sql import functions as F

    ev = (
        spark.range(4000)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 149).alias("user_id"),
            (F.pmod(F.col("id") * 37, F.lit(500)) / 1.0).alias("value"),
        )
        .repartition(8)
    )
    zt = IceTable(str(tmp_path / "z"))
    zt.append(ev, zorder_by=["user_id", "value"], sort_files=16)
    st = IceTable(str(tmp_path / "s"))
    st.append(ev, sort_by=["user_id"], sort_files=16)

    box = [("user_id", ">=", 100), ("user_id", "<", 120),
           ("value", ">=", 10.0), ("value", "<", 100.0)]
    y_only = [("value", ">=", 10.0), ("value", "<", 100.0)]
    assert zt.plan_files(box)[1] >= 6
    assert zt.plan_files(y_only)[1] >= 1
    assert st.plan_files(y_only)[1] == 0  # sort prefix can't serve dim 2

    # pruning must stay exact: scan == full filter
    got = sorted(r.event_id for r in zt.scan(spark, box).collect())
    want = sorted(
        r.event_id
        for r in ev.filter(
            (F.col("user_id") >= 100) & (F.col("user_id") < 120)
            & (F.col("value") >= 10.0) & (F.col("value") < 100.0)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_zorder_row_identity_and_exclusivity(spark, tmp_path):
    from pyspark.sql import functions as F

    ev = spark.range(500).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 97).alias("b"))
    t = IceTable(str(tmp_path / "t"))
    t.append(ev, zorder_by=["a", "b"], sort_files=4)
    assert sorted(t.read(spark).collect()) == sorted(ev.collect())
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exclusive"):
        IceTable(str(tmp_path / "t2")).append(
            ev, zorder_by=["a"], sort_by=["b"])
    with _pytest.raises(ValueError, match="1-4"):
        IceTable(str(tmp_path / "t3")).append(
            ev, zorder_by=["a", "b", "a", "b", "a"])


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

    # incremental read across the evolution boundary
    inc = t.read_incremental(spark, after_seq=1)
    assert inc.count() == 100 and inc.filter("lang = 'en'").count() == 0


def test_tags_pin_snapshots_through_expiry(spark, tbl):
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


def test_zorder_rejects_strings_accepts_timestamps(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").alias("a"),
        F.col("id").cast("string").alias("s"),
        (F.lit("2024-01-01").cast("timestamp")
         + F.make_interval(hours=F.col("id"))).alias("ts"))
    with pytest.raises(ValueError, match="min-max bucket space"):
        IceTable(str(tmp_path / "bad")).append(df, zorder_by=["a", "s"])
    t = IceTable(str(tmp_path / "ok"))
    t.append(df, zorder_by=["a", "ts"], sort_files=4)
    assert sorted(r.a for r in t.read(spark).collect()) == list(range(200))


# -- merge-on-read row-level ops (Iceberg v2 delete files) -----------------


def _data_bytes(tbl):
    total = 0
    for root, _dirs, files in os.walk(tbl.data_dir):
        total += sum(os.path.getsize(os.path.join(root, fn))
                     for fn in files if fn.endswith(".parquet"))
    return total


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mor_delete_writes_o1_bytes_and_matches_cow(spark, tmp_path):
    """The MoR contract: a 1-row delete into a 500-row file writes O(1)
    data bytes (a tiny positional delete file, NO data rewrite), and the
    pre-compaction MoR read equals the CoW result row-for-row."""
    cow = IceTable(str(tmp_path / "cow"))
    mor = IceTable(str(tmp_path / "mor"))
    for t in (cow, mor):
        t.append(_df(spark, 0, 500).coalesce(1))
    base_bytes = _data_bytes(mor)
    scow = cow.delete_where(spark, ("id", "=", 137), mode="cow")
    smor = mor.delete_where(spark, ("id", "=", 137), mode="mor")
    assert scow["rewrote_files"] == 1
    assert smor["rewrote_files"] == 0 and smor["delete_rows"] == 1
    assert smor["delete_targets"] == 1
    written = _data_bytes(mor) - base_bytes
    # CoW rewrote the whole 500-row file; MoR wrote one (file,pos) row —
    # orders of magnitude apart even at toy scale
    assert written < base_bytes // 3, (written, base_bytes)
    assert _sorted_rows(mor.read(spark)) == _sorted_rows(cow.read(spark))
    assert mor.read(spark).count() == 499


def test_mor_delete_stacks_and_time_travels(spark, tbl):
    """Stacked positional deletes bind independently; time travel to any
    pre-delete snapshot resurrects exactly that snapshot's rows."""
    tbl.append(_df(spark, 0, 100).coalesce(1))        # seq 1
    tbl.append(_df(spark, 100, 200).coalesce(1))      # seq 2
    tbl.delete_where(spark, ("id", "<", 10), mode="mor")    # seq 3
    tbl.delete_where(spark, ("id", ">=", 190), mode="mor")  # seq 4
    assert tbl.read(spark).count() == 180
    assert tbl.read(spark, seq=3).count() == 190  # second delete not yet
    assert tbl.read(spark, seq=2).count() == 200
    ids = {r.id for r in tbl.read(spark).select("id").collect()}
    assert ids == set(range(10, 190))


def test_mor_delete_null_predicate_rows_survive(spark, tbl):
    """SQL DELETE semantics in MoR mode: rows where the predicate is NULL
    are retained (only TRUE rows get delete positions)."""
    df = spark.sql(
        "SELECT * FROM VALUES (1, 10), (2, NULL), (3, 30) AS t(id, v)")
    tbl.append(df.coalesce(1))
    tbl.delete_where(spark, ("v", ">", 5), mode="mor")
    got = {r.id for r in tbl.read(spark).collect()}
    assert got == {2}


def test_mor_merge_matches_cow_and_guards_new_rows(spark, tmp_path):
    """Equality-delete MERGE equals the CoW MERGE row-for-row with ZERO
    rewritten files, and the data_seq guard keeps rows written AT or
    AFTER the delete's sequence unmasked: the merge's own inserted rows
    share keys with the delete file and must survive."""
    cow = IceTable(str(tmp_path / "cow"))
    mor = IceTable(str(tmp_path / "mor"))
    for t in (cow, mor):
        t.append(_df(spark, 0, 100).coalesce(1))
        t.append(_df(spark, 100, 200).coalesce(1))
    src = _df(spark, 50, 150, tag="upd")  # overlaps both files
    scow = cow.merge_upsert(spark, src, "id", mode="cow")
    smor = mor.merge_upsert(spark, src, "id", mode="mor")
    assert scow["rewrote_files"] == 2
    assert smor["rewrote_files"] == 0 and smor["carried_files"] == 2
    assert smor["row_op_mode"] == "merge-on-read"
    assert _sorted_rows(mor.read(spark)) == _sorted_rows(cow.read(spark))
    assert mor.read(spark).where("tag = 'upd'").count() == 100
    # a LATER append with the same keys must not be masked by the older
    # equality delete (its data_seq exceeds the delete_seq)
    mor.append(_df(spark, 50, 60, tag="after"))
    assert mor.read(spark).where("tag = 'after'").count() == 10


def test_mor_merge_key_range_disjoint_files_scan_clean(spark, tbl):
    """Files whose key range is disjoint from the equality-delete span are
    bound to NO delete at plan time: the binding criterion (older than the
    delete AND key ranges overlap) must hold for the high-range file only,
    and the read stays exact."""
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.append(_df(spark, 1000, 1100).coalesce(1))
    tbl.merge_upsert(spark, _df(spark, 1000, 1010, tag="u"), "id",
                     mode="mor")
    raw = tbl._raw_snapshot()
    files = tbl._snap_files(raw)
    dels = [d for d in tbl._delete_entries(raw) if d["kind"] == "eq"]
    assert len({(d["delete_seq"], tuple(d["eq_cols"])) for d in dels}) == 1

    def bound(f):  # the reader's plan-time binding criterion, any entry
        def one(d):
            if (f.get("data_seq") or 0) >= d["delete_seq"]:
                return False
            fs, ds = f["stats"]["id"], d["stats"]["id"]
            return not (fs["max"] < ds["min"] or fs["min"] > ds["max"])
        return any(one(d) for d in dels)

    bound_files = [f for f in files if bound(f)]
    assert len(bound_files) == 1  # only the old high-range file
    assert bound_files[0]["stats"]["id"]["min"] >= 1000
    got = tbl.read(spark)
    assert got.count() == 200
    assert got.where("tag = 'u'").count() == 10


def test_mor_compact_folds_deletes_physically(spark, tbl):
    """compact() must apply pending delete files while rewriting and drop
    every delete manifest — the post-compaction table is byte-equal with
    zero delete state left."""
    tbl.append(_df(spark, 0, 300).coalesce(1))
    tbl.delete_where(spark, ("id", "<", 50), mode="mor")
    tbl.merge_upsert(spark, _df(spark, 100, 120, tag="m"), "id", mode="mor")
    before = _sorted_rows(tbl.read(spark))
    snap = tbl.compact(spark, target_files=1)
    assert snap["delete_manifests"] == []
    assert _sorted_rows(tbl.read(spark)) == before


def test_mor_then_cow_materializes_pending_deletes(spark, tbl):
    """A CoW rewrite over files with pending MoR deletes must apply them
    while rewriting (no resurrection), and the rewritten files must not be
    re-masked by the carried delete manifests."""
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.delete_where(spark, ("id", "=", 7), mode="mor")
    tbl.delete_where(spark, ("id", ">=", 90), mode="cow")
    ids = {r.id for r in tbl.read(spark).select("id").collect()}
    assert ids == set(range(0, 90)) - {7}


def test_mor_incremental_read_applies_window_deletes(spark, tbl):
    """Incremental consumption across a window containing a MoR delete
    must not re-surface masked rows."""
    tbl.append(_df(spark, 0, 100).coalesce(1))           # seq 1
    tbl.append(_df(spark, 100, 200).coalesce(1))         # seq 2
    tbl.delete_where(spark, ("id", "<", 110), mode="mor")  # seq 3
    inc = tbl.read_incremental(spark, after_seq=1)
    assert {r.id for r in inc.select("id").collect()} == set(range(110, 200))


# -- concurrent-writer conflict matrix -------------------------------------


def test_race_append_vs_append_both_land(spark, tbl, monkeypatch):
    """Two appends race: the loser rebases onto the winner and BOTH land."""
    tbl.append(_df(spark, 0, 10))                       # seq 1
    tbl.append(_df(spark, 10, 30, tag="winner"))        # seq 2
    real = tbl.current_seq
    calls = {"n": 0}
    monkeypatch.setattr(
        tbl, "current_seq",
        lambda: 1 if (calls.__setitem__("n", calls["n"] + 1)
                      or calls["n"] == 1) else real())
    snap = tbl.append(_df(spark, 30, 40, tag="loser"))
    assert snap["sequence"] == 3
    assert tbl.read(spark).count() == 40


def test_race_append_vs_mor_delete_both_land_correctly(spark, tbl,
                                                       monkeypatch):
    """Append racing a merge-on-read equality delete: the delete lands
    first, the append rebases past it — both land, and the re-stamped
    data_seq keeps the appended rows (which share keys with the delete)
    UNMASKED. A stale data_seq would wrongly subject them to the delete."""
    tbl.append(_df(spark, 0, 100).coalesce(1))                    # seq 1
    tbl.merge_upsert(spark, _df(spark, 0, 50, tag="m"), "id",
                     mode="mor")                                   # seq 2
    real = tbl.current_seq
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real()

    monkeypatch.setattr(tbl, "current_seq", stale_once)
    snap = tbl.append(_df(spark, 0, 20, tag="late"))               # seq 3
    assert snap["sequence"] == 3
    got = tbl.read(spark)
    assert got.where("tag = 'late'").count() == 20  # NOT masked
    assert got.where("tag = 'm'").count() == 50
    assert got.count() == 100 + 20  # 50 originals masked, 50 merged, 20 late


def test_race_two_deletes_second_aborts(spark, tbl, monkeypatch):
    """Two row-level deletes planned against the same parent: the second
    must abort with CommitConflict even though its predicate touches the
    same file — never a silent rebase (CoW and MoR alike)."""
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.delete_where(spark, ("id", "<", 10))  # seq 2 lands
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    for mode in ("cow", "mor"):
        with pytest.raises(CommitConflict, match="re-plan"):
            tbl.delete_where(spark, ("id", "<", 20), mode=mode)


def test_race_compact_aborts_on_moved_parent(spark, tbl, monkeypatch):
    """compact() computes its manifest list from a specific parent; a
    writer landing between planning and commit must surface as
    CommitConflict, not silently drop the racer's files."""
    tbl.append(_df(spark, 0, 50))   # seq 1
    tbl.append(_df(spark, 50, 80))  # seq 2
    monkeypatch.setattr(tbl, "current_seq", lambda: 1)
    with pytest.raises(CommitConflict, match="re-plan"):
        tbl.compact(spark)


# ---------------------------------------------------------------------------
# metadata-only aggregation (Iceberg metadata-table scan)
# ---------------------------------------------------------------------------


def test_metadata_agg_matches_full_scan(spark, tbl):
    tbl.append(_df(spark, 0, 60), partition_by="tag")
    tbl.append(_df(spark, 60, 100, tag="b"), partition_by="tag")
    tbl.delete_where(spark, ("id", "<", 10), mode="cow")
    meta = {
        r["partition"]: r
        for r in tbl.metadata_agg(spark, cols=["id"]).collect()
    }
    full = {
        r["tag"]: r
        for r in tbl.read(spark)
        .groupBy("tag")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("id").alias("id_min"),
            F.max("id").alias("id_max"),
        )
        .collect()
    }
    assert set(meta) == set(full) == {"a", "b"}
    for k in full:
        assert meta[k]["n_rows"] == full[k]["n_rows"]
        assert meta[k]["id_min"] == full[k]["id_min"]
        assert meta[k]["id_max"] == full[k]["id_max"]
        assert meta[k]["id_nulls"] == 0
        assert meta[k]["n_files"] >= 1
    # n_files is exactly the live planning view — zero data reads needed
    assert sum(r["n_files"] for r in meta.values()) == len(tbl.plan_files()[0])


def test_metadata_agg_refuses_pending_mor_deletes(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.delete_where(spark, ("id", "=", 5), mode="mor")
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.metadata_agg(spark)
    tbl.compact(spark)
    rows = tbl.metadata_agg(spark).collect()
    assert rows[0]["n_rows"] == 99  # compaction folded the delete in


def test_metadata_agg_refuses_statless_column(spark, tbl):
    tbl.append(_df(spark, 0, 10).selectExpr("id", "cast(null as string) AS s"))
    with pytest.raises(ValueError, match="no footer stats"):
        tbl.metadata_agg(spark, cols=["s"])


# ---------------------------------------------------------------------------
# snapshot changelog (CDC)
# ---------------------------------------------------------------------------


def _changed(spark, tbl, from_seq, to_seq=None):
    rows = tbl.changes(spark, from_seq, to_seq).collect()
    return (
        sorted(r["id"] for r in rows if r["_change_type"] == "insert"),
        sorted(r["id"] for r in rows if r["_change_type"] == "delete"),
    )


def test_changes_append_only_window(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    tbl.append(_df(spark, 10, 15))
    ins, dels = _changed(spark, tbl, 1)
    assert ins == list(range(10, 15)) and dels == []


def test_changes_cow_rewrite_nets_to_deleted_rows_only(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.delete_where(spark, ("id", "<", 5), mode="cow")
    ins, dels = _changed(spark, tbl, 1)
    # the rewrite moved 95 surviving rows to new files; they must net out
    assert ins == [] and dels == [0, 1, 2, 3, 4]


def test_changes_mor_binding_change_exposes_carried_file(spark, tbl):
    tbl.append(_df(spark, 0, 100))
    tbl.delete_where(spark, ("id", "=", 7), mode="mor")
    ins, dels = _changed(spark, tbl, 1)
    assert ins == [] and dels == [7]


def test_changes_overwrite_and_reverse_window(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    tbl.overwrite(_df(spark, 5, 12, tag="ow"))
    ins, dels = _changed(spark, tbl, 1)
    assert ins == list(range(5, 12)) and dels == list(range(0, 10))
    # empty window
    ins, dels = _changed(spark, tbl, 2, 2)
    assert ins == [] and dels == []


def test_changes_skips_untouched_files(spark, tbl, monkeypatch):
    tbl.append(_df(spark, 0, 50))        # untouched throughout
    tbl.append(_df(spark, 50, 60))
    tbl.append(_df(spark, 60, 70))
    from deepdoctection_spark.sources.icetable import IceTable as IT

    seen: list[str] = []
    orig = IT._read_files

    def spy(self, spark_, schema, files, lineage=False):
        seen.extend(f["path"] for f in files)
        return orig(self, spark_, schema, files, lineage=lineage)

    monkeypatch.setattr(IT, "_read_files", spy)
    ins, dels = _changed(spark, tbl, 2)
    assert ins == list(range(60, 70)) and dels == []
    first_commit = {f["path"] for f in tbl._load_manifest(
        tbl._raw_snapshot(1)["manifests"][0]["path"])}
    assert not (set(seen) & first_commit)  # snapshot-1 files never read


def test_changes_refuses_schema_evolution(spark, tbl):
    tbl.append(_df(spark, 0, 10))
    tbl.append(
        _df(spark, 10, 20).withColumn("extra", F.lit(1)),
        allow_schema_change=True,
    )
    with pytest.raises(ValueError, match="schema evolved"):
        tbl.changes(spark, 1)


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


def test_remove_orphans_spares_mor_deletes_and_branches(spark, tbl):
    tbl.append(_df(spark, 0, 60))
    tbl.delete_where(spark, ("id", "<", 10), mode="mor")
    # MoR delete files and their manifests are referenced, not orphans
    assert tbl.remove_orphans(dry_run=True)["n_orphans"] == 0
    assert tbl.read(spark).count() == 50


# ---------------------------------------------------------------------------
# compaction_plan (metadata-only binpack scheduling)
# ---------------------------------------------------------------------------


def test_compaction_plan_bins_small_files_excludes_right_sized(spark, tbl):
    # file sizes: 120, 90, 60, 40, 30 rows (one file per append)
    for lo, hi in [(0, 120), (200, 290), (400, 460), (600, 640), (800, 830)]:
        tbl.append(_df(spark, lo, hi).coalesce(1))
    plan = {r.file_rows: r for r in
            tbl.compaction_plan(spark, target_rows=100, stat_col="id")
            .collect()}
    assert set(plan) == {120, 90, 60, 40, 30}
    assert plan[120].bin_id == -1            # already right-sized
    # candidates sorted desc: 90 (cum 0 -> bin 0), 60 (cum 90 -> bin 0),
    # 40 (cum 150 -> bin 1), 30 (cum 190 -> bin 1)
    assert plan[90].bin_id == 0 and plan[60].bin_id == 0
    assert plan[40].bin_id == 1 and plan[30].bin_id == 1
    # rank is the (rows DESC, stat_min) total order over ALL files
    assert [plan[n].file_rank for n in (120, 90, 60, 40, 30)] == [1, 2, 3, 4, 5]
    assert plan[90].stat_min == 200


def test_compaction_plan_tie_break_is_stat_min(spark, tbl):
    tbl.append(_df(spark, 500, 550).coalesce(1))   # 50 rows, min 500
    tbl.append(_df(spark, 100, 150).coalesce(1))   # 50 rows, min 100
    ranks = {r.stat_min: r.file_rank for r in
             tbl.compaction_plan(spark, 1000, "id").collect()}
    assert ranks == {100: 1, 500: 2}


def test_compaction_plan_refuses_mor_deletes(spark, tbl):
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.delete_where(spark, ("id", "<", 10), mode="mor")
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.compaction_plan(spark, 100, "id")
    tbl.compact(spark)
    assert tbl.compaction_plan(spark, 1000, "id").count() == 1


# ---------------------------------------------------------------------------
# rewrite_files (binpack bin execution)
# ---------------------------------------------------------------------------


def test_rewrite_files_executes_one_bin(spark, tbl):
    for lo, hi in [(0, 90), (200, 260), (400, 440), (600, 630), (800, 920)]:
        tbl.append(_df(spark, lo, hi).coalesce(1))
    before = tbl.read(spark).sort("id").collect()
    plan = tbl.compaction_plan(spark, target_rows=100, stat_col="id",
                               with_paths=True).collect()
    bin0 = [r.path for r in plan if r.bin_id == 0]
    assert len(bin0) >= 2
    snap = tbl.rewrite_files(spark, bin0)
    assert snap["rewrote_files"] == len(bin0)
    # data identical, file count shrank by (len(bin0) - 1)
    assert tbl.read(spark).sort("id").collect() == before
    n_files = len(tbl.snapshot()["files"])
    assert n_files == 5 - len(bin0) + 1
    # time travel to the pre-rewrite snapshot still sees the old layout
    assert tbl.read(spark, seq=5).sort("id").collect() == before


def test_rewrite_files_folds_mor_deletes_only_for_rewritten(spark, tbl):
    tbl.append(_df(spark, 0, 100).coalesce(1))
    tbl.append(_df(spark, 100, 200).coalesce(1))
    tbl.delete_where(spark, ("id", "<", 5), mode="mor")      # hits file 1
    tbl.delete_where(spark, ("id", ">=", 195), mode="mor")   # hits file 2
    expected = list(range(5, 195))
    f1 = next(f["path"] for f in tbl.snapshot()["files"]
              if f["stats"]["id"]["min"] == 0)
    tbl.rewrite_files(spark, [f1])
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == expected  # folded delete stays folded; carried delete
    #                         on the untouched file still masks its rows
    tbl.compact(spark)
    assert sorted(r.id for r in tbl.read(spark).collect()) == expected


def test_rewrite_files_unknown_path_raises(spark, tbl):
    tbl.append(_df(spark, 0, 10).coalesce(1))
    with pytest.raises(ValueError, match="re-plan"):
        tbl.rewrite_files(spark, ["nope.parquet"])


def test_rewrite_files_stale_plan_writes_no_manifest(spark, tbl):
    """A plan naming one live file (whose manifest has survivors) and one
    gone file must fail before any survivor manifest is written."""
    tbl.append(_df(spark, 0, 90).repartition(3))
    live = tbl.snapshot()["files"][0]["path"]

    def manifests():
        return {f for f in os.listdir(tbl.meta_dir) if f.startswith("manifest-")}

    before = manifests()
    with pytest.raises(ValueError, match="re-plan"):
        tbl.rewrite_files(spark, [live, "nope.parquet"])
    assert manifests() == before


def test_history_tracks_every_commit_kind(spark, tbl):
    tbl.append(_df(spark, 0, 50).coalesce(1))
    tbl.delete_where(spark, ("id", "<", 10), mode="mor")
    tbl.compact(spark)
    h = tbl.history()
    ops = [x["operation"] for x in h]
    assert ops[:3] == ["append", "delete", "replace"]
    assert h[0]["total_rows"] == 50
    # compaction folds the MoR delete physically: 40 footer rows
    assert h[2]["total_rows"] == 40 and h[2]["total_files"] == 1


def test_harvest_records_null_counts_of_all_null_columns(spark, tbl):
    """An all-null column has a footer null count but no min/max: the entry
    records the count under ``null_value_counts`` (Iceberg's field of that
    name) and still gets no ``stats`` entry, so it is never pruned on."""
    df = spark.createDataFrame([(i, None) for i in range(5)],
                               "id long, note string").coalesce(1)
    (entry,) = tbl.append(df)["files"]
    assert entry["null_value_counts"] == {"id": 0, "note": 5}
    assert "note" not in entry["stats"] and entry["stats"]["id"]["nulls"] == 0
