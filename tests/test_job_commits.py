"""The checkpointed jobs commit through IceTable: each wave is one snapshot,
a wave whose commit never landed is invisible and rerun, per-bucket counts
come from the commit's own manifest entries, and curation's decisions
stage is committed by its snapshot alone."""

from __future__ import annotations

import os

import pytest

from deepdoctection_spark.jobs.resumable import (
    BUCKET_COL,
    WaveTable,
    load_extracted,
    read_manifest,
    run_resumable_extract,
    with_bucket,
)
from deepdoctection_spark.sources.icetable import IceTable
from deepdoctection_spark.sources.transcripts import build_transcripts
from tests.test_resumable import _fingerprint

N_BUCKETS = 8
WAVE = 2


def _fail_nth_commit(monkeypatch, n: int) -> None:
    """Make the n-th IceTable commit raise after its files are staged."""
    real_commit = IceTable._commit
    calls = []

    def commit(self, *args, **kwargs):
        calls.append(self.path)
        if len(calls) == n:
            raise OSError("killed before the snapshot landed")
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(IceTable, "_commit", commit)


def test_torn_wave_is_invisible_and_rerun(spark, sf_small, tmp_path, monkeypatch):
    t = build_transcripts(spark, sf_small)
    clean = str(tmp_path / "clean")
    run_resumable_extract(spark, t, clean, n_buckets=N_BUCKETS, wave_size=WAVE)

    torn = str(tmp_path / "torn")
    _fail_nth_commit(monkeypatch, 2)
    with pytest.raises(OSError, match="killed"):
        run_resumable_extract(spark, t, torn, n_buckets=N_BUCKETS, wave_size=WAVE)
    monkeypatch.undo()

    first = read_manifest(torn)
    assert {e["wave"] for e in first} == {0}
    done = {e["bucket"] for e in first}
    assert len(done) == WAVE
    loaded = load_extracted(spark, torn)
    assert loaded.count() == sum(e["rows"] for e in first) > 0
    assert {r[0] for r in loaded.select(BUCKET_COL).distinct().collect()} <= done
    # the second wave's files were staged, but no snapshot lists them
    orphans = set(WaveTable(torn).remove_orphans(dry_run=True)["orphan_data_files"])
    assert orphans and not orphans & {f["path"] for f in WaveTable(torn).snapshot()["files"]}

    res = run_resumable_extract(spark, t, torn, n_buckets=N_BUCKETS, wave_size=WAVE)
    assert res.skipped_buckets == WAVE
    assert sorted(res.processed_buckets) == sorted(set(range(N_BUCKETS)) - done)
    assert {e["attempt"] for e in read_manifest(torn)
            if e["job_id"] == res.job_id} == {2}
    assert (_fingerprint(load_extracted(spark, torn))
            == _fingerprint(load_extracted(spark, clean)))

    # the snapshot log is _manifest/, one snap file per wave: losing the
    # first one un-commits exactly that wave's buckets
    log = sorted(os.listdir(os.path.join(torn, "_manifest")))
    assert log[0] == "snap-0000000001.json"
    os.remove(os.path.join(torn, "_manifest", log[0]))
    assert {e["bucket"] for e in read_manifest(torn)} == set(range(N_BUCKETS)) - done


def test_manifest_quarantine_counts_per_bucket(spark, tmp_path):
    """Per-bucket counts from footer stats: a bucket of clean rows (its
    ``error`` column all null), a bucket of only quarantined rows, a mixed
    bucket and an empty bucket."""
    rows = [
        ("c1", 0, "user", "good text", "", None),
        ("c1", None, "user", "poison: null turn_idx", "", None),
        ("c2", 1, "user", "more text", "", None),
        ("c4", 0, "user", "clean again", "", None),
        ("c5", None, "user", "poison one", "", None),
        ("c5", None, "user", "poison two", "", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    bucket = {r["conv_id"]: r[BUCKET_COL]
              for r in with_bucket(df, 4).select("conv_id", BUCKET_COL).collect()}
    expected = {b: [0, 0] for b in range(4)}
    for conv, idx, *_ in rows:
        expected[bucket[conv]][0] += 1
        expected[bucket[conv]][1] += idx is None
    kinds = {(n, q) for n, q in expected.values()}
    assert {(2, 0), (2, 2), (2, 1), (0, 0)} <= kinds  # the edge cases exist

    out = str(tmp_path / "quar")
    res = run_resumable_extract(spark, df, out, n_buckets=4, wave_size=4)
    got = {e["bucket"]: [e["rows"], e["quarantined"]] for e in read_manifest(out)}
    assert got == expected
    assert (res.rows_written, res.rows_quarantined) == (6, 3)


def test_curation_decisions_commit_is_the_snapshot(spark, sf_small, tmp_path,
                                                   monkeypatch):
    """A run killed inside the decisions commit recomputes them; once the
    decisions snapshot exists, a resume reuses it."""
    from deepdoctection_spark.jobs.curate import run_resumable_curation

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = str(tmp_path / "cur")
    _fail_nth_commit(monkeypatch, 1)
    with pytest.raises(OSError, match="killed"):
        run_resumable_curation(spark, docs, out, n_buckets=4, wave_size=4)
    monkeypatch.undo()
    assert IceTable(os.path.join(out, "decisions")).current_seq() == 0

    res = run_resumable_curation(spark, docs, out, n_buckets=4, wave_size=4)
    assert not res.decisions_reused and res.waves == 1
    assert 0 < res.n_kept <= res.n_docs == docs.count()
    again = run_resumable_curation(spark, docs, out, n_buckets=4, wave_size=4)
    assert again.decisions_reused and again.waves == 0
    assert (again.n_docs, again.n_kept) == (res.n_docs, res.n_kept)
    assert sorted(os.listdir(out)) == ["_manifest", "data", "decisions", "metadata"]
