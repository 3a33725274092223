"""End-to-end resumable curation job: decisions commit + filtered corpus
write + kill/resume identity (the curated_corpus parity row checks values)."""

from __future__ import annotations

import pytest

from deepdoctection_spark.jobs.curate import (
    load_curated,
    run_resumable_curation,
)


def _docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet")


def _content(spark, out_dir):
    return sorted(
        (r["doc_id"], r["text"], r["pred_lang"], r["quality"])
        for r in load_curated(spark, out_dir).collect()
    )


def test_single_shot_matches_query(spark, sf_small):
    import __spark_entry__  # registers all queries
    from deepdoctection_spark.plans.registry import QUERIES

    out = "/tmp/ddspark_curate_single"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    res = run_resumable_curation(
        spark, _docs(spark, sf_small), out, n_buckets=8, wave_size=4
    )
    assert not res.decisions_reused and res.n_kept > 0
    got = _content(spark, out)
    expected = sorted(
        (r["doc_id"], r["text"], r["pred_lang"], r["quality"])
        for r in QUERIES["curated_corpus"](spark, sf_small).collect()
    )
    assert got == expected


def test_kill_resume_identical_output(spark, sf_small):
    import shutil

    docs = _docs(spark, sf_small)
    a, b = "/tmp/ddspark_curate_a", "/tmp/ddspark_curate_b"
    for d in (a, b):
        shutil.rmtree(d, ignore_errors=True)
    run_resumable_curation(spark, docs, a, n_buckets=8, wave_size=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable_curation(
            spark, docs, b, n_buckets=8, wave_size=4, fail_after_waves=1
        )
    res2 = run_resumable_curation(spark, docs, b, n_buckets=8, wave_size=4)
    assert res2.decisions_reused  # stage-1 commit survived the kill
    assert res2.skipped_buckets == 4  # one committed wave not recomputed
    assert _content(spark, a) == _content(spark, b)


def test_resume_wrong_bucket_count_rejected(spark, sf_small):
    import shutil

    out = "/tmp/ddspark_curate_nb"
    shutil.rmtree(out, ignore_errors=True)
    docs = _docs(spark, sf_small)
    with pytest.raises(RuntimeError):
        run_resumable_curation(
            spark, docs, out, n_buckets=8, wave_size=4, fail_after_waves=1
        )
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable_curation(spark, docs, out, n_buckets=16)


def test_publish_curated_snapshot(spark, sf_small, tmp_path):
    from deepdoctection_spark.jobs.curate import publish_curated
    from deepdoctection_spark.sources.icetable import IceTable

    out = str(tmp_path / "run")
    tblp = str(tmp_path / "corpus_table")
    docs = _docs(spark, sf_small)
    run_resumable_curation(spark, docs, out, n_buckets=8, wave_size=4)

    snap = publish_curated(spark, out, tblp, sort_files=4)
    assert snap["operation"] == "append" and snap["sequence"] == 1
    t = IceTable(tblp)
    # published table == committed corpus, column-for-column
    got = sorted(
        (r["doc_id"], r["text"], r["pred_lang"], r["quality"])
        for r in t.read(spark).collect()
    )
    assert got == _content(spark, out)
    # clustering is real: a pred_lang point predicate prunes files, and the
    # Bloom sidecar prunes a doc_id point probe
    langs = [r["pred_lang"] for r in t.read(spark).select("pred_lang").distinct().collect()]
    if len(langs) > 1:
        keep, pruned = t.plan_files(("pred_lang", "=", sorted(langs)[0]))
        assert pruned >= 1
    some_id = got[0][0]
    keep, pruned = t.plan_files(("doc_id", "=", some_id))
    assert len(keep) >= 1
    rows = t.scan(spark, ("doc_id", "=", some_id)).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == some_id


def test_publish_versions_are_time_travelable(spark, sf_small, tmp_path):
    from deepdoctection_spark.jobs.curate import publish_curated
    from deepdoctection_spark.sources.icetable import IceTable

    out = str(tmp_path / "run")
    tblp = str(tmp_path / "corpus_table")
    docs = _docs(spark, sf_small)
    run_resumable_curation(spark, docs, out, n_buckets=8, wave_size=4)
    s1 = publish_curated(spark, out, tblp, sort_files=4)
    s2 = publish_curated(spark, out, tblp, sort_files=4)  # corpus v2
    assert (s1["sequence"], s2["sequence"]) == (1, 2)
    assert s2["operation"] == "overwrite"
    t = IceTable(tblp)
    n = len(_content(spark, out))
    # v2 is the current version; v1 remains readable by sequence
    assert t.read(spark).count() == n
    assert t.read(spark, seq=1).count() == n
    # the overwrite re-applied the table's sort order (clustering persists
    # across versions without the caller restating it)
    assert t.snapshot()["sort_by"] == ["pred_lang", "doc_id"]
    # each publish pins its version under a named tag, readable by name
    # (the "table the model trained on" guarantee)
    assert t.tags() == {"corpus-v1": 1, "corpus-v2": 2}
    assert t.read(spark, tag="corpus-v1").count() == n


def test_publish_rejects_torn_run(spark, sf_small, tmp_path):
    from deepdoctection_spark.jobs.curate import publish_curated

    out = str(tmp_path / "run")
    docs = _docs(spark, sf_small)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable_curation(
            spark, docs, out, n_buckets=8, wave_size=4, fail_after_waves=1
        )
    with pytest.raises(RuntimeError, match="incomplete"):
        publish_curated(spark, out, str(tmp_path / "tbl"))
