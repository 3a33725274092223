"""Checkpointed, resumable jobs: one wave of hash buckets per IceTable commit.

A 10^12-turn job WILL lose executors and occasionally the driver; the run
must resume with lineage and per-partition metrics intact. The unit of
recovery is a *hash bucket*, and the job's output directory is a
:class:`WaveTable` — an IceTable (sources/icetable.py) identity-partitioned
by ``part_bucket`` whose snapshot log lives in ``_manifest/``:

- each wave of pending buckets commits as ONE ``append`` snapshot whose
  ``extra["wave"]`` is the wave record {buckets, started_ms, wave, attempt,
  job_id, n_buckets};
- the snapshot log is the manifest: :func:`read_manifest` folds it into one
  record per committed bucket, with row and quarantine counts taken from the
  footer stats of the files that commit added — no read-back job;
- a wave killed before its commit leaves only files no snapshot lists:
  invisible to every reader by construction, reclaimed by
  ``WaveTable(out_dir).remove_orphans()``. Restart recomputes the pending
  buckets from the log and reruns the torn wave; outputs are deterministic
  functions of the input (span ids: kernels/ids.py), so the rerun writes
  the same rows.

On a real cluster this is one Iceberg ``append`` per wave with the wave
record in the snapshot summary. The manifest doubles as the per-partition
throughput metrics feed (SURVEY.md §4 explicit-design #2).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepdoctection_spark.config import DEFAULT_CONFIG, PipelineConfig
from deepdoctection_spark.operators.extraction import EXTRACTION_SCHEMA, extract_transcripts
from deepdoctection_spark.sources.icetable import IceTable

BUCKET_COL = "part_bucket"


class WaveTable(IceTable):
    """A job's output table: its snapshot log, one ``snap-*.json`` per
    committed wave, lives in ``_manifest/``, where perfbench's resume probe
    reads a job's commit records. Open job outputs with this class: a plain
    IceTable handle sees no snapshots, so every data file looks orphaned."""

    SNAPSHOT_DIR = "_manifest"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic conv_id hash bucket — the job's recovery partition.

    xxhash64 is a JVM-side column expression: assignment is stable across
    runs/cluster sizes, and bucketing by conv (not turn) keeps a
    conversation's turns co-located in one recovery unit.
    """
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def read_manifest(out_dir: str) -> list[dict]:
    """One record per committed bucket, folded from the wave commits of the
    job's WaveTable at ``out_dir``: ``rows`` is the footer row count of the
    files the commit added to the bucket, ``quarantined`` those rows minus
    the footer null count of ``error`` (0 for a table without that column),
    ``wave_wall_ms`` the wave's wall from start to commit and ``wall_ms``
    its share by rows — identical wave-level values would hide skewed
    buckets, the thing the feed exists to surface."""
    entries: list[dict] = []
    for snap in WaveTable(out_dir).snapshot_log():
        wave = snap.get("wave")
        if wave is None:
            continue
        rows = dict.fromkeys(wave["buckets"], 0)
        quarantined = dict.fromkeys(wave["buckets"], 0)
        for f in snap["added_files"]:
            b = int(f["partition"][BUCKET_COL])
            rows[b] += f["rows"]
            # every top-level column has a null count; no ``error``: 0
            quarantined[b] += f["rows"] - f["null_value_counts"].get("error", f["rows"])
        wave_wall_ms = snap["ts_ms"] - wave["started_ms"]
        total = max(1, sum(rows.values()))
        common = {k: wave[k] for k in ("wave", "attempt", "job_id", "n_buckets")}
        entries.extend(
            {"bucket": b, "status": "done", "rows": rows[b],
             "quarantined": quarantined[b], "wave_wall_ms": wave_wall_ms,
             "wall_ms": wave_wall_ms * rows[b] // total, **common}
            for b in wave["buckets"]
        )
    return entries


def pending_buckets(out_dir: str, n_buckets: int) -> list[int]:
    done = {e["bucket"] for e in read_manifest(out_dir)}
    return [b for b in range(n_buckets) if b not in done]


@dataclass
class ResumableResult:
    job_id: str
    n_buckets: int
    processed_buckets: list[int] = field(default_factory=list)
    skipped_buckets: int = 0
    rows_written: int = 0
    rows_quarantined: int = 0
    waves: int = 0


def run_waves(
    out_dir: str,
    bucketed: DataFrame,
    res,
    wave_size: int,
    fail_after_waves: int | None,
    wave_output: Callable[[DataFrame], DataFrame] = lambda df: df,
):
    """Commit ``wave_output`` of ``bucketed`` (which carries BUCKET_COL) to
    the WaveTable at ``out_dir``, one append per wave of ``wave_size``
    pending buckets, and record the run in ``res`` (job_id, n_buckets,
    processed_buckets, skipped_buckets, waves). ``fail_after_waves`` injects
    a crash after N committed waves — the test hook for resume semantics."""
    prior = read_manifest(out_dir)
    # n_buckets is part of the hash layout: resuming with a different value
    # would compare bucket ids from INCOMPATIBLE hash spaces and silently
    # drop or duplicate rows. The wave records pin it.
    prior_nb = {e["n_buckets"] for e in prior}
    if prior_nb and prior_nb != {res.n_buckets}:
        raise ValueError(
            f"manifest at {out_dir} was written with n_buckets={sorted(prior_nb)}; "
            f"resume must use the same value (got {res.n_buckets})"
        )
    attempt = len({e["job_id"] for e in prior}) + 1
    done = {e["bucket"] for e in prior}
    pending = [b for b in range(res.n_buckets) if b not in done]
    res.skipped_buckets = res.n_buckets - len(pending)
    if not pending:
        return res
    table = WaveTable(out_dir)
    # Persist the input: the per-wave bucket filter is on a computed hash
    # column (no pushdown), so without this every wave would re-scan the
    # full input — n_waves × the corpus in I/O at 100 TB. (At real scale
    # the equivalent is writing the input bucketed once — jobs/bucketing.py
    # — and letting bucket pruning do this for free.)
    bucketed = bucketed.persist()
    try:
        for wi in range(0, len(pending), wave_size):
            wave = pending[wi : wi + wave_size]
            record = {"buckets": wave, "started_ms": int(time.time() * 1000),
                      "wave": res.waves, "attempt": attempt,
                      "job_id": res.job_id, "n_buckets": res.n_buckets}
            table.append(
                wave_output(bucketed.where(F.col(BUCKET_COL).isin(wave))),
                partition_by=BUCKET_COL, extra={"wave": record},
            )
            res.processed_buckets.extend(wave)
            res.waves += 1
            if fail_after_waves is not None and res.waves >= fail_after_waves:
                raise RuntimeError(f"injected failure after {res.waves} waves")
    finally:
        bucketed.unpersist()
    return res


def run_resumable_extract(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    wave_size: int = 16,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_words: bool = True,
    fail_after_waves: int | None = None,
) -> ResumableResult:
    """Run (or resume) the extraction into ``out_dir`` (``fail_after_waves``:
    see :func:`run_waves`)."""
    res = ResumableResult(job_id=uuid.uuid4().hex[:12], n_buckets=n_buckets)
    run_waves(
        out_dir, with_bucket(transcripts, n_buckets), res, wave_size,
        fail_after_waves,
        lambda wave_in: with_bucket(extract_transcripts(
            wave_in.drop(BUCKET_COL), cfg=cfg, with_words=with_words), n_buckets),
    )
    for e in read_manifest(out_dir):
        if e["job_id"] == res.job_id:
            res.rows_written += e["rows"]
            res.rows_quarantined += e["quarantined"]
    return res


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed rows: a read of the job's WaveTable, so files of a torn
    wave are invisible. A run killed before its first commit leaves nothing
    committed — that is a valid empty table, not an error: callers get an
    empty DataFrame with the extraction schema plus ``part_bucket``."""
    table = WaveTable(out_dir)
    if table.current_seq():
        return table.read(spark)
    empty_schema = T.StructType(
        EXTRACTION_SCHEMA.fields + [T.StructField(BUCKET_COL, T.IntegerType())]
    )
    return spark.createDataFrame([], schema=empty_schema)
