"""Streaming near-duplicate ingest against a persisted LSH index.

The daily-ingest shape a 100 TB corpus actually runs: accepted documents
live in an IceTable ``corpus``; their LSH band keys live in a second
IceTable ``index`` (identity-partitioned by band_id, so a band probe scans
one partition); per-doc verdicts land in a third. Each micro-batch

  1. reads index + corpus AS OF the snapshot preceding this epoch's own
     commits (snapshot isolation: a retried epoch recomputes the SAME
     verdicts even when its failed earlier attempt already appended to one
     of the three tables),
  2. runs :func:`~deepdoctection_spark.operators.dedup.dedup_against_index`
     — signatures are computed for the batch only, the corpus side is the
     persisted index plus a candidate-bounded text fetch, so per-batch cost
     scales with the batch, never the corpus,
  3. appends accepted (is_new) docs to ``corpus``, their band keys to
     ``index``, and the verdict rows to ``verdicts`` — each append is
     an ``IceTable.append_epoch`` (the commit behind IceTable.streaming_sink),
     so foreachBatch's at-least-once redelivery lands every row exactly once.

Batch-vs-stream contract: verdicts equal the serial replay of
``incremental_minhash_dedup`` over the same micro-batch partition of the
input (the ``stream_neardup_ingest`` oracle row unrolls that replay in
DuckDB). Intra-batch duplicates are out of scope by the same contract —
both members of a same-batch near-dup pair are accepted.

Maintenance contract: compaction/expiry run BETWEEN epochs (the standard
single-writer maintenance window) — a compaction snapshot carries no stream
tag, so the as-of read of a retried epoch would see the compacted state
including that epoch's own partially-committed rows. Between epochs it is
safe and verdict-preserving (pinned by
tests/test_ingest_neardup.py::test_compaction_between_epochs_preserves_verdicts).

Reference analogue: deepdoctection's deterministic-id idempotence
(datapoint ids make re-runs re-derive the same annotations,
dd/datapoint/annotation.py) lifted to exactly-once table commits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepdoctection_spark.operators.dedup import band_index, dedup_against_index
from deepdoctection_spark.sources.icetable import IceTable


def _seq_before_epoch(tbl: IceTable, tag: str, epoch: int) -> int:
    """Greatest committed sequence NOT written by (tag, >= epoch) — the
    table state this epoch must compute against, even on redelivery after
    a partial commit. 0 = empty table."""
    for s in tbl.snapshot_log(newest_first=True):
        if s.get("stream_query") == tag and int(s.get("stream_epoch", -1)) >= epoch:
            continue
        return s["sequence"]
    return 0


class NearDupIngest:
    """Exactly-once streaming near-dup ingest over three IceTables under
    ``table_root``: corpus/ (accepted docs), index/ (their LSH band keys,
    identity-partitioned by band_id), verdicts/ (one row per ingested doc:
    doc_id, dup_of, jaccard, is_new, epoch)."""

    def __init__(self, table_root: str, num_perm: int = 8, bands: int = 4,
                 k: int = 3, threshold: float = 0.8,
                 query_tag: str = "neardup") -> None:
        self.corpus = IceTable(os.path.join(table_root, "corpus"))
        self.index = IceTable(os.path.join(table_root, "index"))
        self.verdicts = IceTable(os.path.join(table_root, "verdicts"))
        self.num_perm, self.bands, self.k = num_perm, bands, k
        self.threshold = threshold
        self.query_tag = query_tag

    def _index_of(self, docs: DataFrame) -> DataFrame:
        return band_index(docs, self.num_perm, self.bands, self.k)

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body; also callable directly for batch backfill."""
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", "text")
        tag = self.query_tag
        c_seq = _seq_before_epoch(self.corpus, tag, epoch_id)
        i_seq = _seq_before_epoch(self.index, tag, epoch_id)
        corpus_df = (self.corpus.read(spark, seq=c_seq) if c_seq
                     else batch.limit(0))
        index_df = (self.index.read(spark, seq=i_seq) if i_seq
                    else self._index_of(batch.limit(0)))
        v = dedup_against_index(
            batch, index_df, corpus_df,
            num_perm=self.num_perm, bands=self.bands, k=self.k,
            threshold=self.threshold,
        ).persist()
        try:
            accepted = batch.join(
                v.where(F.col("is_new")).select("doc_id"), "doc_id"
            )
            self.corpus.append_epoch(accepted, tag, epoch_id)
            self.index.append_epoch(self._index_of(accepted), tag, epoch_id,
                                    partition_by="band_id")
            self.verdicts.append_epoch(
                v.withColumn("epoch", F.lit(int(epoch_id)).cast("long")),
                tag, epoch_id,
            )
        finally:
            v.unpersist()

    def sink(self):
        return self.process_batch

    def run(self, docs_stream: DataFrame, checkpoint_dir: str):
        """Bounded (availableNow) run of the ingest over a streaming docs
        relation; blocks callers via the returned query's awaitTermination."""
        return (
            docs_stream.writeStream.foreachBatch(self.sink())
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def read_verdicts(spark: SparkSession, table_root: str) -> DataFrame:
    return IceTable(os.path.join(table_root, "verdicts")).read(spark)
