"""The workloads, the resumable-job probe and the kernel isolate.

A workload builds its input from the seed, runs one pass through the
program's public functions, and checks a pass against an oracle. Sizes are
picked so that one warm pass takes one to two seconds on four cores, enough
for the work to outweigh Spark's fixed per-job cost, and a run fits the
benchmark's time budget.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from deepdoctection_spark.config import DEFAULT_CONFIG
from deepdoctection_spark.jobs.resumable import (
    load_extracted,
    read_manifest,
    run_resumable_extract,
    with_bucket,
)
from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn
from deepdoctection_spark.operators.extraction import extract_transcripts
from deepdoctection_spark.operators.reassembly import reassemble_conversations
from deepdoctection_spark.sources.icetable import IceTable
from deepdoctection_spark.sources.transcripts import replicated_transcripts

import gate
import inputs
from tracing import Tracer, rollup, stages_of

EXTRACT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class GateResult:
    attempted: int
    failed: int
    counts: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def _extraction_counts(digest: pa.Table) -> dict[str, float]:
    return {
        "extraction.turns_out": digest.num_rows,
        "extraction.blocks": pc.sum(digest["n_blocks"]).as_py() or 0,
        "extraction.words": pc.sum(digest["n_words"]).as_py() or 0,
        "extraction.quarantined": digest.num_rows - digest["error"].null_count,
    }


def _median_s(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _identity_arrow(batches):
    yield from batches


class Workload:
    """One workload. ``cpus`` sets the input file count, ``scale`` shrinks
    the input (the benchmark's own tests run at a tiny scale)."""

    name = ""
    n_turns_full = 0
    projection: list[str] = EXTRACT_COLS
    bypasses: tuple[str, ...] = ()  # layers a pass never enters (metrics read 0)
    # untimed passes before the timed window, after a full GC: long enough
    # for pass walls to stop falling as the JIT compiler catches up
    settle_s = 4.0

    def __init__(self, work_dir: str, seed: int, cpus: int, scale: float = 1.0):
        self.work_dir = work_dir
        self.seed = seed
        self.cpus = cpus
        self.scale = scale
        self.n_turns = max(48, int(self.n_turns_full * scale))
        self.table_path = os.path.join(work_dir, "ice", self.name)
        self.docs_dir = os.path.join(work_dir, "docs", self.name)
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def read(self, spark: SparkSession):
        """The snapshot read every pass starts from (``IceTable.read``)."""
        return IceTable(self.table_path).read(spark)

    def _register_documents(self, table: pa.Table) -> str:
        self.con.register("documents_arrow", table)
        self.con.execute("CREATE OR REPLACE TABLE documents AS SELECT * FROM documents_arrow")
        self.con.unregister("documents_arrow")
        return inputs.write_documents(self.docs_dir, table)

    def build_input(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def run_pass(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def gate(self, spark: SparkSession) -> GateResult:
        raise NotImplementedError

    def probe_layers(
        self, spark: SparkSession, tracer: Tracer
    ) -> tuple[dict[str, float], list[GateResult]]:
        """Layer probes of the traced run, and the checks of any probe that
        produces output. Probes whose numbers come from the event log run
        under a span name that ``fold_layers`` looks up afterwards."""
        out: dict[str, float] = {}
        out["sources.read_plan_s"] = _median_s(lambda: self.read(spark), 5)
        out["sources.input_partitions"] = self.read(spark).rdd.getNumPartitions()
        out["sources.scan_s"] = _median_s(
            lambda: noop(self.read(spark).select(*self.projection)), 3
        )
        return out, []

    def fold_layers(self, stages) -> dict[str, float]:
        return {}


class ExtractMixed(Workload):
    """extract_transcripts(with_words=True) -> noop over mixed payloads."""

    name = "extract_mixed"
    n_turns_full = 20_000
    bypasses = ("reassembly.",)
    words_reps = 2  # passes with and without words in the traced run's probe

    def build_input(self, spark):
        docs = inputs.documents(self.seed, self.n_turns)
        sf_dir = self._register_documents(docs)
        t = replicated_transcripts(spark, sf_dir, 1, partitions=self.cpus)
        IceTable(self.table_path).overwrite(t)

    def run_pass(self, spark):
        noop(extract_transcripts(self.read(spark), with_words=True))

    def gate(self, spark):
        actual = gate.extraction_digest(
            extract_transcripts(self.read(spark), with_words=True)
        ).toArrow()
        failed = gate.failed_turns(gate.extraction_oracle(self.con), actual)
        return GateResult(self.n_turns, failed, _extraction_counts(actual))

    def probe_layers(self, spark, tracer):
        out, checks = super().probe_layers(spark, tracer)

        def identity_pass():
            proj = self.read(spark).select(*self.projection)
            noop(proj.mapInArrow(_identity_arrow, proj.schema))

        out["extraction.arrow_floor_s"] = _median_s(identity_pass, 3) - out["sources.scan_s"]
        def words_off():
            noop(extract_transcripts(self.read(spark), with_words=False))

        on, off = [], []
        for _ in range(self.words_reps):  # interleaved, so a change of host speed hits both
            with tracer.span("probe.words_on"):
                on.append(_median_s(lambda: self.run_pass(spark), 1))
            off.append(_median_s(words_off, 1))
        out["extraction.words_s"] = statistics.median(on) - statistics.median(off)
        resume = ResumeProbe(self.work_dir, self.seed, self.cpus, self.con, self.scale)
        resume.build_input(spark)
        measured, check = resume.measure(spark, tracer)
        out.update(measured)
        return out, checks + [check]

    def fold_layers(self, stages):
        ex = rollup(stages_of(stages, "probe.words_on"))
        reps = self.words_reps
        return {
            "extraction.stage_cpu_s": ex["cpu_s"] / reps,
            "extraction.gc_s": ex["gc_s"] / reps,
            "extraction.tasks": ex["tasks"] / reps,
            "extraction.task_skew": ex["task_skew"],
            **ResumeProbe.fold(stages),
        }


class ReassembleSkewed(Workload):
    """reassemble_conversations -> noop over pre-extracted turns, ~30% of
    them moved into one hot conversation ``conv-mega``."""

    name = "reassemble_skewed"
    n_turns_full = 160_000
    projection = ["conv_id", "turn_idx", "extracted_text"]
    bypasses = ("extraction.", "resumable.")
    settle_s = 10.0

    def build_input(self, spark):
        from deepdoctection_spark.plans.oracles import oracle_extract_text

        docs = inputs.documents(self.seed, self.n_turns)
        self._register_documents(docs)
        # Already-extracted turns come from the oracle's expected output, so
        # building them costs no extraction pass. The seed picks the hot rows.
        self.con.execute(
            f"""
            CREATE TABLE turns AS
            WITH x AS ({oracle_extract_text()}),
                 h AS (SELECT *, hash({int(self.seed)}, conv_id, turn_idx) % 10 < 3 AS hot FROM x)
            SELECT CASE WHEN hot THEN 'conv-mega' ELSE conv_id END AS conv_id,
                   CASE WHEN hot THEN CAST(substr(conv_id, 6) AS INT) * 8 + turn_idx
                        ELSE turn_idx END::INT AS turn_idx,
                   role, tool, extracted_text, n_blocks
            FROM h
            """
        )
        path = os.path.join(self.docs_dir, "turns.parquet")
        self.con.execute(f"COPY turns TO '{path}' (FORMAT PARQUET)")
        IceTable(self.table_path).overwrite(spark.read.parquet(path).repartition(self.cpus))

    def run_pass(self, spark):
        noop(reassemble_conversations(self.read(spark)))

    def gate(self, spark):
        actual = gate.reassembly_digest(reassemble_conversations(self.read(spark))).toArrow()
        failed = gate.failed_turns(gate.reassembly_oracle(self.con, "turns"), actual)
        return GateResult(self.n_turns, failed)

    def probe_layers(self, spark, tracer):
        out, checks = super().probe_layers(spark, tracer)
        with tracer.span("probe.reassemble"):
            self.run_pass(spark)
        return out, checks

    def fold_layers(self, stages):
        # stage 1 scans and pre-aggregates (conv_id, chunk); stage 2 finishes
        # phase 1 and pre-aggregates phase 2; the last stage merges each
        # conversation's chunks and feeds the sink
        group = stages_of(stages, "probe.reassemble")
        r = rollup(group)
        return {
            "reassembly.phase1_s": sum(s.wall_s for s in group[:2]),
            "reassembly.phase2_s": sum(s.wall_s for s in group[2:]),
            "reassembly.shuffle_mb": r["shuffle_mb"],
            "reassembly.spill_mb": r["spill_mb"],
            "reassembly.task_skew": r["task_skew"],
        }


class ResumeProbe:
    """The write side of the extraction layer: ``run_resumable_extract`` is
    killed after two committed waves, resumed, and read back with
    ``load_extracted``, over plain-text turns with ~0.1% poison turns
    (null ``turn_idx``) planted by a hash of the seed.

    One kill-and-resume cycle costs seconds of per-wave job overhead at any
    input size, so it runs once, in the traced run of ``extract_mixed``,
    rather than as a workload of its own."""

    n_turns_full = 8_000
    kill_after_waves = 2
    poison_per = 1000

    def __init__(self, work_dir: str, seed: int, cpus: int, con, scale: float = 1.0):
        self.seed, self.cpus, self.con = seed, cpus, con
        self.n_turns = max(48, int(self.n_turns_full * scale))
        self.table_path = os.path.join(work_dir, "ice", "resume_input")
        self.docs_dir = os.path.join(work_dir, "docs", "resume_input")
        self.out_dir = os.path.join(work_dir, "resume-out")

    def build_input(self, spark) -> None:
        docs = inputs.documents(self.seed, self.n_turns, id_stride=3)
        sf_dir = inputs.write_documents(self.docs_dir, docs)
        t = replicated_transcripts(spark, sf_dir, 1, partitions=self.cpus)
        h = F.xxhash64(F.lit(self.seed), "conv_id", "turn_idx")
        poison = F.pmod(h, F.lit(self.poison_per)) == 0
        t = t.withColumn("turn_idx", F.when(poison, F.lit(None)).otherwise(F.col("turn_idx")))
        table = IceTable(self.table_path)
        table.overwrite(t)
        snap = table.read(spark).select("conv_id", "turn_idx", "text").toArrow()
        self.con.register("resume_arrow", snap)
        self.con.execute("CREATE OR REPLACE TABLE resume_inputs AS SELECT * FROM resume_arrow")
        self.con.unregister("resume_arrow")
        self.planted = snap["turn_idx"].null_count

    def read(self, spark):
        return IceTable(self.table_path).read(spark)

    def cycle(self, spark, tracer: Tracer) -> dict:
        """Kill after ``kill_after_waves`` committed waves, resume, read back."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        df = self.read(spark)
        killed = False
        with tracer.span("resume.kill"):
            try:
                run_resumable_extract(
                    spark, df, self.out_dir, fail_after_waves=self.kill_after_waves
                )
            except RuntimeError:
                killed = True
        with tracer.span("resume.resume"):
            res = run_resumable_extract(spark, df, self.out_dir)
        with tracer.span("resume.load"):
            loaded = load_extracted(spark, self.out_dir).count()
        return {"killed": killed, "resumed": res, "loaded": loaded}

    def check(self, spark, cyc: dict) -> GateResult:
        """Every bucket committed exactly once, every input turn read back,
        and exactly the planted turns quarantined, as ``TypeError``."""
        notes = []
        failed_extra = 0
        if not cyc["killed"]:
            notes.append("the killed run did not stop")
            failed_extra += 1
        commits: dict[int, list[dict]] = {}
        for e in read_manifest(self.out_dir):
            if e["status"] == "done":
                commits.setdefault(e["bucket"], []).append(e)
        for b in range(cyc["resumed"].n_buckets):
            if len(commits.get(b, [])) != 1:
                notes.append(f"bucket {b} committed {len(commits.get(b, []))} times")
                failed_extra += sum(e["rows"] for e in commits.get(b, [])) or 1
        if cyc["loaded"] != self.n_turns:
            notes.append(f"load_extracted returned {cyc['loaded']} rows, input has {self.n_turns}")
        actual = gate.resumable_digest(load_extracted(spark, self.out_dir)).toArrow()
        failed = gate.failed_turns(gate.resumable_oracle(self.con, "resume_inputs"), actual)
        quarantined = actual.num_rows - actual["error"].null_count
        classes = {e.split(":", 1)[0] for e in actual["error"].drop_null().to_pylist()}
        if quarantined != self.planted or classes - {"TypeError"}:
            notes.append(f"quarantined {quarantined} {sorted(classes)}, planted {self.planted}")
            failed_extra += abs(quarantined - self.planted) or 1
        return GateResult(self.n_turns, min(self.n_turns, failed + failed_extra), notes=notes)

    def measure(self, spark, tracer: Tracer) -> tuple[dict[str, float], GateResult]:
        def persist():
            cached = with_bucket(self.read(spark), 64).persist()
            cached.count()
            cached.unpersist()

        out = {"resumable.persist_s": _median_s(persist, 3)}
        cyc = self.cycle(spark, tracer)
        out["resumable.resume_s"] = tracer.seconds("resume.resume")[-1]
        manifest = read_manifest(self.out_dir)
        out["resumable.wave_s"] = statistics.median(e["wave_wall_ms"] for e in manifest) / 1e3
        out["resumable.waves"] = len({(e["job_id"], e["wave"]) for e in manifest})
        out["resumable.files_written"] = sum(
            fn.endswith(".parquet") for _d, _s, fns in os.walk(self.out_dir) for fn in fns
        )
        out["resumable.skipped_buckets"] = cyc["resumed"].skipped_buckets
        return out, self.check(spark, cyc)

    @staticmethod
    def fold(stages) -> dict[str, float]:
        # the wave write stages run the extraction fused with the parquet
        # sink; every other stage of the cycle reads committed data back
        cycle = [s for d in ("resume.kill", "resume.resume", "resume.load")
                 for s in stages_of(stages, d)]
        writes = [s for s in cycle if s.name.startswith("parquet at")]
        return {
            "resumable.write_s": sum(s.wall_s for s in writes),
            "resumable.readback_s": sum(s.wall_s for s in cycle if s not in writes),
        }


WORKLOADS = {w.name: w for w in (ExtractMixed, ReassembleSkewed)}


# ---------------------------------------------------------------------------
# Kernel isolate: the Python kernel alone, one thread, no Spark or Arrow
# ---------------------------------------------------------------------------

def kernel_isolate(seed: int, n_docs: int = 600, reps: int = 5) -> dict[str, float]:
    """Per-turn microseconds of ``extract_turn`` per payload kind and of
    ``finalize_turn``, over payloads rendered from the same templates and
    document generator as ``extract_mixed``."""
    cfg = DEFAULT_CONFIG
    args = (cfg.link_density_threshold, cfg.column_gap, cfg.tag_density_threshold)
    docs = inputs.documents(seed, n_docs).to_pylist()
    payloads = [inputs.render_payload(d) for d in docs]
    out: dict[str, float] = {}
    for kind, tool in (("html", "browser"), ("layout", "pdf_reader"), ("text", "")):
        mine = [p for p, t in payloads if t == tool]
        out[f"kernels.{kind}_us"] = _median_s(
            lambda mine=mine, tool=tool: [extract_turn(p, tool, *args) for p in mine], reps
        ) / len(mine) * 1e6
    blocks = [(f"conv-{d['doc_id'] // 8:05d}", d["doc_id"] % 8, extract_turn(p, t, *args))
              for d, (p, t) in zip(docs, payloads)]
    out["kernels.finalize_us"] = _median_s(
        lambda: [finalize_turn(c, i, b, with_words=False) for c, i, b in blocks], reps
    ) / len(blocks) * 1e6
    return out
