"""The benchmark's own tests, at the size of the sf0.001 documents table
(500 documents). Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])

import gate  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DOCS = 500


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from deepdoctection_spark.config import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    s = get_spark(
        master="local[2]",
        extra_conf=dict(tracing.TELEMETRY_CONF, **{"spark.eventLog.dir": str(log_dir)}),
    )
    s.log_dir = str(log_dir)
    yield s
    s.stop()


def _workload(cls, tmp_path, spark):
    wl = cls(str(tmp_path), seed=7, cpus=2, scale=DOCS / cls.n_turns_full)
    wl.build_input(spark)
    return wl


def test_event_log_fold_returns_every_stage_metric(spark, tmp_path):
    wl = _workload(workloads.ReassembleSkewed, tmp_path, spark)
    try:
        tracer = tracing.Tracer(spark)
        with tracer.span("probe.reassemble"):
            wl.run_pass(spark)
        spark.sparkContext.setJobDescription(None)
        stages = tracing.fold_event_log(spark.log_dir)
        group = tracing.stages_of(stages, "probe.reassemble")
        assert len(group) >= 2, "reassembly runs at least one shuffle"
        r = tracing.rollup(group)
        assert set(r) == {"wall_s", "cpu_s", "gc_s", "tasks", "task_skew", "shuffle_mb", "spill_mb"}
        assert r["tasks"] > 0 and r["wall_s"] > 0 and r["cpu_s"] > 0
        assert r["shuffle_mb"] > 0 and r["task_skew"] >= 1.0
        assert all(s.name for s in group)
        folded = wl.fold_layers(stages)
        assert set(folded) == {
            "reassembly.phase1_s", "reassembly.phase2_s", "reassembly.shuffle_mb",
            "reassembly.spill_mb", "reassembly.task_skew",
        }
        assert folded["reassembly.phase1_s"] > 0 and folded["reassembly.phase2_s"] > 0
        assert [s.name for s in tracer.spans] == ["probe.reassemble"]
    finally:
        wl.close()


def test_proc_sampler_covers_jvm_and_python_workers(spark, tmp_path):
    wl = _workload(workloads.ExtractMixed, tmp_path, spark)
    try:
        wl.run_pass(spark)  # a Python UDF stage: the JVM forks Python workers
        cmds = procstat.tree_commands()
        assert any("java" in c for c in cmds), cmds
        assert any("pyspark.daemon" in c or "pyspark/daemon" in c for c in cmds), cmds
        own_cpu = sum(os.times()[:2])
        assert procstat.tree_cpu_s() > own_cpu
        with open("/proc/self/status") as f:
            own_hwm_mb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:")) / 1024
        assert procstat.tree_peak_rss_mb() > own_hwm_mb + 100  # the JVM alone is larger
    finally:
        wl.close()


def test_wait_quiet_waits_for_a_busy_process():
    burn = "import time\nend = time.time() + 1.0\nwhile time.time() < end: pass"
    busy = subprocess.Popen([sys.executable, "-c", burn])
    try:
        assert procstat.wait_quiet(busy.pid, timeout_s=3.0) >= 0.6
    finally:
        busy.wait()
    assert procstat.wait_quiet(busy.pid) < 0.5


def _corrupt(table: pa.Table, row: int) -> pa.Table:
    h = table["h"].to_pylist()
    h[row] = "0" * 32
    return table.set_column(table.schema.get_field_index("h"), "h", pa.array(h, pa.string()))


def test_corrupted_row_trips_the_extraction_gate(spark, tmp_path):
    from deepdoctection_spark.operators.extraction import extract_transcripts

    wl = _workload(workloads.ExtractMixed, tmp_path, spark)
    try:
        assert wl.gate(spark).failed == 0
        actual = gate.extraction_digest(extract_transcripts(wl.read(spark))).toArrow()
        expected = gate.extraction_oracle(wl.con)
        assert actual.num_rows == expected.num_rows == wl.n_turns
        assert gate.failed_turns(expected, actual) == 0
        assert gate.failed_turns(expected, _corrupt(actual, 3)) == 1
        assert gate.failed_turns(expected, actual.slice(1)) == 1  # a missing turn
        assert gate.failed_turns(expected, pa.concat_tables([actual, actual.slice(0, 1)])) == 1
    finally:
        wl.close()


def test_corrupted_conversation_fails_all_its_turns(spark, tmp_path):
    from deepdoctection_spark.operators.reassembly import reassemble_conversations

    wl = _workload(workloads.ReassembleSkewed, tmp_path, spark)
    try:
        assert wl.gate(spark).failed == 0
        actual = gate.reassembly_digest(reassemble_conversations(wl.read(spark))).toArrow()
        expected = gate.reassembly_oracle(wl.con, "turns")
        mega = pc.index(actual["k"], "conv-mega").as_py()
        assert mega >= 0, "the seed moved some turns into the hot conversation"
        assert gate.failed_turns(expected, _corrupt(actual, mega)) == actual["w"][mega].as_py()
    finally:
        wl.close()


def test_resume_probe_checks_commits_and_quarantine(spark, tmp_path):
    wl = workloads.ExtractMixed(str(tmp_path), seed=7, cpus=2, scale=DOCS / 20_000)
    probe = workloads.ResumeProbe(str(tmp_path), 7, 2, wl.con, scale=DOCS / 8_000)
    try:
        probe.build_input(spark)
        measured, check = probe.measure(spark, tracing.Tracer(spark))
        assert check.failed == 0, check.notes
        assert measured["resumable.waves"] == 4 and measured["resumable.skipped_buckets"] == 32
        # a bucket that lost its manifest entry is reported, not ignored
        cyc = probe.cycle(spark, tracing.Tracer())
        manifest_dir = os.path.join(probe.out_dir, "_manifest")
        os.remove(os.path.join(manifest_dir, sorted(os.listdir(manifest_dir))[0]))
        assert probe.check(spark, cyc).failed > 0
    finally:
        wl.close()
