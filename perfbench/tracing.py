"""Tracing for the traced run: spans around the benchmark's own calls, plus
folds of what Spark already records (the event log and the UDF profiler).

Nothing here reaches inside the program. Spans are kept in memory and
written out once at the end; each span also becomes the Spark job
description of the jobs it launches, which is how the event-log fold
attributes stages to spans.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark`` (optional) gets each span's name as
    the job description, so the stages a span launches can be found in the
    event log."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, time.monotonic(), parent=parent)
        self._stack.append(s)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self.spans.append(s)
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(parent)

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
        return path


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

TELEMETRY_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.sql.pyspark.udf.profiler": "perf",
}


@dataclass
class StageRollup:
    stage_id: int
    name: str = ""
    description: str | None = None
    wall_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0
    task_s: list[float] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (1.0 for a single task)."""
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0


_MB = 1024.0 * 1024.0


def fold_event_log(log_dir: str) -> dict[int, StageRollup]:
    """Per-stage rollup of every event log under ``log_dir``: wall, executor
    run time, CPU, GC, shuffle bytes, spill, task count and task times, plus
    the job description the stage ran under."""
    stages: dict[int, StageRollup] = {}
    desc_of_stage: dict[int, str | None] = {}

    def get(sid: int) -> StageRollup:
        return stages.setdefault(sid, StageRollup(sid))

    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    paths = [os.path.join(d, fn) for d, _, fns in os.walk(log_dir) for fn in fns
             if fn.startswith("events_")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        desc_of_stage[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = get(ev["Stage ID"])
                    info = ev["Task Info"]
                    st.tasks += 1
                    st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                    st.run_s += m["Executor Run Time"] / 1e3
                    st.cpu_s += m["Executor CPU Time"] / 1e9
                    st.gc_s += m["JVM GC Time"] / 1e3
                    st.shuffle_write_mb += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    ) / _MB
                    st.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / _MB
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = get(info["Stage ID"])
                    st.name = info.get("Stage Name", "")
                    if "Completion Time" in info and "Submission Time" in info:
                        st.wall_s = (info["Completion Time"] - info["Submission Time"]) / 1e3
    for sid, st in stages.items():
        st.description = desc_of_stage.get(sid)
    return stages


def stages_of(stages: dict[int, StageRollup], description: str) -> list[StageRollup]:
    """The stages launched under one span name, in stage-id order."""
    return [stages[s] for s in sorted(stages) if stages[s].description == description]


def rollup(group: list[StageRollup]) -> dict[str, float]:
    """Sum a group of stages; ``task_skew`` is the skew of the group's
    longest-running stage (the one a skewed task would hold up)."""
    if not group:
        return {"wall_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
                "task_skew": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    worst = max(group, key=lambda s: s.run_s)
    return {
        "wall_s": sum(s.wall_s for s in group),
        "cpu_s": sum(s.cpu_s for s in group),
        "gc_s": sum(s.gc_s for s in group),
        "tasks": sum(s.tasks for s in group),
        "task_skew": worst.task_skew,
        "shuffle_mb": sum(s.shuffle_write_mb for s in group),
        "spill_mb": sum(s.spill_mb for s in group),
    }


# ---------------------------------------------------------------------------
# UDF profiler
# ---------------------------------------------------------------------------

def profile_self_seconds(spark, dump_dir: str) -> dict[str, float]:
    """Self time per ``module:function``, summed over every UDF the session's
    ``perf`` profiler recorded (read back through ``spark.profile.dump``)."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for (file, _line, func), (_cc, _nc, tt, _ct, _callers) in pstats.Stats(
            path
        ).stats.items():
            key = f"{os.path.splitext(os.path.basename(file))[0]}:{func}"
            out[key] = out.get(key, 0.0) + tt
    return out
