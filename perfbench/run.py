#!/usr/bin/env python3
"""The extraction benchmark: one command, two workloads.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 8 --trace 0

Run from the repository root. The command builds the workload's input from
``--seed``, sets up from cold (imports, a session on a new JVM, a warm-up
pass), checks one untimed pass against the DuckDB oracle, lets the JVM
settle, then runs passes back to back for ``--seconds``. With ``--trace 1``
it then relaunches the JVM with Spark's event log and UDF profiler on, times
a traced window the same way, and probes the layers (see
perfbench/README.md). It prints one line per metric and, as the last line,
a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``. It exits non-zero when the
gate finds a wrong turn.

Everything it writes stays under ``.perfbench/`` at the repository root; the
span file of a traced run is kept there, the rest is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("extract_mixed", "reassemble_skewed")
_PROFILER = "spark.sql.pyspark.udf.profiler"
# Host speed the time metrics are reported at, as read by ``host_probe``.
# On a shared 4-core VM, the probe and the workloads' pass walls and CPU
# per turn were measured moving together by 2x and more within an hour; the
# probe runs before set-up and before every timed pass, and time metrics are
# scaled from the run's median probe to this reference.
REF_PROBE_MB_S = 1500.0
# The Arrow stage loop and its per-row output dicts. cProfile cannot see
# pyarrow's Cython constructors, so their time lands in the loop's self time.
_OUTPUT_BUILD = ("extraction:fn", "extraction:<listcomp>")
# kernel functions whose profiler self time the traced run reports
SELF_TIME_FUNCS = (
    "html:extract_blocks_stream", "layout:extract_layout_blocks", "table:segment_table_grid",
    "extract:finalize_turn", "textnorm:normalize_ws", "extraction:_batch_words",
)


def _prepare_env(work: str) -> int:
    """Point every writer at ``work`` and pin the core count to ``nproc``,
    before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    sys.path[:0] = [ROOT, HERE]
    return cpus


_PROBE_BUF = b"x" * (256 * 1024)


def host_probe(threads: int = 4, reps: int = 360) -> float:
    """CPU control probe: md5 throughput in MB/s of ``threads`` threads, no
    Spark. hashlib releases the GIL on buffers this large, so the threads
    run in parallel, like the workload's tasks."""

    def work():
        for _ in range(reps):
            hashlib.md5(_PROBE_BUF).digest()

    ts = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return threads * reps * len(_PROBE_BUF) / (time.perf_counter() - t0) / 1e6


def _stop(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One run of one workload: set-up, gate, timed window, traced probes."""

    def __init__(self, args, work: str, cpus: int):
        self.args, self.work, self.cpus = args, work, cpus
        self.layers: dict[str, float] = {}
        self.spark = None
        self.quiet_s: list[float] = []
        self.probes: list[float] = []  # every host probe of the untraced part
        self.steal: list[float] = []  # share of each pass's CPUs the hypervisor took

    def session(self, extra_conf=None) -> float:
        """Stop the current session and its JVM, if any, and create a new
        session on a newly launched JVM; return the creation time."""
        from deepdoctection_spark.config import get_spark

        if self.spark is not None:
            _stop(self.spark)
            self.spark = None
        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=extra_conf)
        return time.perf_counter() - t0

    def quiet(self) -> None:
        self.quiet_s.append(procstat.wait_quiet())

    def probe(self) -> float:
        """The host probe, once the process tree has stopped using CPU, so
        that work the program leaves running cannot depress the reading."""
        self.quiet()
        self.probes.append(host_probe(self.cpus))
        return self.probes[-1]

    def timed_pass(self, wl) -> float | None:
        t0 = time.perf_counter()
        try:
            wl.run_pass(self.spark)
        except Exception:  # a failed pass counts all of its turns as failed
            traceback.print_exc()
            return None
        return time.perf_counter() - t0

    def settle(self, wl) -> None:
        """A full GC drops what set-up and the gate left on the JVM heap (and
        lets Spark clean their shuffle files); the untimed passes after it
        regrow the heap to what the passes need, and let pass walls and
        JIT-compiler CPU settle."""
        self.spark.sparkContext._jvm.System.gc()
        settle_end = time.monotonic() + wl.settle_s
        while time.monotonic() < settle_end:
            wl.run_pass(self.spark)

    def window(self, wl, seconds: float) -> tuple[list[float | None], list[float], list[float]]:
        """Passes back to back for ``seconds``: each pass's wall, its
        process-tree CPU seconds and the host probe read before it. A pass's
        CPU runs until the tree is quiet again, so CPU the pass leaves
        running in the background (GC, JIT, cleaners) is charged to it."""
        walls: list[float | None] = []
        cpu_s: list[float] = []
        probes: list[float] = []
        self.quiet()
        t_end = time.monotonic() + seconds
        while time.monotonic() < t_end or not walls:
            probes.append(host_probe(self.cpus))
            c0, s0 = procstat.tree_cpu_s(), procstat.host_steal_s()
            walls.append(self.timed_pass(wl))
            self.steal.append((procstat.host_steal_s() - s0) / (walls[-1] or 1) / self.cpus)
            self.quiet()
            cpu_s.append(procstat.tree_cpu_s() - c0)
        return walls, cpu_s, probes

    def execute(self) -> dict:
        args = self.args
        t0 = time.perf_counter()
        import tracing
        import workloads

        imports_s = time.perf_counter() - t0
        self.layers["host.md5_units_per_s"] = self.probe()  # control probe
        wl = workloads.WORKLOADS[args.workload](self.work, args.seed, self.cpus)
        try:
            res = self._measure(wl, imports_s)
            if args.trace:
                res["spans"] = self._trace_layers(wl, res, tracing, workloads)
                self.layers["peak_rss_mb"] = res["end_to_end"]["peak_rss_mb"]
                res["layers"] = self.layers
                res["bypassed"] = wl.bypasses
            for note in (n for c in self.checks for n in c.notes):
                print(f"gate: {note}", file=sys.stderr)
            res["attempted"] = sum(c.attempted for c in self.checks) + wl.n_turns * res["passes"]
            res["failed"] = sum(c.failed for c in self.checks) + wl.n_turns * res["failed_passes"]
            res["end_to_end"]["error_frac"] = res["failed"] / res["attempted"]
            self.layers.setdefault("host.md5_units_per_s_after", self.probe())
            res["host"] = [self.layers["host.md5_units_per_s"],
                           self.layers["host.md5_units_per_s_after"]]
            res["quiet_s"] = sum(self.quiet_s)
            res["steal"] = self.steal
            res["probes"] = self.probes
            return res
        finally:
            wl.close()
            if self.spark is not None:
                _stop(self.spark)

    def _measure(self, wl, imports_s) -> dict:
        """The cold set-up, the gate, the settle phase and the untraced
        window. Set-up is the imports, a session on a newly launched JVM and
        a warm-up pass; the input build between the session and the warm-up
        pass is benchmark scaffolding and not counted."""
        session_s = self.session()
        t0 = time.perf_counter()
        wl.build_input(self.spark)
        input_build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.run_pass(self.spark)
        warmup_s = time.perf_counter() - t0
        setup_s = imports_s + session_s + warmup_s
        self.layers.update({"setup.session_s": session_s, "setup.warmup_s": warmup_s,
                            "setup.input_build_s": input_build_s})

        t0 = time.perf_counter()
        g = wl.gate(self.spark)
        gate_s = time.perf_counter() - t0
        self.checks = [g]
        self.layers.update(g.counts)
        self.settle(wl)

        # peak memory covers the timed passes only
        procstat.reset_peak_rss()
        walls, cpu_s, probes = self.window(wl, self.args.seconds)
        ok = [w for w in walls if w is not None]
        raw = {
            "turns_per_s": wl.n_turns / statistics.median(ok) if ok else 0.0,
            # every CPU second of the window, so a GC or JIT burst counts
            # whichever pass it lands in
            "cpu_s_per_kturn": sum(cpu_s) / (wl.n_turns * len(cpu_s) / 1e3),
            "setup_s": setup_s,
        }
        # host speed against the reference: the window's probes scale the
        # window's metrics; set-up, which ran before it, is scaled by every
        # probe of the run so far
        speed = statistics.median(probes) / REF_PROBE_MB_S
        setup_speed = statistics.median(self.probes + probes) / REF_PROBE_MB_S
        self.probes += probes
        return {
            "workload": wl.name, "seed": self.args.seed, "cpus": self.cpus,
            "turns": wl.n_turns, "passes": len(walls), "walls_s": walls, "cpu_s": cpu_s,
            "failed_passes": len(walls) - len(ok),
            "input_build_s": input_build_s, "gate_s": gate_s,
            "host_speed": speed, "raw": raw,
            "end_to_end": {
                "turns_per_s": raw["turns_per_s"] / speed,
                "cpu_s_per_kturn": raw["cpu_s_per_kturn"] * speed,
                "setup_s": setup_s * setup_speed,
                "peak_rss_mb": procstat.tree_peak_rss_mb(),
            },
        }

    def _trace_layers(self, wl, res: dict, tracing, workloads) -> str:
        """Relaunch with Spark's telemetry on, time a traced window against
        the untraced one, then probe the layers."""
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        self.session(dict(tracing.TELEMETRY_CONF, **{"spark.eventLog.dir": log_dir}))
        self.settle(wl)
        self.spark.profile.clear()  # keep only the traced window's passes
        # half as long as the untraced window, to keep a traced run short
        walls, _cpu_s, probes = self.window(wl, self.args.seconds / 2)
        self.spark.conf.unset(_PROFILER)
        ok = [w for w in walls if w is not None]
        res["passes"] += len(walls)
        res["failed_passes"] += len(walls) - len(ok)
        speed = statistics.median(probes) / REF_PROBE_MB_S
        traced_tps = wl.n_turns / statistics.median(ok) / speed if ok else 0.0
        self.layers["trace.turns_per_s"] = traced_tps
        self.layers["trace.overhead"] = (
            res["end_to_end"]["turns_per_s"] / traced_tps if traced_tps else 0.0
        )
        tracer = tracing.Tracer(self.spark)
        probed, checks = wl.probe_layers(self.spark, tracer)
        self.layers.update(probed)
        self.checks += checks
        self.layers.update(workloads.kernel_isolate(self.args.seed))
        prof = tracing.profile_self_seconds(self.spark, os.path.join(self.work, "profile"))
        n = max(1, len(walls))
        self.layers["extraction.output_build_s"] = sum(prof.get(f, 0.0) for f in _OUTPUT_BUILD) / n
        for f in SELF_TIME_FUNCS:
            self.layers[f"kernels.self_s.{f.split(':')[1].strip('_')}"] = prof.get(f, 0.0) / n
        _stop(self.spark)
        self.spark = None
        stages = tracing.fold_event_log(log_dir)
        self.layers.update(wl.fold_layers(stages))
        out_dir = os.path.join(ROOT, ".perfbench", "spans")
        return tracer.write(
            os.path.join(out_dir, f"{wl.name}-seed{self.args.seed}-{os.getpid()}.json")
        )


def _metrics(spec: list[dict], values: dict[str, float], bypassed: tuple[str, ...]) -> dict:
    """Every metric ``spec`` names, with its unit. A per-layer metric the
    workload does not produce is 0 only if its layer is one the workload
    bypasses; anything else missing is a bug in the benchmark."""
    out = {}
    for m in spec:
        name = m["name"]
        if name not in values and not name.startswith(bypassed):
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": float(values.get(name, 0.0)), "unit": m["unit"]}
    unknown = set(values) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return out


def _r(xs):
    return [round(x, 3) if x is not None else None for x in xs]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    cpus = _prepare_env(work)
    try:
        res = Run(args, work, cpus).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload={res['workload']} seed={res['seed']} trace={args.trace} cpus={res['cpus']} "
          f"turns={res['turns']} passes={res['passes']} "
          f"walls_s={_r(res['walls_s'])} cpu_s={_r(res['cpu_s'])} "
          f"input_build_s={res['input_build_s']:.3f} gate_s={res['gate_s']:.3f} "
          f"quiet_s={res['quiet_s']:.3f} steal={_r(res['steal'])} "
          f"host_probe_mb_s={_r(res['host'])} host_speed={res['host_speed']:.3f} "
          f"probes={[round(p) for p in res['probes']]}")
    for name, value in res["raw"].items():
        print(f"{name + '.raw':<28} {value:.6g} {units[name]} (at this run's host speed)")
    for name, value in e2e.items():
        print(f"{name:<28} {value:.6g} {units.get(name, '1')}")
    if args.trace:
        layers = res.pop("layers")
        for name in sorted(layers):
            print(f"{name:<34} {layers[name]:.6g} {units[name]}")
        print(f"spans {res['spans']}")
        metrics = _metrics(spec["per_layer"], layers, res["bypassed"])
    else:
        gated = {m["name"] for m in spec["end_to_end"]}
        metrics = _metrics(spec["end_to_end"], {k: v for k, v in e2e.items() if k in gated}, ())
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
