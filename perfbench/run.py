"""Benchmark runner for the spark-graft engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 1 --trace 0

Run from the repository root. One closed-loop client in one Spark driver
process at ``local[$(nproc)]`` (``SPARK_GRAFT_CPUS`` overrides) runs the
workload (see ``workloads.py``) on inputs generated from ``--seed``:

1. generate the inputs (untimed);
2. start the package's default session and run an untimed warm-up of
   the workload's operations (``setup_s``);
3. check outputs outside the timed window;
4. time whole passes over the operations: the workload's fixed number
   of passes, then more until ``--seconds`` of pass time is spent;
5. with ``--trace 1``, run the workload's untimed extra operations.

Before and after, a fixed CPU loop is timed (``host_ref_s``) and the
host's steal time read; both go to the run report as host context.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` every call into the package runs
under a span and its own Spark job group, and the metrics are per-layer
totals per timed pass, named after the package modules. Each run also
writes a report (host context, per-operation records and, when traced,
all spans with their self time) to ``.perfbench/results/``. Scratch data
lives under ``.perfbench/`` in the working directory and is removed at
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")
PKG = "irio2024_mapreduce_spark"

# Times are reported as measured. Dividing them by an in-run reference
# (a fixed Python loop, or a fixed Spark job) was tried on a shared
# 4-vCPU host: the reference jittered far more than the workload, and
# across seeds the quotients spread 2-6 times wider than the raw
# figures. The loop's timings and the host's steal time are kept in the
# run report as context for reading a slow run.
# The wall time of a pass (``battery_s`` in the run report) is not among
# them: its spread across seeds reached 0.29 of its median in a busy
# host phase, against 0.12 for the pass's CPU time.
END_TO_END = {
    "setup_s": "s",  # session start + warm-up pass
    "pass_cpu_s": "s",  # CPU of one pass: Python driver + JVM + Python workers
}


def host_ref_s(n: int = 1_000_000) -> float:
    """Thread CPU time of a fixed pure-Python loop (host speed probe)."""
    t0 = time.thread_time()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return time.thread_time() - t0


def percentiles(samples: list[float]) -> dict[str, float]:
    """p50 always; p90 only when at least 10 samples lie beyond it."""
    ranked = sorted(samples)
    out = {"p50": statistics.median(ranked)}
    k = math.ceil(0.9 * len(ranked))  # samples at or below p90
    if len(ranked) - k >= 10:
        out["p90"] = ranked[k - 1]
    return out


def package_fingerprint() -> str:
    """Hash of the package sources (the checkout carries no git data)."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, PKG)
    for root, dirs, files in os.walk(base):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, Python workers and the package's temp dirs
    write inside ``run_dir``; make the package importable by workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


class Op:
    def __init__(self, name: str, layer: str):
        self.name, self.layer = name, layer
        self.ok = False
        self.why = "output check failed"
        self.build_s = 0.0
        self.groups: dict[str, str] = {}


class Run:
    """State of one benchmark run shared with the workload."""

    clock = staticmethod(time.perf_counter)

    def __init__(self, args, work_dir: str):
        self.seed, self.size, self.work_dir = args.seed, args.size, work_dir
        self.traced = bool(args.trace)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.jvm_pid = 0
        self.host_ref: list[float] = []
        self.steal_s: list[float] = []
        from spans import NullTracer

        self.tracer = NullTracer()

    def sample_host(self) -> None:
        """Host context: the reference loop's CPU time and the steal
        time counter (the share of time the hypervisor ran others)."""
        self.host_ref += [host_ref_s() for _ in range(3)]
        with open("/proc/stat") as fh:
            self.steal_s.append(int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK"))

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.problems.append(f"{name}: {why}")
        print(f"FAILED {name}: {why}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def op(self, name: str, layer: str, timed: bool = True):
        """One call into the package. The workload sets ``op.ok`` once the
        call's output checks pass (``op.why`` says what failed otherwise).
        Exceptions are counted as failures and not propagated."""
        from irio2024_mapreduce_spark.session import drain_driver_backlog

        drain_driver_backlog()  # py4j reference backlog, outside the timing
        self.tracer.new_op()
        op = Op(name, layer)
        self.attempted += 1
        t0 = self.clock()
        try:
            with self.tracer.span(name, layer):
                yield op
        except Exception as e:  # noqa: BLE001
            op.ok = False
            op.why = f"raised {type(e).__name__}: {str(e)[:300]}"
        wall = self.clock() - t0
        if not op.ok:
            self.fail(name, op.why)
        self.records.append({
            "name": name, "layer": layer, "timed": timed, "ok": op.ok,
            "wall_s": wall, "build_s": op.build_s, "groups": op.groups,
        })
        if timed and self.passes and "done" not in self.passes[-1]:
            self.passes[-1]["wall_s"] += wall

    @contextlib.contextmanager
    def phase(self, op: Op, phase: str):
        """A traced sub-step of ``op`` with its own job group."""
        with self.tracer.span(f"{op.name}.{phase}", op.layer, jobs=True) as s:
            if s is not None:
                op.groups[phase] = s.group
            yield

    @contextlib.contextmanager
    def pass_window(self):
        """One timed pass; brackets its Spark stages by stage id and its
        CPU time by process."""
        from irio2024_mapreduce_spark.session import drain_driver_backlog
        from spans import max_stage_id

        drain_driver_backlog(self.spark)  # also lets the JVM reclaim blocks
        p = {"wall_s": 0.0}
        if self.traced:  # listing the stages costs about a second
            p["first_stage"] = max_stage_id(self.spark) + 1
        self.passes.append(p)
        cpu0 = cpu_split(self.jvm_pid)
        with self.tracer.span("pass", "perfbench"):
            yield
        p.update({k: v1 - v0 for (k, v1), v0 in
                  zip(cpu_split(self.jvm_pid).items(), cpu0.values())})
        p["done"] = True
        if self.traced:
            p["end"] = max_stage_id(self.spark)


def jvm_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _proc_times() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own CPU s, reaped children's CPU s) for every
    process."""
    tck = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(f[1]), (int(f[11]) + int(f[12])) / tck,
                       (int(f[13]) + int(f[14])) / tck)
    return out


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the Python driver (this process), the JVM,
    and the JVM's descendants (the Python workers), counting exited
    workers through their parents' reaped-children times."""
    procs = _proc_times()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    workers = procs[jvm_pid][2]
    todo = list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        workers += procs[pid][1] + procs[pid][2]
        todo += kids.get(pid, [])
    return {"driver_cpu_s": time.process_time(), "jvm_cpu_s": procs[jvm_pid][1],
            "worker_cpu_s": workers}


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    cpu = [p["driver_cpu_s"] + p["jvm_cpu_s"] + p["worker_cpu_s"] for p in run.passes]
    return {"setup_s": setup_s, "pass_cpu_s": statistics.median(cpu)}


def per_layer(run: Run, wl, session_s: float, warmup_s: float, gc_s: float):
    """Per-layer totals per timed pass; layers a workload does not run
    read 0."""
    import workloads
    from spans import stage_metrics, sum_stages

    stats = run.tracer.group_stats()
    stages = stage_metrics(run.spark)
    n = len(run.passes)
    scan = sum_stages(stages, [sid for p in run.passes
                               for sid in range(p["first_stage"], p["end"] + 1)])
    out = dict.fromkeys(workloads.layer_units(), 0.0)
    out.update({
        "session.start_s": session_s,
        "session.warmup_s": warmup_s,
        "sources.tables.input_mb": scan["inputBytes"] / 1e6 / n,
        "sources.tables.input_rows": scan["inputRecords"] / n,
        "jvm.gc_s": gc_s / n,
        "jvm.peak_rss_mb": jvm_rss_mb(run.jvm_pid),
        "python.driver_cpu_s": statistics.median(p["driver_cpu_s"] for p in run.passes),
        "python.worker_cpu_s": statistics.median(p["worker_cpu_s"] for p in run.passes),
        "trace.overhead_s": run.tracer.bookkeeping_s / n,
    })
    out.update(wl.layer_metrics(stats))
    return out, stats


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(run_dir)
    try:
        import workloads
        from irio2024_mapreduce_spark.session import get_spark
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = Run(args, run_dir)
    spark = None
    try:
        marks = {"start": run.clock()}
        wl = workloads.WORKLOADS[args.workload](run)  # generates the inputs
        marks["inputs"] = run.clock()
        run.sample_host()
        t0 = run.clock()
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        spark.sparkContext.setLogLevel("ERROR")
        run.spark = spark
        run.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        session_s = run.clock() - t0
        wl.warmup()
        warmup_s = run.clock() - t0 - session_s
        marks["warmup"] = run.clock()
        wl.check()
        marks["check"] = run.clock()
        if run.traced:
            from spans import Tracer

            run.tracer = Tracer(spark)
        gc0 = jvm_gc_s(spark)
        marks["measure_start"] = run.clock()
        wl.measure(args.seconds)
        marks["measure"] = run.clock()
        gc_s = jvm_gc_s(spark) - gc0
        wl.after_measure()
        marks["after_measure"] = run.clock()
        run.sample_host()
        if run.traced:
            metrics, stats = per_layer(run, wl, session_s, warmup_s, gc_s)
            units = workloads.layer_units()
        else:
            metrics = end_to_end(run, session_s + warmup_s)
            units, stats = END_TO_END, {}
        report = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "problems": run.problems,
            "context": {
                "nproc": len(os.sched_getaffinity(0)),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "load_avg": os.getloadavg(),
                "package_sha256": package_fingerprint(),
                "python": sys.version.split()[0],
            },
            "op_ms": percentiles([r["wall_s"] * 1000 for r in run.records if r["timed"]]),
            "battery_s": statistics.median(p["wall_s"] for p in run.passes),
            "host_ref_s": run.host_ref,
            "steal_s": run.steal_s[-1] - run.steal_s[0],
            "setup_raw_s": session_s + warmup_s,
            "phase_end_s": {k: v - marks["start"] for k, v in marks.items()},
            "records": run.records, "passes": run.passes,
            "metrics": metrics,
        }
        if run.traced:
            report["trace"] = run.tracer.dump(stats)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out_path = os.path.join(
            WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out_path, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{name:48s} {value:14.6g} {units[name]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())
