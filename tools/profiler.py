"""Per-layer profile and hash-checked A/B of registered queries.

    python tools/profiler.py layers [--sf DIR] [--iters N] [--out FILE]
        [--explain DIR] [query ...]
    python tools/profiler.py ab [--patch MOD:ATTR=MOD_OR_FILE.py:ATTR]...
        [--conf K=V]... [--sf DIR] [--out FILE] [query ...]

Each run splits a query into spans under their own Spark job groups
(``perfbench.spans.Tracer``): ``build`` (the query function plus the
lazy ``localCheckpoint`` jobs it forces), ``plan`` (``executedPlan()``)
and ``exec`` (a noop-sink write), each with wall, jobs, stages, tasks,
max tasks per stage, executor run/CPU, shuffle read/write and spill,
plus the compile layer executor CPU cannot show: ``codegen_compiles``
(classes Janino compiled, from Spark's ``CodegenMetrics``) and
``jit_ms`` (JVM JIT compile time), each the change across the span.
The status store is read after every run, before
``spark.ui.retainedStages`` evicts its stages. ``layers`` keeps each
query's fastest of N runs, plus ``explain("formatted")`` dumps with
``--explain``. ``ab`` hashes the collected rows of arm A (the code as
it is) and arm B (patches and confs applied, then undone); on a
mismatch it prints both hashes and exits 1 untimed, else it alternates
A/B/B/A twice per query in one session and reports each
arm's min wall, median executor CPU and per-span jobs/CPU. Queries
default to ``bench.HEADLINE``, ``--sf`` to ``$SPARK_GRAFT_SF_DIR`` or
the driver's oracle fixture; ``$SPARK_GRAFT_CPUS`` sets ``local[N]``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import json
import os
import runpy
import statistics
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.operators.similarity import DRIVER_ORACLE_SF
from irio2024_mapreduce_spark.session import (
    compile_counters,
    drain_driver_backlog,
    get_spark,
)
from perfbench.spans import Tracer
from tools.check_oracle import value_hash

SPANS = ("build", "plan", "exec")


class HashMismatch(Exception):
    """Arms returned different rows; args[0] is {query: (hash A, hash B)}."""


def _queries() -> dict:  # a registered name wins, as in bench.py
    return {**registry.retired_queries(), **registry.queries()}


def _stage_tasks(tracker, group: str) -> list[int]:
    """Tasks run by each stage of a job group; skipped stages ran none."""
    jobs = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
    stages = {sid for info in jobs if info for sid in info.stageIds}
    infos = (tracker.getStageInfo(sid) for sid in stages)
    return [n for si in infos
            if si and (n := si.numCompletedTasks + si.numFailedTasks)]


def run_once(spark, fn, sf_dir: str, name: str):
    """One traced build/plan/exec run: ({"wall_s", span: record}, df)."""
    # each Tracer numbers spans from 1: the run tag keeps job groups apart
    tracer, tag = Tracer(spark), f"{name}#{uuid.uuid4().hex[:12]}"
    gc.collect()
    # read outside the spans, so the py4j calls stay out of their walls
    counters = [compile_counters(spark)]
    with tracer.span(f"{tag}:build", "build", jobs=True):
        df = fn(spark, sf_dir)
    counters.append(compile_counters(spark))
    with tracer.span(f"{tag}:plan", "plan", jobs=True):
        df._jdf.queryExecution().executedPlan()
    counters.append(compile_counters(spark))
    with tracer.span(f"{tag}:exec", "exec", jobs=True):
        df.write.mode("overwrite").format("noop").save()
    counters.append(compile_counters(spark))
    groups = tracer.group_stats()
    tracker = spark.sparkContext.statusTracker()
    rec = {}
    for i, s in enumerate(tracer.spans):
        g, tasks = groups[s.group], _stage_tasks(tracker, s.group)
        (cg0, jit0), (cg1, jit1) = counters[i], counters[i + 1]
        spill = g["memoryBytesSpilled"] + g["diskBytesSpilled"]
        rec[s.layer] = {
            "wall_s": round(s.end - s.start, 4), "jobs": g["jobs"],
            "stages": len(tasks), "tasks": sum(tasks),
            "max_tasks_per_stage": max(tasks, default=0),
            "executor_run_s": round(g["executorRunTime"] / 1e3, 4),
            "executor_cpu_s": round(g["executorCpuTime"] / 1e9, 4),
            "shuffle_read_mb": round(g["shuffleReadBytes"] / 1e6, 4),
            "shuffle_write_mb": round(g["shuffleWriteBytes"] / 1e6, 4),
            "spill_mb": round(spill / 1e6, 4),
            "codegen_compiles": cg1 - cg0, "jit_ms": jit1 - jit0,
        }
    rec["wall_s"] = round(sum(rec[s]["wall_s"] for s in SPANS), 4)
    return rec, df


def layers(spark, sf_dir: str, names, iters: int = 2, explain_dir=None) -> dict:
    """{query: fastest run's record plus every run's wall}."""
    qs = _queries()
    out = {}
    for name in names:
        drain_driver_backlog(spark)
        runs = [run_once(spark, qs[name], sf_dir, name) for _ in range(iters)]
        best, df = min(runs, key=lambda r: r[0]["wall_s"])
        out[name] = {**best, "walls_s": [r["wall_s"] for r, _ in runs]}
        if explain_dir:
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        print(f"{name:24s} " + "  ".join(
            f"{s} {best[s]['wall_s']:.3f}s/{best[s]['jobs']}j/"
            f"{best[s]['executor_cpu_s']:.2f}cpu/"
            f"{best[s]['codegen_compiles']}cg/{best[s]['jit_ms']}msjit"
            for s in SPANS
        ), flush=True)
    return out


def parse_patch(spec: str) -> tuple:
    """``MOD:ATTR=MOD_OR_FILE.py:ATTR`` -> (module, attr, replacement)."""
    target, _, source = spec.partition("=")
    mod_name, _, attr = target.partition(":")
    src, _, src_attr = source.rpartition(":")
    if not (mod_name and attr and src and src_attr):
        raise ValueError(f"bad --patch {spec!r}: want MOD:ATTR=SOURCE:ATTR")
    mod = importlib.import_module(mod_name)
    getattr(mod, attr)  # a typo fails here, not inside arm B
    ns = (runpy.run_path(src) if src.endswith(".py")
          else vars(importlib.import_module(src)))
    return mod, attr, ns[src_attr]


@contextlib.contextmanager
def _arm(spark, label: str, patches, confs: dict[str, str]):
    """Yield the arm's query picker; arm B applies the patches and confs
    and restores both on exit. The registry holds function objects, so a
    patched query function is also swapped in by identity."""
    if label == "A":
        yield lambda fn: fn
        return
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    swap = {old: new for (_, _, old), (_, _, new) in zip(saved, patches)}
    saved_confs = {k: spark.conf.get(k, None) for k in confs}
    try:
        for mod, attr, new in patches:
            setattr(mod, attr, new)
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield lambda fn: swap.get(fn, fn)
    finally:
        for mod, attr, old in reversed(saved):
            setattr(mod, attr, old)
        for k, v in saved_confs.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def _arm_summary(runs: list[dict]) -> dict:
    def med(f):
        return round(statistics.median(map(f, runs)), 4)

    spans = {s: {"jobs": med(lambda r: r[s]["jobs"]),
                 "executor_cpu_s": med(lambda r: r[s]["executor_cpu_s"])}
             for s in SPANS}
    return {"wall_min_s": min(r["wall_s"] for r in runs), "spans": spans,
            "executor_cpu_median_s": med(
                lambda r: sum(r[s]["executor_cpu_s"] for s in SPANS))}


def ab(spark, sf_dir: str, names, patches=(), confs=None, rounds: int = 2) -> dict:
    """{query: {"hash", "A", "B"}}; raises :class:`HashMismatch` before
    any timed run when the arms' rows differ."""
    qs, confs = _queries(), confs or {}

    def run(label, name, measure):
        with _arm(spark, label, patches, confs) as pick:
            return measure(pick(qs[name]))

    def result_hash(fn):
        df = fn(spark, sf_dir)
        return value_hash(df.columns, [tuple(r) for r in df.collect()])

    hashes = {n: tuple(run(arm, n, result_hash) for arm in "AB") for n in names}
    bad = {n: h for n, h in hashes.items() if h[0] != h[1]}
    if bad:
        raise HashMismatch(bad)
    out = {}
    for name in names:
        drain_driver_backlog(spark)
        runs = {"A": [], "B": []}
        for arm in "ABBA" * rounds:
            runs[arm].append(run(
                arm, name, lambda fn: run_once(spark, fn, sf_dir, name)[0]))
        out[name] = {"hash": hashes[name][0],
                     **{arm: _arm_summary(r) for arm, r in runs.items()}}
        print(f"{name:24s} " + "  ".join(
            f"{arm} {out[name][arm]['wall_min_s']:.3f}s "
            f"{out[name][arm]['executor_cpu_median_s']:.2f}cpu" for arm in "AB"
        ), flush=True)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    lay = sub.add_parser("layers")
    lay.add_argument("--iters", type=int, default=2)
    lay.add_argument("--explain", default=None, metavar="DIR")
    abp = sub.add_parser("ab")
    abp.add_argument("--patch", action="append", default=[])
    abp.add_argument("--conf", action="append", default=[], metavar="K=V")
    for p in (lay, abp):
        p.add_argument("--sf", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", DRIVER_ORACLE_SF))
        p.add_argument("--out", default=None, help="JSON report path")
        p.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    names = args.queries or HEADLINE
    if unknown := sorted(set(names) - set(_queries())):
        ap.error(f"unknown queries: {unknown}")
    if args.mode == "ab":  # no --patch/--conf: an A/A noise check
        patches = [parse_patch(p) for p in args.patch]
        confs = dict(c.partition("=")[::2] for c in args.conf)

    spark = get_spark("profile",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    if args.mode == "layers":
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
        report = layers(spark, args.sf, names, args.iters, args.explain)
    else:
        try:
            report = ab(spark, args.sf, names, patches, confs)
        except HashMismatch as e:
            for name, (a, b) in e.args[0].items():
                print(f"{name}: result hash A {a} != B {b}; not timed")
            return 1
    doc = {"mode": args.mode, "sf": args.sf, "queries": report,
           "cpus": spark.sparkContext.defaultParallelism}
    out = args.out or f"profile_{args.mode}.json"
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
