"""Per-query profiling for the optimization rounds: wall time (noop
sink), Spark job/stage/task counts, and the formatted physical plan.

Usage:
    python tools/profile_queries.py [--out plans/r14] [--suffix before]
        [--queries name1,name2] [--iters 2] [--json tools/profile_r14.json]

For every headline query (or the --queries subset) this:
  * runs the query ITERS times against the noop sink inside a unique
    job group, recording wall seconds per iteration;
  * counts the Spark jobs/stages/tasks the LAST iteration submitted
    (steady state — the first iteration pays codegen/JIT);
  * writes ``<out>/<name>_<suffix>.txt`` with ``explain("formatted")``
    so plan claims are checkable without running Spark.

The measurement methodology matches bench.py (guide §1.4: noop sink,
min-of-N) but adds the job/stage decomposition bench.py doesn't carry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    import bench  # HEADLINE list — keep one source of truth

    spark = get_spark(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    qs = {**registry.retired_queries(), **registry.queries()}

    names = (
        args.queries.split(",") if args.queries else list(bench.HEADLINE)
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    if args.out:
        os.makedirs(args.out, exist_ok=True)

    tracker = sc.statusTracker()
    report: dict[str, dict] = {}
    for name in names:
        drain_driver_backlog(spark)
        walls: list[float] = []
        jobs = stages = tasks = 0
        for it in range(args.iters):
            group = f"profile:{name}:{it}"
            sc.setJobGroup(group, f"profile {name} iter {it}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            walls.append(wall)
            if it == args.iters - 1:
                job_ids = tracker.getJobIdsForGroup(group)
                jobs = len(job_ids)
                stages = tasks = 0
                for jid in job_ids:
                    ji = tracker.getJobInfo(jid)
                    if ji is None:
                        continue
                    for sid in ji.stageIds:
                        si = tracker.getStageInfo(sid)
                        if si is not None and si.numTasks > 0:
                            stages += 1
                            tasks += si.numTasks
                report[name] = {
                    "walls": [round(w, 3) for w in walls],
                    "wall_min": round(min(walls), 3),
                    "plan_build_sec": round(t_build, 3),
                    "jobs": jobs,
                    "stages": stages,
                    "tasks": tasks,
                }
        if args.out:
            df = qs[name](spark, args.sf)
            plan = (
                spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                .explainString(df._jdf.queryExecution(), "formatted")
            )
            with open(
                os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        print(
            f"{name:28s} wall={report[name]['wall_min']:7.3f}s "
            f"jobs={report[name]['jobs']:3d} stages={report[name]['stages']:3d} "
            f"tasks={report[name]['tasks']:5d} "
            f"build={report[name]['plan_build_sec']:6.3f}s",
            flush=True,
        )

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
