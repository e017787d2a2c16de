"""Where does per-iteration PLAN-BUILD time go? (r14 opt session 2)

For each target query: wall-time the Python build (``fn(spark,
sf_dir)``), with ``DataFrame.localCheckpoint`` monkeypatched to
record each call's wall and the Catalyst phase breakdown of the
checkpointed frame's own QueryExecution (analysis / optimization /
planning — the ``toRdd`` a lazy checkpoint forces at build time).
Then one noop execution, timed separately, with the job count from
the status tracker.

Output: JSON to stdout (and optionally $PROFILE_OUT).

Usage:
    python tools/profile_build_phases.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:  # Spark 4: instances are the classic subclass, patch THAT
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - older Spark
    from pyspark.sql import DataFrame

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark

DEFAULT_QUERIES = [
    "dedup_near_md5",
    "dedup_near",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_incremental",
    "dedup_clusters",
    "similarity_ann",
    "similarity_ivf",
    "join_shuffle",
    "stats_pack",
]


def _phases(jdf) -> dict[str, float]:
    """Catalyst phase durations (ms) from a JVM DataFrame's tracker."""
    out = {}
    try:
        tracker = jdf.queryExecution().tracker()
        phases = tracker.phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            summ = kv._2()
            out[str(kv._1())] = float(summ.endTimeMs() - summ.startTimeMs())
    except Exception as exc:  # phases API is diagnostic-only
        out["_err"] = str(exc)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    spark = get_spark()
    # retired queries are bench surface too; a registered name wins
    qs = {**registry.retired_queries(), **registry.queries()}

    sc = spark.sparkContext
    # warm-up
    spark.range(1000).selectExpr("sum(id)").collect()

    orig_ckpt = DataFrame.localCheckpoint
    ckpt_log: list[dict] = []

    def timed_ckpt(self, eager=True):
        t0 = time.perf_counter()
        out = orig_ckpt(self, eager=eager)
        wall = time.perf_counter() - t0
        ckpt_log.append(
            {
                "wall_s": round(wall, 4),
                "eager": eager,
                "phases_ms": _phases(self._jdf),
            }
        )
        return out

    DataFrame.localCheckpoint = timed_ckpt
    report: dict[str, dict] = {}
    try:
        for name in names:
            fn = qs[name]
            reps = []
            for _ in range(args.reps):
                drain_driver_backlog(spark)
                ckpt_log.clear()
                jobs0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                build = time.perf_counter() - t0
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                execute = time.perf_counter() - t1
                jobs1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
                reps.append(
                    {
                        "build_s": round(build, 3),
                        "execute_s": round(execute, 3),
                        "jobs": jobs1 - jobs0,
                        "ckpts": list(ckpt_log),
                        "ckpt_total_s": round(
                            sum(c["wall_s"] for c in ckpt_log), 3
                        ),
                        "main_phases_ms": _phases(df._jdf),
                    }
                )
            report[name] = {
                "reps": reps,
                "build_min_s": min(r["build_s"] for r in reps),
                "execute_min_s": min(r["execute_s"] for r in reps),
            }
            print(
                f"{name:24s} build {report[name]['build_min_s']:6.3f}s "
                f"exec {report[name]['execute_min_s']:6.3f}s "
                f"ckpt {reps[-1]['ckpt_total_s']:6.3f}s "
                f"jobs {reps[-1]['jobs']}",
                file=sys.stderr,
            )
    finally:
        DataFrame.localCheckpoint = orig_ckpt

    out = json.dumps(report)
    dest = os.environ.get("PROFILE_OUT")
    if dest:
        with open(dest, "w") as fh:
            fh.write(out)
    print(out)


if __name__ == "__main__":
    main()
