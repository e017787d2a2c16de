"""Split a query's wall into (python build, catalyst plan, execute)
— identifies whether a slow bench query is driver-plan-bound (py4j +
analysis + optimization) or execution-bound. Mirrors bench.py's
per-iteration hygiene (gc between iterations, drain between queries).
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark


def main() -> None:
    names = sys.argv[1:] or [
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "dedup_incremental",
        "similarity_ann",
        "dedup_near_md5",
        "dedup_near",
        "dedup_simhash",
        "decontaminate",
        "similarity_ivf",
        "probe_ann_index",
        "probe_ivf_index",
        "bm25_search",
        "stats_pack",
        "join_shuffle",
        "similarity_topk",
    ]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "split", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**registry.retired_queries(), **registry.queries()}
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in names:
        drain_driver_backlog(spark)
        rows = []
        for _ in range(3):
            gc.collect()
            t0 = time.perf_counter()
            df = qs[name](spark, sf)
            t1 = time.perf_counter()
            # force analysis+optimization+physical planning
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0))
        best = min(rows, key=lambda r: r[3])
        print(
            f"{name:24s} build={best[0]:6.3f} plan={best[1]:6.3f} "
            f"exec={best[2]:6.3f} wall={best[3]:6.3f}   "
            f"all_walls={[round(r[3],2) for r in rows]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
