"""Dup-heavy inputs and the write-path cycle at any size, on perfbench's
generator and cycle (imported, not copied).

    python tools/scale.py make --docs N [--dup-factor 3] [--seed 1]
        [--tables SF_DIR] --out DIR
    python tools/scale.py pipeline --docs N --batch-docs B --batches K
        [--seed 1] [--out FILE]

``make`` writes a complete sf dir: ``documents`` and ``embeddings`` from
``perfbench/gen.py`` (``make_corpus``: N docs, N / dup-factor distinct
texts of which a fifth are planted near copies), each split over
several parquet files so a scan has real splits; the planted exact and
near pairs as ``planted_pairs.json``; and the star-schema tables copied
from ``--tables`` (default: the engine's sf0.1 fixture). Any registered
query then runs at that size through ``tools/profiler.py layers|ab --sf
DIR``. Needs pyarrow only, no Spark session.

``pipeline`` drives perfbench's write-path cycle (``IngestCycle``):
``prepare_corpus`` over N generated day-0 docs, the ANN and IVF index
builds, K ``ingest_batch`` batches of B docs, ``maintain_corpus_index``
and stored probes, with the cycle's own output checks. It runs inside a
perfbench ``Run`` with a ``Tracer``, so every step has its own Spark job
group, and writes the cycle's per-layer metrics (wall, jobs, executor
CPU, bytes written, dup recall, probe recall) as JSON. Exits 1 if any
check failed. ``$SPARK_GRAFT_CPUS`` sets ``local[N]``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from run import Run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import IngestCycle  # noqa: E402

from irio2024_mapreduce_spark.operators.similarity import DRIVER_ORACLE_SF  # noqa: E402

# the engine's sf0.1 fixture, beside the oracle's sf0.01
TABLES = os.path.join(os.path.dirname(DRIVER_ORACLE_SF), "sf0.1")
FILES_PER_TABLE = 8
PAIRS = "planted_pairs.json"


def make(out: str, docs: int, dup_factor: float = 3.0, seed: int = 1,
         tables: str = TABLES) -> gen.Corpus:
    """Write the sf dir ``out`` (see the module doc); returns the corpus."""
    corpus = gen.make_corpus(seed, docs, dup_factor)
    gen.write_sf_dir(out, tables, seed, corpus)
    for name in ("documents", "embeddings"):
        path = os.path.join(out, f"{name}.parquet")
        table = pq.read_table(path)
        os.remove(path)
        os.makedirs(path)
        step = -(-table.num_rows // FILES_PER_TABLE)
        for i in range(0, table.num_rows, step):
            pq.write_table(table.slice(i, step),
                           os.path.join(path, f"part-{i // step:05d}.parquet"))
    with open(os.path.join(out, PAIRS), "w") as fh:
        json.dump({"seed": seed, "docs": docs, "dup_factor": corpus.dup_factor,
                   "exact": corpus.exact_pairs, "near": corpus.near_pairs}, fh)
    return corpus


def pipeline(spark, docs: int, batch_docs: int, batches: int, seed: int,
             work_dir: str) -> tuple[dict, Run]:
    """One traced write-path cycle at these sizes: (metrics, run), where
    ``run.failed`` counts failed checks and ``run.problems`` names them."""
    cycle_cls = type("ScaledCycle", (IngestCycle,), {
        "sizes": {"full": (docs, batch_docs)}, "batches": batches})
    run = Run(argparse.Namespace(seed=seed, size="full", trace=1), work_dir)
    run.spark, run.tracer = spark, Tracer(spark)
    cycle = cycle_cls(run, None)
    cycle.drive()
    return cycle.layer_metrics(run.tracer.group_stats()), run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    mk = sub.add_parser("make")
    mk.add_argument("--dup-factor", type=float, default=3.0)
    mk.add_argument("--tables", default=TABLES)
    mk.add_argument("--out", required=True, help="sf dir to create")
    pl = sub.add_parser("pipeline")
    pl.add_argument("--batch-docs", type=int, required=True)
    pl.add_argument("--batches", type=int, required=True)
    pl.add_argument("--out", default="scale_pipeline.json", help="JSON report")
    for p in (mk, pl):
        p.add_argument("--docs", type=int, required=True)
        p.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()
    if args.mode == "make":
        if os.path.exists(args.out):
            ap.error(f"{args.out} exists")
        c = make(args.out, args.docs, args.dup_factor, args.seed, args.tables)
        print(f"wrote {args.out}: {len(c.doc_id)} docs, {len(set(c.text))} "
              f"distinct texts, {len(c.exact_pairs)} exact and "
              f"{len(c.near_pairs)} near pairs in {time.perf_counter() - t0:.1f}s")
        return 0

    from irio2024_mapreduce_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("scale", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads every stage of the cycle from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="scale-pipeline-") as work:
        metrics, run = pipeline(spark, args.docs, args.batch_docs,
                                args.batches, args.seed, work)
    doc = {"docs": args.docs, "batch_docs": args.batch_docs,
           "batches": args.batches, "seed": args.seed,
           "cpus": spark.sparkContext.defaultParallelism,
           "wall_s": round(time.perf_counter() - t0, 1),
           "failed": run.failed, "problems": run.problems, "metrics": metrics}
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1)
    for name, value in metrics.items():
        print(f"{name:48s} {value:14.6g}")
    print(f"{run.failed} failed checks, {doc['wall_s']} s; wrote {args.out}")
    return 1 if run.failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
