"""Z-order vs linear layout on REAL data: rewrite sf0.1 lineitem
(600k rows) clustered three ways and measure file-level pruning for
single-axis and rectangle range predicates from parquet footers
(`layout.pruning_stats` — the same min/max decision a stats-honoring
scan makes). Prints one JSON line.

Axes chosen to mirror the 100 TB corpus-query story: l_orderkey
(time-ish monotone id — "recent slice"), l_partkey (entity id —
"docs for this shard/source"), l_extendedprice (score-like —
"quality band"). Predicates take a ~5% slice of each.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from irio2024_mapreduce_spark.session import get_spark  # noqa: E402
from irio2024_mapreduce_spark.sources.layout import (  # noqa: E402
    pruning_stats,
    write_zordered,
)

N_FILES = 64
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COLS = ["l_orderkey", "l_partkey", "l_extendedprice"]


def slab(df, col, lo_q=0.50, hi_q=0.55):
    lo, hi = df.approxQuantile(col, [lo_q, hi_q], 1e-4)
    return (float(lo), float(hi))


def main() -> None:
    spark = get_spark("stress-zorder")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    slabs = {c: slab(df, c) for c in COLS}

    work = tempfile.mkdtemp(prefix="zorder_probe_")
    layouts = {}
    lin = os.path.join(work, "linear")
    (
        df.repartitionByRange(N_FILES, COLS[0])
        .sortWithinPartitions(COLS[0])
        .write.parquet(lin)
    )
    layouts["linear_" + COLS[0]] = lin
    zee = os.path.join(work, "zorder")
    write_zordered(df, zee, COLS, n_files=N_FILES)
    layouts["zorder_3d"] = zee

    out: dict = {"sf": SF_DIR, "n_files": N_FILES, "cols": COLS,
                 "layouts": {}}
    rect = {c: slabs[c] for c in COLS}
    for name, path in layouts.items():
        r = {
            c: round(pruning_stats(path, {c: slabs[c]})["frac_skipped"], 4)
            for c in COLS
        }
        r["rectangle_all3"] = round(
            pruning_stats(path, rect)["frac_skipped"], 4
        )
        rows = spark.read.parquet(path).count()
        out["layouts"][name] = {"rows": rows, "frac_skipped": r}

    # DECAY + RESTORATION (r9 verdict item 4): daily unclustered
    # appends erode the z-order tiling; the FUSED maintenance pass —
    # compact_parquet(zorder_cols=...) — must restore it in ONE
    # rewrite. Appends are random-order row slices (xxhash-bucketed
    # tenths of the corpus), the realistic worst case: each batch
    # spans the full value space of every axis.
    from pyspark.sql import functions as F  # noqa: PLC0415

    from irio2024_mapreduce_spark.sources.sinks import (  # noqa: PLC0415
        compact_parquet,
    )

    decayed = os.path.join(work, "decayed")
    write_zordered(df.filter(
        F.pmod(F.xxhash64(*COLS), 10) < 5
    ), decayed, COLS, n_files=N_FILES)
    decay_curve = [
        round(pruning_stats(decayed, rect)["frac_skipped"], 4)
    ]
    for tenth in range(5, 10):
        df.filter(F.pmod(F.xxhash64(*COLS), 10) == tenth).write.mode(
            "append"
        ).parquet(decayed)
        decay_curve.append(
            round(pruning_stats(decayed, rect)["frac_skipped"], 4)
        )
    # byte target sized to reproduce the baseline's N_FILES file
    # granularity — frac_skipped comparisons are meaningless across
    # different file counts (fewer, bigger files each span a wider
    # z-range and skip less even when perfectly clustered)
    import glob as _glob  # noqa: PLC0415

    total = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(decayed, "*.parquet"))
    )
    fused = compact_parquet(spark, decayed, zorder_cols=COLS,
                            target_file_bytes=max(total // N_FILES, 1))
    restored = round(pruning_stats(decayed, rect)["frac_skipped"], 4)
    out["decay_and_restore"] = {
        "rectangle_frac_skipped_curve": decay_curve,
        "after_fused_compact": restored,
        "files_before": fused["files_before"],
        "files_after": fused["files_after"],
        "rows_final": spark.read.parquet(decayed).count(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
