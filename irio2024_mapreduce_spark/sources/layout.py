"""Multi-dimensional data clustering (Z-order) for file-level scan
pruning — the layout half of corpus maintenance, beside
``sinks.compact_parquet``'s size half.

At 100 TB a training corpus is filtered along several axes at once
(quality score, length, time, similarity-bucket id). Hive
partitioning covers one or two LOW-cardinality axes; a linear sort
clusters only its leading column — a filter on the second column
still touches every file. Z-ordering interleaves the bits of each
column's quantile rank, so rows close in the multi-dimensional space
land in the same parquet files and EVERY z-ordered column's min/max
file statistics become selective: a reader (Spark's parquet scan, or
any engine honoring row-group stats) skips whole files for
predicates on any clustered axis, trading a little pruning power per
axis instead of all of it on one. The same recipe lakehouse table
formats ship as OPTIMIZE ZORDER BY; here it is a plain-parquet
rewrite with no table-format dependency.

Execution shape, all JVM-side (no UDFs):

1. ``approxQuantile`` collects ``2^bits - 1`` cutoffs per column — a
   driver-side list of D×(2^bits) doubles, corpus-size independent
   (the one bounded collect);
2. each column's bucket id is ``width_bucket(col, cutoffs…)``
   expressed as a sum of comparisons against the broadcast cutoff
   literals — a map-only projection;
3. bucket bits interleave with ``shiftleft``/bitwise-or into one
   long z-key — still map-only;
4. ``repartitionByRange(n_out, zkey)`` + ``sortWithinPartitions``
   write files that tile the z-curve: ONE range shuffle, the same
   cost class as any global sort-write, amortized over every future
   pruned scan.

``pruning_stats`` measures the claim mechanically from parquet
footer min/max (via pyarrow): the fraction of files a range
predicate can skip — the number Spark's scan reports as
``files pruned`` without needing a live session.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.sinks import parquet_files

ZORDER_DEFAULT_BITS = 8


def _bucket_expr(col: str, cutoffs: list[float]) -> Column:
    """Quantile-bucket id (0..len(cutoffs)) of ``col`` — the count of
    cutoffs <= value, as a sum of comparisons against literal
    constants: whole-stage-codegen-friendly, no UDF, and NULLs sort
    into bucket 0 with the smallest values."""
    c = F.col(col).cast("double")
    terms = [
        F.when(c > F.lit(float(x)), F.lit(1)).otherwise(F.lit(0))
        for x in cutoffs
    ]
    return functools.reduce(operator.add, terms).cast("long")


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = ZORDER_DEFAULT_BITS
) -> Column:
    """The interleaved-bit z-key over ``cols`` as a Column: bit ``i``
    of column ``d``'s quantile bucket lands at position
    ``i * D + d``, so a 1-bit step in ANY column moves the key by a
    bounded amount — the locality property the file tiling rests on.

    ``approxQuantile`` is called on ``df`` (relativeError 1e-3) to
    place the cutoffs; a skewed column therefore still spreads over
    its buckets by POPULATION, not value range — the equi-depth
    property that keeps every bucket (and so every file) similarly
    sized under skew."""
    if not (1 <= bits <= 16):
        raise ValueError(f"bits must be in [1,16], got {bits}")
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    # the key is ONE signed long: bit i of column d lands at position
    # i * D + d, so the highest used position is bits * D - 1. JVM
    # shiftleft masks its shift amount mod 64 — a position >= 64 would
    # silently alias into the LOW bits, and position 63 flips the
    # long's sign: both corrupt z-key ordering without any error. Cap
    # at position 62 (never touch the sign bit) and fail loudly.
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits * len(cols) must be <= 63 (one signed long of key "
            f"space): got {bits} * {len(cols)} = {bits * len(cols)} — "
            f"pass bits <= {63 // len(cols)} for {len(cols)} columns"
        )
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    # ONE multi-column approxQuantile pass places every column's
    # cutoffs — the per-column form scanned the dataset D times just
    # to site bucket boundaries (D-1 avoidable corpus passes per
    # maintenance rewrite at 100 TB)
    all_cuts = df.approxQuantile(cols, probs, 1e-3)
    key = F.lit(0).cast("long")
    for d, col in enumerate(cols):
        # dedupe degenerate cutoffs (constant/low-cardinality cols)
        cuts = sorted(set(all_cuts[d]))
        if not cuts:
            # approxQuantile returns NO cutoffs for an all-NULL column
            # — _bucket_expr's reduce over zero terms would raise an
            # opaque TypeError mid-rewrite (after the advisory lock is
            # taken). An all-NULL axis carries no clustering
            # information; treat it as the constant bucket 0, exactly
            # what a constant non-null column degrades to.
            b = F.lit(0).cast("long")
        else:
            b = _bucket_expr(col, cuts)
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit.cast("long"), i * len(cols) + d)
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = ZORDER_DEFAULT_BITS,
    n_files: int | None = None,
) -> None:
    """Write ``df`` tiled along the z-curve of ``cols``: range
    partition on the z-key (Spark samples the key distribution for
    the boundaries, so files get ~equal rows even under skew), sort
    within each partition, drop the key. ``n_files`` defaults to the
    session's shuffle parallelism."""
    spark = df.sparkSession
    n = n_files or int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        df.withColumn("_zkey", zorder_key(df, cols, bits))
        .repartitionByRange(n, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def rewrite_zordered(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = ZORDER_DEFAULT_BITS,
    n_files: int | None = None,
) -> dict[str, int]:
    """Maintenance form: re-cluster an existing dataset in place,
    published with ``sinks.replace_dataset`` under the advisory writer
    lock (see ``sinks.compact_parquet`` for the concurrent-writer
    contract — identical here)."""
    from irio2024_mapreduce_spark.sources.sinks import (  # noqa: PLC0415
        acquire_compaction_lock,
        release_compaction_lock,
        replace_dataset,
    )

    out: dict[str, int] = {}

    def fill(tmp: str) -> None:
        df = spark.read.parquet(path)
        out["rows"] = df.count()
        write_zordered(df, tmp, cols, bits, n_files)

    lock = acquire_compaction_lock(path)
    try:
        replace_dataset(path, fill)
    finally:
        release_compaction_lock(lock)
    return out


def pruning_stats(
    path: str, predicates: dict[str, tuple[float, float]]
) -> dict[str, int | float]:
    """File-level pruning a range predicate set achieves on ``path``,
    measured from parquet footers alone (pyarrow): a file is
    SKIPPABLE iff for ANY predicate column its [min, max] footer
    range misses the predicate's [lo, hi] — exactly the decision a
    stats-honoring scan makes before opening the file. Returns
    {files, skippable, frac_skipped}."""
    import pyarrow.parquet as _pq

    files = list(parquet_files(path))
    skippable = 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        names = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        skip = False
        for col, (lo, hi) in predicates.items():
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins and (min(mins) > hi or max(maxs) < lo):
                skip = True
                break
        skippable += skip
    return {
        "files": len(files),
        "skippable": skippable,
        "frac_skipped": (skippable / len(files)) if files else 0.0,
    }
