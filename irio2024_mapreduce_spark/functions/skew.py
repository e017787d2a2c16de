"""Skew-mitigation helpers — the salting pattern for hot keys.

AQE's skew-join/partition splitting handles most skew automatically
(enabled in the session factory). Salting is the manual lever for
aggregations where ONE key dominates (the classic 100 TB failure:
one user/null-key holds 10% of all rows, one reducer runs for hours).

``salted_agg_sum`` demonstrates the two-phase shape:
  1. group by (key, hash(row)%buckets) — the hot key's rows spread
     over `buckets` reducers, each producing a partial sum;
  2. group by key — merge the ≤`buckets` partials.
Associative aggregates (sum/count/min/max) compose exactly; results
are identical to the direct groupBy (asserted in tests).

Where the lever is actually load-bearing (measured,
`tools/stress_skew.py` + SCALE.md, "skewed-key probe"): NOT built-in
aggregates — Catalyst's partial-aggregation phase absorbs even a
50%-of-all-rows hot key, and salting those just adds a shuffle — but
``group-map
applyInPandas``, which has NO partial phase: the hot key's entire row
set ships to ONE task as one Arrow group. Naive full salting there
backfires 8× (it multiplies the long tail's group count by
``buckets``, and per-group Python overhead dominates), so
:func:`skew_aware_group_apply` salts ONLY detected heavy hitters and
leaves the tail's group topology untouched.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    buckets: int = 16,
    salt_on: Column | None = None,
) -> DataFrame:
    """Two-phase salted ``sum(value) group by keys`` with identical
    results to the direct aggregation.

    ``salt_on`` controls only which partial-reducer a row lands on —
    any expression works without affecting results (the merge phase is
    associative). The default is a per-row id rather than a hash of
    the data: hashing a data column degenerates to ONE bucket exactly
    when the hot key's values are constant or NULL — the very case
    salting exists for.
    """
    salt = (
        F.pmod(
            F.xxhash64(salt_on) if salt_on is not None
            else F.monotonically_increasing_id(),
            buckets,
        )
    ).alias("_salt")
    partial = (
        df.select(*key_cols, F.col(value_col), salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            F.sum(value_col).alias("_psum"),
            F.count("*").alias("_pcnt"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_psum").alias(f"sum_{value_col}"),
        F.sum("_pcnt").alias("cnt"),
    )


def skew_aware_group_apply(
    df: DataFrame,
    key_cols: list[str],
    partial_fn: Callable,
    partial_schema: str,
    merge_exprs: dict[str, Column],
    buckets: int = 16,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Group-map ``applyInPandas`` with hot-key-only salting.

    ``partial_fn(pdf) -> pdf`` must emit ONE row per group whose
    columns are ``key_cols`` + the partial stats named in
    ``merge_exprs`` (i.e. the stat must be decomposable: computable on
    a subset and mergeable by a JVM aggregate — sums, counts, min/max,
    top-k heaps serialized as arrays, sketch states…).
    ``merge_exprs`` maps output column → aggregate expression over the
    partial column (e.g. ``{"n": F.sum("n")}``).

    Topology: one cheap JVM count pass finds keys with
    ``> hot_threshold`` rows (there can be at most ``total_rows /
    hot_threshold`` of them, so the broadcast side is bounded). Hot
    keys' rows get a per-row salt spreading each over ``buckets``
    tasks; ALL other keys keep salt 0, so the long tail's group count
    — and therefore its per-group Python-crossing overhead, the term
    that makes naive full salting 8× SLOWER (SCALE.md, skewed-key
    probe) — is
    exactly what direct ``applyInPandas`` pays. A final JVM aggregate
    merges the ≤``buckets`` partials per key; for cold keys it's a
    1-row-in/1-row-out pass-through.
    """
    counts = df.groupBy(*key_cols).count()
    hot = counts.filter(F.col("count") > hot_threshold).select(
        *key_cols, F.lit(True).alias("_hot")
    )
    salted = (
        df.join(F.broadcast(hot), on=key_cols, how="left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64(F.monotonically_increasing_id()), buckets),
            ).otherwise(F.lit(0)),
        )
        .drop("_hot")
    )
    partials = salted.groupBy(*key_cols, "_salt").applyInPandas(
        partial_fn, schema=partial_schema
    )
    return partials.groupBy(*key_cols).agg(
        *(expr.alias(name) for name, expr in merge_exprs.items())
    )
