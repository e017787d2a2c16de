"""Z-order clustering: row parity, the measured pruning tradeoff
(every clustered axis prunes at file level, vs a linear sort pruning
only its leading column), and the maintenance rewrite's lock/swap."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.layout import (
    pruning_stats,
    rewrite_zordered,
    write_zordered,
    zorder_key,
)

N = 20_000
N_FILES = 32


@pytest.fixture(scope="module")
def xy(spark):
    """Two independent uniform dimensions derived from doc ids by
    integer hashing — deterministic, no RNG."""
    df = spark.range(N).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 2654435761, 1_000_003) / 1_000_003.0)
        .alias("x"),
        (F.pmod(F.col("id") * 40503 + 7919, 999_983) / 999_983.0)
        .alias("y"),
    )
    return df.localCheckpoint()


def test_zorder_preserves_rows(spark, xy, tmp_path):
    p = str(tmp_path / "z")
    write_zordered(xy, p, ["x", "y"], n_files=8)
    back = spark.read.parquet(p)
    assert back.count() == N
    fp = lambda df: df.select(  # noqa: E731
        F.bit_xor(F.xxhash64("doc_id", "x", "y")).alias("h")
    ).first()["h"]
    assert fp(back) == fp(xy)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_zorder_prunes_every_axis_linear_only_leading(spark, xy, tmp_path):
    lin = str(tmp_path / "linear")
    zee = str(tmp_path / "zorder")
    (
        xy.repartitionByRange(N_FILES, "x")
        .sortWithinPartitions("x")
        .write.parquet(lin)
    )
    write_zordered(xy, zee, ["x", "y"], n_files=N_FILES)

    x_slab = {"x": (0.50, 0.55)}
    y_slab = {"y": (0.50, 0.55)}
    lin_x = pruning_stats(lin, x_slab)["frac_skipped"]
    lin_y = pruning_stats(lin, y_slab)["frac_skipped"]
    z_x = pruning_stats(zee, x_slab)["frac_skipped"]
    z_y = pruning_stats(zee, y_slab)["frac_skipped"]

    # linear: near-perfect on the sort column, blind on the other
    assert lin_x > 0.8
    assert lin_y < 0.1
    # z-order: strong pruning on BOTH axes — the whole point
    assert z_x >= 0.5
    assert z_y >= 0.5
    # combined rectangle prunes at least as well as either axis
    both = pruning_stats(zee, {**x_slab, **y_slab})["frac_skipped"]
    assert both >= max(z_x, z_y)


def test_zorder_key_handles_constant_and_null_columns(spark):
    df = spark.createDataFrame(
        [(1, 5.0, None), (2, 5.0, 1.0), (3, 5.0, 2.0)],
        "doc_id long, c double, n double",
    )
    out = df.withColumn("k", zorder_key(df, ["c", "n"], bits=4)).collect()
    assert all(r["k"] is not None for r in out)
    # NULL buckets with the smallest values (bucket 0)
    by_id = {r["doc_id"]: r["k"] for r in out}
    assert by_id[1] <= by_id[2] <= by_id[3]


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_fused_compact_zorder_restores_clustering(spark, xy, tmp_path):
    """compact_parquet(zorder_cols=...) — ONE rewrite that hits the
    byte target AND re-tiles the z-curve after unclustered appends
    eroded it (r9 verdict item 4)."""
    from irio2024_mapreduce_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "z")
    half = xy.filter(F.col("doc_id") % 2 == 0)
    rest = xy.filter(F.col("doc_id") % 2 == 1)
    write_zordered(half, p, ["x", "y"], n_files=16)
    rest.write.mode("append").parquet(p)  # unclustered append

    rect = {"x": (0.50, 0.55), "y": (0.50, 0.55)}
    decayed = pruning_stats(p, rect)["frac_skipped"]

    import glob

    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
    )
    out = compact_parquet(
        spark, p, zorder_cols=["x", "y"],
        target_file_bytes=max(total // 16, 1),
    )
    assert out["files_before"] > out["files_after"] >= 8
    back = spark.read.parquet(p)
    assert back.count() == N
    fp = lambda df: df.select(  # noqa: E731
        F.bit_xor(F.xxhash64("doc_id", "x", "y")).alias("h")
    ).first()["h"]
    assert fp(back) == fp(xy)
    restored = pruning_stats(p, rect)["frac_skipped"]
    assert restored > decayed
    assert restored >= 0.5  # both axes prune again


def test_zorder_key_rejects_keyspace_overflow(spark, xy):
    """ADVICE r9: bit position >= 64 aliases into the low bits (JVM
    shiftleft masks mod 64) and position 63 flips the long's sign —
    both silently corrupt z-key ordering. 8 columns at the default 8
    bits is exactly the overflow case; it must fail loudly."""
    cols = [f"c{i}" for i in range(8)]
    df = xy.select("doc_id", *[F.col("x").alias(c) for c in cols])
    with pytest.raises(ValueError, match="63"):
        zorder_key(df, cols, bits=8)
    # 7 bits * 8 cols = 56 — highest position 55, comfortably legal
    assert "k" in df.withColumn("k", zorder_key(df, cols, bits=7)).columns


def test_zorder_key_all_null_column_degrades_to_constant(spark):
    """ADVICE r9: approxQuantile returns NO cutoffs for an all-NULL
    column — the key must treat it as one constant bucket instead of
    raising an opaque TypeError mid-rewrite."""
    df = spark.createDataFrame(
        [(1, 1.0, None), (2, 2.0, None), (3, 3.0, None)],
        "doc_id long, x double, dead double",
    )
    out = df.withColumn("k", zorder_key(df, ["x", "dead"], bits=4)).collect()
    assert all(r["k"] is not None for r in out)
    by_id = {r["doc_id"]: r["k"] for r in out}
    # the live axis still orders the key
    assert by_id[1] <= by_id[2] <= by_id[3]


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_rewrite_zordered_swaps_and_recovers(spark, xy, tmp_path):
    from irio2024_mapreduce_spark.sources.sinks import (
        acquire_compaction_lock,
        mark_swap_ready,
    )

    p = str(tmp_path / "ds")
    xy.limit(1_000).write.parquet(p)
    rep = rewrite_zordered(spark, p, ["x", "y"], n_files=4)
    assert rep["rows"] == 1_000
    assert spark.read.parquet(p).count() == 1_000
    assert not os.path.exists(p + "._compact_tmp")
    assert not os.path.exists(p + "._compact_old")

    # crash signature: data renamed away, swap incomplete → rolled
    # forward from the ready tmp
    shutil.copytree(p, p + "._compact_tmp")
    mark_swap_ready(p + "._compact_tmp")
    os.rename(p, p + "._compact_old")
    rep = rewrite_zordered(spark, p, ["x"], n_files=2)
    assert rep["rows"] == 1_000

    # advisory lock excludes a second maintenance pass
    lock = acquire_compaction_lock(p)
    with pytest.raises(RuntimeError, match="live"):
        rewrite_zordered(spark, p, ["x"])
    os.unlink(lock)
