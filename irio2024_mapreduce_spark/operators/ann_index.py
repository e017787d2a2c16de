"""Stored hyperplane-LSH ANN index with size-aware maintenance: the
stored form of the layout ``similarity_ann`` describes ("written once,
partitioned by (table, sig)").

A probe reads whole buckets, and a bucket holds about rows / 2^H rows
per table at signature width H, so at a frozen width probe cost grows
with the corpus. ``resize_ann_index`` re-signs at the sizing rule

    H = log2(rows / bucket_target)

which keeps bucket population, and so probe cost, about constant
(``tools/stress_ann_index.py`` measures the bits-selectivity curve).

Layout ``rows_h{H}_v{N}/tbl=*/pb=*/``: the partition dir is the
bucket's ``part_bits``-bit prefix ``pb = cb >> (H - part_bits)``, and
the files inside are sorted by the full bucket id ``cb``, so a probe
prunes dirs by its path list and row groups by a pushed-down
``cb IN (...)`` filter. ``part_bits`` gives each dir about
DIR_TARGET_ROWS rows per table (opening many tiny files dominated the
probe at fixture scale) and is capped at PART_BITS, so the dir count
stays bounded however large H grows. Ingest deltas are partitioned by
``tbl`` only, with ``pb`` and ``cb`` as sorted data columns.

Manifest, versioning, deltas and commit protocol: ``stored_index``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators import stored_index as si
from irio2024_mapreduce_spark.operators.similarity import (
    ANN_PROBE_BITS,
    ANN_TABLES,
    EMB_DIM,
    _ann_corpus_rows,
    _ann_join_score,
    _ann_sigs,
    count_with_dim_check,
    py_query_probes,
)

# rows per (tbl, cb) bucket a probe should read: the quantity the
# sizing rule holds constant
DEFAULT_BUCKET_TARGET = 64
BITS_MIN, BITS_MAX = 4, 24
# partition dirs per table are capped at 2^PART_BITS; finer bucket
# selectivity comes from the in-file sort and row-group pruning
PART_BITS = 8
# rows per partition dir (about 2 MB at 64 float64 dims)
DIR_TARGET_ROWS = 4096


def target_bits(rows: int, bucket_target: int = DEFAULT_BUCKET_TARGET) -> int:
    """The sizing rule H ≈ log2(rows / bucket_target), clamped to
    [BITS_MIN, BITS_MAX]: below 4 bits multi-probe covers the whole
    table, above 24 the planes literal and probe fan-out stop paying."""
    if rows <= 0:
        return BITS_MIN
    h = round(math.log2(max(rows / bucket_target, 1.0)))
    return max(BITS_MIN, min(BITS_MAX, h))


def part_bits_for(rows: int, bits: int) -> int:
    """Partition-prefix width for ``rows`` vectors: enough dirs that each
    holds about DIR_TARGET_ROWS rows per table, clamped to
    [0, min(bits, PART_BITS)]."""
    if rows <= DIR_TARGET_ROWS:
        return 0
    cap = min(bits, PART_BITS)
    return max(0, min(cap, round(math.log2(rows / DIR_TARGET_ROWS))))


def _pb_shift(bits: int, part_bits: int) -> int:
    """Right shift from bucket id ``cb`` to its partition prefix ``pb``."""
    return max(bits - part_bits, 0)


def _shaped_rows(
    emb: DataFrame, bits: int, part_bits: int, nparts: int | None,
    by: tuple[str, ...],
) -> DataFrame:
    """Index rows clustered by ``by`` and sorted by (tbl, pb, cb) within
    each partition. ``nparts`` right-sizes the shuffle for batch-sized
    inputs."""
    rows = _ann_corpus_rows(_ann_sigs(emb, bits), min_id=None).withColumn(
        "pb", F.shiftrightunsigned(F.col("cb"), _pb_shift(bits, part_bits))
    )
    rep = rows.repartition(nparts, *by) if nparts else rows.repartition(*by)
    return rep.sortWithinPartitions("tbl", "pb", "cb")


def delta_shaped_rows(
    emb: DataFrame, bits: int, nparts: int | None, part_bits: int
) -> DataFrame:
    """Index rows in the per-batch delta shape: clustered by ``tbl``
    only, so a batch write pays no per-``pb`` writer setup. ``pb``
    values are layout addresses at the manifest's ``part_bits``; a fold
    moves them into the layout as they are."""
    return _shaped_rows(emb, bits, part_bits, nparts, ("tbl",))


def _write_rows(
    emb: DataFrame, index_dir: str, bits: int, data: str,
    mode: str = "overwrite", *, part_bits: int,
) -> str:
    _shaped_rows(emb, bits, part_bits, None, ("tbl", "pb")).write.mode(
        mode
    ).partitionBy("tbl", "pb").parquet(os.path.join(index_dir, data))
    return data


class _Ann(si.Family):
    kind = "ann"
    build_name = "build_ann_index"
    prefixes = ("rows_h",)
    corpus_part = "tbl=0"  # table 0 holds every vector once

    def constants(self) -> dict:
        return {"tables": ANN_TABLES, "probe_bits": ANN_PROBE_BITS, "dim": EMB_DIM}

    def write_version(self, spark, vecs, index_dir, n, t) -> str:
        return _write_rows(
            vecs, index_dir, t["bits"], f"rows_h{t['bits']}_v{n}",
            part_bits=t["part_bits"],
        )

    def write_vectors(self, spark, vecs, index_dir, t, mode) -> None:
        _write_rows(
            vecs, index_dir, t["bits"], t["data"], mode,
            part_bits=t["part_bits"],
        )

    def write_delta(self, spark, vecs, index_dir, m, dst, nparts) -> None:
        delta_shaped_rows(
            vecs, m["bits"], nparts, m["part_bits"]
        ).write.mode("overwrite").partitionBy("tbl").parquet(dst)

    def fold_rows(self, df, n, m):
        dirs = ANN_TABLES * (1 << m["part_bits"])
        width = max(1, -(-n // 50_000), min(16, -(-dirs // 8)))
        rows = df.select(
            "neighbor_id", "cv",
            F.col("tbl").cast("int").alias("tbl"),
            F.col("pb").cast("long").alias("pb"),
            F.col("cb").cast("long").alias("cb"),
        )
        return rows.repartition(width, "tbl", "pb").sortWithinPartitions(
            "tbl", "pb", "cb"
        ), ("tbl", "pb")

    def to_vectors(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col("neighbor_id").alias("vec_id"), F.col("cv").alias("v")
        )


FAMILY = _Ann()


def read_ann_manifest(index_dir: str) -> dict:
    return si.read_manifest(FAMILY, index_dir)


def fold_ann_deltas(spark: SparkSession, index_dir: str) -> dict:
    return si.fold(FAMILY, spark, index_dir)


def build_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    bits: int | None = None,
    bucket_target: int = DEFAULT_BUCKET_TARGET,
) -> dict:
    """Build the stored index over ``emb`` (``vec_id``,
    ``v: array<double>``). ``bits`` defaults to the sizing rule at the
    current row count; the manifest records it, so every probe signs
    its queries at the width the index was built with. Returns the
    manifest."""
    # the sizing count doubles as the vector dimension gate
    rows = count_with_dim_check(emb, "ANN build")
    h = bits or target_bits(rows, bucket_target)
    return si.build(FAMILY, spark, emb, index_dir, {
        "family": "hyperplane-lsh", "rows": rows, "bits": h,
        "part_bits": part_bits_for(rows, h), "bucket_target": bucket_target,
    })


def append_ann_index(
    spark: SparkSession, emb: DataFrame, index_dir: str
) -> int:
    """Append vectors at the stored width (the daily path, no re-sign).
    The dimension gate runs before any row reaches the live layout."""
    return si.append(
        FAMILY, spark, emb, index_dir, count_with_dim_check(emb, "ANN append")
    )


def probe_ann_index(
    spark: SparkSession, queries: DataFrame, index_dir: str
) -> DataFrame:
    """Answer ``queries`` (``vec_id``, ``v``): sign them at the
    manifest's bits, read exactly the probed (tbl, pb) dirs and delta
    tables, and run the shared join + score + top-k. The cost is the
    probed buckets' rows, not the corpus."""

    def plan(m, q_rows):
        # driver-side signing with the bit-exact replay: shipping a few
        # vectors through the planes literal cost more in analysis and
        # codegen than the data work
        probe_rows = py_query_probes(q_rows, m["bits"])
        probes = spark.createDataFrame(
            probe_rows, "query_id long, qv array<double>, qtbl int, probe long"
        )
        pairs = {(t, b) for _, _, t, b in probe_rows}
        shift = _pb_shift(m["bits"], m["part_bits"])
        layout = sorted({f"tbl={t}/pb={b >> shift}" for t, b in pairs})
        tables = sorted({f"tbl={t}" for t, _ in pairs})
        cbs = sorted({b for _, b in pairs})

        def project(df: DataFrame) -> DataFrame:
            return df.filter(F.col("cb").isin(cbs)).select(
                "neighbor_id", "cv",
                F.col("tbl").cast("int").alias("tbl"),
                F.col("cb").cast("long").alias("cb"),
            )

        return layout, tables, project, lambda s: _ann_join_score(s, probes)

    return si.probe(FAMILY, spark, queries, index_dir, plan)


def resize_ann_index(
    spark: SparkSession,
    index_dir: str,
    bucket_target: int | None = None,
) -> dict:
    """Maintenance: recount the stored vectors, re-derive H (and
    ``part_bits``) from the sizing rule, and rewrite the index to a new
    version when the width changed or duplicate appends of one vec_id
    exist (the pass is also the index's dedup compaction). Otherwise
    only the advisory manifest fields are refreshed. See
    ``stored_index.rewrite`` for the protocol."""

    def decide(m, rows, physical):
        bt = bucket_target or m["bucket_target"]
        h = target_bits(rows, bt)
        geom = {"bits": h, "part_bits": part_bits_for(rows, h), "bucket_target": bt}
        changed = (h, geom["part_bits"]) != (m["bits"], m["part_bits"])
        return geom, changed or rows != physical

    r = si.rewrite(FAMILY, spark, index_dir, decide)
    before, after = r.pop("before"), r.pop("after")
    return {
        **r,
        "bits_before": before["bits"],
        "bits": after["bits"],
        "resized": r["rewritten"] and after["bits"] != before["bits"],
        "compacted": r["dups_removed"] > 0,
    }


# Build-phase wall of each graded fixture call (lock wait, cache check,
# build when needed); the bench drains it to report probe time alone.
FIXTURE_BUILD_LOG: list[float] = []


def probe_ann_index_fixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The graded stored-index ANN path: a cached stored index over the
    embeddings corpus at the on-the-fly query's width (ANN_PLANES),
    probed with its N_QUERIES query vectors. Stored-probe answers equal
    the on-the-fly ones (tests/test_ann_index.py), so the oracle is the
    same SQL (``similarity._ann_oracle()``)."""
    from irio2024_mapreduce_spark.operators.similarity import (  # noqa: PLC0415
        ANN_PLANES,
    )

    return si.fixture_probe(
        FAMILY, spark, sf_dir,
        fresh=lambda m: m["bits"] == ANN_PLANES
        and m["part_bits"] == part_bits_for(m["rows"], ANN_PLANES),
        build_fn=lambda s, emb, idx: build_ann_index(s, emb, idx, bits=ANN_PLANES),
        probe_fn=probe_ann_index,
        log=FIXTURE_BUILD_LOG,
    )
