"""Stored IVF index: the stored form of ``similarity_ivf`` ("written at
ingest partitioned by cell"). It shares the graded query's training
and scoring code (``_ivf_centroids`` / ``_nearest_cell`` /
``py_query_cells`` / ``_ivf_score``), so stored-probe answers equal
on-the-fly answers at the same centroids by construction.

Version ``N`` is ``centroids_v{N}/`` (the trained coarse quantizer,
k rows, read by every probe) plus ``cells_v{N}/cell=*/`` (the vectors
partitioned by assigned cell; a probe reads nprobe cell dirs per
query). With ``quantize=True`` rows store int8 codes and a per-vector
scale (``quant_code_col``'s bit-exact expression), 1 byte per dim
instead of 8, dequantized on read. Ingest deltas are flat, with
``cell`` as a sorted data column.

Appends assign new vectors to the stored centroids (map-only);
``rebuild_ivf_index`` re-trains once the corpus outgrows k ≈ √n.
Training cost is constant (bounded sample, driver-side Lloyd), and a
probe touches nprobe/k of the corpus, a fraction that shrinks as k
grows (SCALE.md, "stored IVF index").

Manifest, versioning, deltas and commit protocol: ``stored_index``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators import stored_index as si
from irio2024_mapreduce_spark.operators.similarity import (
    EMB_DIM,
    IVF_CENTROIDS,
    IVF_NPROBE,
    IVF_TRAIN_MAX,
    QUANT_LEVELS,
    _is_finite_vector,
    _ivf_centroids,
    _ivf_score,
    _nearest_cell,
    count_with_dim_check,
    py_query_cells,
    quant_abs_max,
    quant_code_col,
)
from irio2024_mapreduce_spark.sources.sinks import parquet_files

# cells are capped so the bounded training sample keeps a few points
# per centroid (IVF_TRAIN_MAX's rationale) and floored at the graded k
MAX_CELLS = IVF_TRAIN_MAX // 4


def target_cells(rows: int) -> int:
    """The IVF sizing rule k ≈ √rows, clamped to
    [IVF_CENTROIDS, MAX_CELLS]."""
    if rows <= 0:
        return IVF_CENTROIDS
    return max(IVF_CENTROIDS, min(MAX_CELLS, round(math.sqrt(rows))))


def footer_cell_counts(data_dir: str) -> dict[str, int]:
    """Rows per ``cell=`` partition of a cells dir, from the parquet
    footers of its committed files."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    counts: dict[str, int] = {}
    for f in parquet_files(data_dir):
        rel = os.path.relpath(os.path.dirname(f), data_dir)
        cell = next((s for s in rel.split(os.sep) if s.startswith("cell=")), "")
        counts[cell] = counts.get(cell, 0) + pq.ParquetFile(f).metadata.num_rows
    return counts


def footer_imbalance(data_dir: str) -> float:
    """p99 / mean rows per cell, from footers (1.0 = balanced). The
    manifest records it at train time (``trained_imbalance``), so
    maintenance trips on degradation relative to what training itself
    produced, not on natural cluster skew."""
    counts = sorted(footer_cell_counts(data_dir).values())
    if not counts:
        return 1.0
    mean = sum(counts) / len(counts)
    # ceil: the p99 of a small cell set is its max
    p99 = counts[math.ceil(0.99 * (len(counts) - 1))]
    return p99 / mean if mean else 1.0


def _stored_rows(assigned: DataFrame, quantize: bool) -> DataFrame:
    """Stored columns of cell-assigned vectors. Quantized rows keep the
    bit-exact int8 code expression plus a per-vector scale; non-finite
    vectors are excluded, as in every engine."""
    if not quantize:
        return assigned.select("vec_id", "v", "cell")
    with_m = assigned.filter(_is_finite_vector(F.col("v"))).withColumn(
        "_m", quant_abs_max(F.col("v"))
    )
    return with_m.select(
        "vec_id",
        (F.col("_m") / QUANT_LEVELS).alias("scale"),
        quant_code_col(F.col("v"), F.col("_m"), "tinyint").alias("codes"),
        "cell",
    )


def delta_stored_rows(
    assigned: DataFrame, quantize: bool, nparts: int = 1
) -> DataFrame:
    """The per-batch delta shape: the stored columns, flat, sorted by
    ``cell`` within each file so the probe's ``cell IN (...)`` filter
    prunes row groups."""
    return _stored_rows(assigned, quantize).repartition(
        nparts
    ).sortWithinPartitions("cell")


def _vector(df: DataFrame):
    """The ``v`` column of stored rows, dequantized by schema rather
    than by manifest: a staged batch keeps the shape it was staged with
    even if a rebuild changed the index's."""
    if "codes" in df.columns:
        return F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("v")
    return F.col("v")


def _centroids(spark: SparkSession, index_dir: str, n: int) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, f"centroids_v{n}"))


def _write_cells(vecs, centroids, quantize, path, mode) -> None:
    _stored_rows(_nearest_cell(vecs, centroids), quantize).repartition(
        "cell"
    ).write.mode(mode).partitionBy("cell").parquet(path)


def _write_version(
    spark: SparkSession, emb: DataFrame, index_dir: str, n: int, k: int,
    quantize: bool,
) -> None:
    """Train k centroids on ``emb`` and write version ``n``:
    ``centroids_v{n}`` and the assigned ``cells_v{n}``."""
    centroids = _ivf_centroids(spark, emb, k)
    centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, f"centroids_v{n}")
    )
    _write_cells(
        emb, centroids, quantize, os.path.join(index_dir, f"cells_v{n}"),
        "overwrite",
    )


class _Ivf(si.Family):
    kind = "ivf"
    build_name = "build_ivf_index"
    prefixes = ("cells_v", "centroids_v")

    def constants(self) -> dict:
        return {"dim": EMB_DIM}

    def version_dirs(self, m: dict) -> list[str]:
        return [m["data"], f"centroids_v{m['data_version']}"]

    def write_version(self, spark, vecs, index_dir, n, t) -> str:
        _write_version(spark, vecs, index_dir, n, t["k_cells"], t["quantized"])
        return f"cells_v{n}"

    def write_vectors(self, spark, vecs, index_dir, t, mode) -> None:
        _write_cells(
            vecs, _centroids(spark, index_dir, t["data_version"]),
            t["quantized"], os.path.join(index_dir, t["data"]), mode,
        )

    def write_delta(self, spark, vecs, index_dir, m, dst, nparts) -> None:
        assigned = _nearest_cell(
            vecs, _centroids(spark, index_dir, m["data_version"])
        )
        delta_stored_rows(assigned, m["quantized"], nparts).write.mode(
            "overwrite"
        ).parquet(dst)

    def fold_rows(self, df, n, m):
        value = ["scale", "codes"] if m["quantized"] else ["v"]
        return df.select("vec_id", *value, "cell").repartition("cell"), ("cell",)

    def to_vectors(self, df: DataFrame) -> DataFrame:
        return df.select("vec_id", _vector(df))

    def commit_fields(self, index_dir, data) -> dict:
        return {"trained_imbalance": footer_imbalance(os.path.join(index_dir, data))}


FAMILY = _Ivf()


def read_ivf_manifest(index_dir: str) -> dict:
    return si.read_manifest(FAMILY, index_dir)


def fold_ivf_deltas(spark: SparkSession, index_dir: str) -> dict:
    return si.fold(FAMILY, spark, index_dir)


def build_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    k_cells: int | None = None,
    quantize: bool = False,
) -> dict:
    """Build the stored index over ``emb`` (``vec_id``,
    ``v: array<double>``): constant-cost training, one map-only
    assignment pass, a cell-partitioned write. Returns the manifest."""
    # the sizing count doubles as the vector dimension gate
    rows = count_with_dim_check(emb, "IVF build")
    return si.build(FAMILY, spark, emb, index_dir, {
        "family": "ivf-cosine", "rows": rows, "quantized": quantize,
        "k_cells": k_cells or target_cells(rows),
    })


def append_ivf_index(
    spark: SparkSession, emb: DataFrame, index_dir: str
) -> int:
    """Append vectors at the stored centroids (the daily path: map-only
    assignment, no re-train). The dimension gate runs before any row
    reaches the live layout."""
    return si.append(
        FAMILY, spark, emb, index_dir, count_with_dim_check(emb, "IVF append")
    )


def rebuild_ivf_index(
    spark: SparkSession,
    index_dir: str,
    k_cells: int | None = None,
    force: bool = False,
) -> dict:
    """Maintenance: recount the stored vectors, re-train at k ≈ √rows
    and write a new version when k changed, when duplicate ``vec_id``
    rows exist (the pass is also the index's dedup compaction), or when
    ``force`` is set (hot cells: k may be right but the centroids are
    stale, and only a re-train rebalances). Otherwise only the advisory
    row count is refreshed. Quantized indexes re-train on dequantized
    vectors. See ``stored_index.rewrite`` for the protocol."""

    def decide(m, rows, physical):
        k = k_cells or target_cells(rows)
        return {"k_cells": k}, force or k != m["k_cells"] or rows != physical

    r = si.rewrite(FAMILY, spark, index_dir, decide)
    before, after = r.pop("before"), r.pop("after")
    return {
        **r,
        "k_before": before["k_cells"],
        "k_cells": after["k_cells"],
        "rebuilt": r["rewritten"],
    }


def probe_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Answer ``queries`` (``vec_id``, ``v``): rank the centroids per
    query, read exactly the nprobe closest cells of the layout and the
    deltas, and score with the shared join + cosine + top-k."""

    def plan(m, q_rows):
        # cells are ranked driver-side with the bit-exact replay: the
        # centroids are at most MAX_CELLS rows and the query side is
        # collected anyway
        cent_rows = [
            (r["cell"], list(r["cv"]))
            for r in _centroids(spark, index_dir, m["data_version"]).collect()
        ]
        qc_rows = py_query_cells(q_rows, cent_rows, nprobe)
        q_cells = spark.createDataFrame(
            qc_rows, "query_id long, qv array<double>, cell int"
        )
        cells = sorted({int(c) for _, _, c in qc_rows})

        def project(df: DataFrame) -> DataFrame:
            return df.filter(F.col("cell").isin(cells)).select(
                "vec_id", _vector(df), F.col("cell").cast("int").alias("cell")
            )

        # keep one row per vec_id: a crash-replayed roll-forward can
        # re-append rows; this dedupes the probed subset only
        def score(stored: DataFrame) -> DataFrame:
            return _ivf_score(stored.dropDuplicates(["vec_id"]), q_cells)

        return [f"cell={c}" for c in cells], ["."], project, score

    return si.probe(FAMILY, spark, queries, index_dir, plan)


def measure_ivf_recall(
    spark: SparkSession,
    index_dir: str,
    sample_n: int = 16,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    seed: int = 7,
) -> dict:
    """Sampled recall@k of the stored probe against exact brute force
    over the stored corpus: the quality signal behind the hot-cell
    maintenance trigger. An on-demand diagnostic (the exact side is an
    O(sample_n × rows) scan), so maintenance trips on the footer-only
    imbalance signal instead. Deterministic: the sample is the
    ``sample_n`` smallest ``xxhash64(vec_id, seed)`` stored vectors.
    ``k`` is capped by the probe's TOP_K."""
    from pyspark.sql import Window  # noqa: PLC0415

    from irio2024_mapreduce_spark.operators.similarity import (  # noqa: PLC0415
        _cosine,
    )

    m = read_ivf_manifest(index_dir)
    vecs = (
        si.read_vectors(
            FAMILY, spark, si.corpus_files(FAMILY, index_dir, m["data"])
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    queries = (
        vecs.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), "vec_id")
        .limit(sample_n)
        .localCheckpoint(eager=True)
    )
    approx = probe_ivf_index(spark, queries, index_dir, nprobe=nprobe)
    exact_scored = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(
            vecs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
            )
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    exact = (
        exact_scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    hits = exact.join(
        approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "semi",
    ).count()
    denom = exact.count()
    return {
        "recall": hits / denom if denom else 1.0,
        "sample_n": queries.count(),
        "k": k,
        "nprobe": nprobe,
    }


# Build-phase wall of each graded fixture call; see
# ann_index.FIXTURE_BUILD_LOG.
FIXTURE_BUILD_LOG: list[float] = []


def probe_ivf_index_fixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The graded stored-index IVF path: a cached stored index over the
    embeddings corpus at the graded k (IVF_CENTROIDS), probed with its
    N_QUERIES query vectors. The oracle is the on-the-fly query's SQL
    (``similarity.ivf_oracle_for``) with centroids trained on the corpus
    only (``train_min_id=N_QUERIES``), since the stored index trains on
    what it stores."""
    return si.fixture_probe(
        FAMILY, spark, sf_dir,
        fresh=lambda m: m["k_cells"] == IVF_CENTROIDS and not m["quantized"],
        build_fn=lambda s, emb, idx: build_ivf_index(
            s, emb, idx, k_cells=IVF_CENTROIDS
        ),
        probe_fn=probe_ivf_index,
        log=FIXTURE_BUILD_LOG,
    )
