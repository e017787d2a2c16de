"""Stored IVF index (r9 verdict item 3): build/append/probe/rebuild
sharing the graded query's training and scoring code. The contract —
stored-probe answers equal the on-the-fly composition over the same
corpus and centroids, the quantized store changes bytes not
correctness on this data, and rebuild re-trains at k ≈ √rows behind
one atomic manifest flip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.ivf_index import (
    MAX_CELLS,
    append_ivf_index,
    build_ivf_index,
    probe_ivf_index,
    read_ivf_manifest,
    rebuild_ivf_index,
    target_cells,
)
from irio2024_mapreduce_spark.operators.similarity import (
    IVF_CENTROIDS,
    N_QUERIES,
    _as_double,
    _ivf_centroids,
    _ivf_score,
    _nearest_cell,
    _query_cells,
)
from irio2024_mapreduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    return df.localCheckpoint(eager=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fly_reference(spark, corpus, queries, k):
    """On-the-fly composition with centroids trained on the CORPUS
    sample — exactly what the stored index materializes."""
    centroids = _ivf_centroids(spark, corpus, k)
    return _ivf_score(
        _nearest_cell(corpus, centroids),
        _query_cells(queries, centroids),
    )


def test_sizing_rule():
    assert target_cells(0) == IVF_CENTROIDS
    assert target_cells(10) == IVF_CENTROIDS
    assert target_cells(10_000) == 100
    assert target_cells(10**12) == MAX_CELLS


def test_build_probe_parity_with_fly(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    m = build_ivf_index(spark, corpus, idx, k_cells=IVF_CENTROIDS)
    assert m["k_cells"] == IVF_CENTROIDS and not m["quantized"]
    stored = _rows(probe_ivf_index(spark, queries, idx))
    fly = _rows(_fly_reference(spark, corpus, queries, IVF_CENTROIDS))
    assert stored == fly and len(stored) > 0


def test_quantized_store_matches_on_this_data(spark, emb, tmp_path):
    """int8 cells: quantization error (~1e-3 on unit cosines) can
    swap near-ties at the top-k BOUNDARY on this synthetic corpus
    (unclustered, top-5 cosines crowd within ~1e-3 of each other), so
    the honest invariants are: recall@5 >= 0.9 vs the fp index, any
    swapped-in neighbor is a genuine near-tie of the one it displaced,
    and matched pairs' cosines agree to 5e-3 (64-dim int8 error bound)."""
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    fp = str(tmp_path / "fp")
    q8 = str(tmp_path / "q8")
    build_ivf_index(spark, corpus, fp, k_cells=IVF_CENTROIDS)
    build_ivf_index(
        spark, corpus, q8, k_cells=IVF_CENTROIDS, quantize=True
    )
    r_fp = _rows(probe_ivf_index(spark, queries, fp))
    r_q8 = _rows(probe_ivf_index(spark, queries, q8))
    by_q_fp, by_q_q8 = {}, {}
    cos_fp, cos_q8 = {}, {}
    for q, b, c, _ in r_fp:
        by_q_fp.setdefault(q, set()).add(b)
        cos_fp[(q, b)] = c
    for q, b, c, _ in r_q8:
        by_q_q8.setdefault(q, set()).add(b)
        cos_q8[(q, b)] = c
    n_common = sum(
        len(by_q_fp[q] & by_q_q8.get(q, set())) for q in by_q_fp
    )
    n_total = sum(len(s) for s in by_q_fp.values())
    assert n_common / n_total >= 0.9
    for q in by_q_fp:
        for b in by_q_q8.get(q, set()) - by_q_fp[q]:
            # a swapped-in neighbor displaced a near-tie: its q8
            # cosine must sit within 5e-3 of the weakest fp pick
            weakest = min(cos_fp[(q, x)] for x in by_q_fp[q])
            assert abs(cos_q8[(q, b)] - weakest) < 5e-3
    for key, c1 in cos_fp.items():
        if key in cos_q8:
            assert abs(c1 - cos_q8[key]) < 5e-3
    # the byte claim: tinyint codes, one scale per vector
    import glob

    fp_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(fp, "cells_v1", "**", "*.parquet"),
                           recursive=True)
    )
    q8_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(q8, "cells_v1", "**", "*.parquet"),
                           recursive=True)
    )
    assert q8_bytes < fp_bytes * 0.55


def test_append_assigns_to_stored_centroids(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    # ONE query (see the ANN twin test): nprobe=3 of 8 cells
    queries = emb.filter(F.col("vec_id") == 0)
    build_ivf_index(spark, corpus, idx, k_cells=IVF_CENTROIDS)
    extra = corpus.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    n0 = corpus.count()
    assert append_ivf_index(spark, extra, idx) == n0
    assert read_ivf_manifest(idx)["rows"] == 2 * n0
    # probing now sees appended vectors: every original neighbor has
    # an identical-vector twin at +1_000_000, so the top-k contains
    # shifted ids too
    got = _rows(probe_ivf_index(spark, queries, idx))
    assert any(b >= 1_000_000 for _, b, _, _ in got)


def test_rebuild_retrains_at_sqrt_rule(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n0 = corpus.count()
    build_ivf_index(spark, corpus, idx, k_cells=IVF_CENTROIDS)
    out = rebuild_ivf_index(spark, idx)
    expect_k = target_cells(n0)
    if expect_k == IVF_CENTROIDS:
        assert not out["rebuilt"]
    else:
        assert out["rebuilt"] and out["k_cells"] == expect_k
        m = read_ivf_manifest(idx)
        assert m["data_version"] == 2
        assert not os.path.isdir(os.path.join(idx, "cells_v1"))
        # parity at the new k against the on-the-fly composition
        stored = _rows(probe_ivf_index(spark, queries, idx))
        fly = _rows(_fly_reference(spark, corpus, queries, expect_k))
        assert stored == fly and len(stored) > 0


def test_manifest_guards_probe(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf")
    with pytest.raises(ValueError, match="no _ivf_manifest"):
        read_ivf_manifest(idx)
    build_ivf_index(
        spark,
        emb.filter(F.col("vec_id") >= N_QUERIES),
        idx,
        k_cells=IVF_CENTROIDS,
    )
    import json

    path = os.path.join(idx, "_ivf_manifest.json")
    m = json.load(open(path))
    m["dim"] = 32
    json.dump(m, open(path, "w"))
    with pytest.raises(ValueError, match="dim"):
        probe_ivf_index(
            spark, emb.filter(F.col("vec_id") < N_QUERIES), idx
        )


def test_rebuild_snapshot_skips_inflight_temporary(spark, emb, tmp_path):
    """ADVICE r12 (high): the lock-free rebuild snapshot walks the
    cells dir with os.walk, which — unlike Spark's directory read —
    does not skip hidden paths. A SIGKILLed locked append leaves
    truncated task-attempt parquet under ``cells_vN/_temporary/``;
    baking it into the snapshot crashes the explicit-path read (or
    ``footer_cell_counts``) on every subsequent rebuild — a permanent
    wedge."""
    from irio2024_mapreduce_spark.operators.ivf_index import (
        footer_cell_counts,
    )
    from irio2024_mapreduce_spark.operators.stored_index import (
        data_files as _data_files,
    )

    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    build_ivf_index(spark, corpus, idx)  # default k: rebuild is a no-op
    before = _rows(probe_ivf_index(spark, queries, idx))
    n = read_ivf_manifest(idx)["data_version"]
    data_dir = os.path.join(idx, f"cells_v{n}")
    counts_before = footer_cell_counts(data_dir)
    tmp_dir = os.path.join(data_dir, "_temporary", "0", "task_000", "cell=0")
    os.makedirs(tmp_dir)
    with open(os.path.join(tmp_dir, "part-crashed.parquet"), "wb") as f:
        f.write(b"truncated, not parquet")
    assert not any("_temporary" in p for p in _data_files(data_dir)), (
        "in-flight task-attempt files leaked into the snapshot set"
    )
    # the footer signals (imbalance, dup recount) must skip it too
    assert footer_cell_counts(data_dir) == counts_before
    out = rebuild_ivf_index(spark, idx)  # must not wedge on the junk
    assert not out["rebuilt"], out
    assert _rows(probe_ivf_index(spark, queries, idx)) == before


def test_rebuild_stages_under_unique_name_and_gcs_leftovers(
    spark, emb, tmp_path
):
    """ADVICE r13-input (medium): the lock-free rebuild must never
    stage at the ``cells_v{n}``/``centroids_v{n}`` names a racing full
    build computes from the same manifest (two interleaved overwrites
    → one writer's centroids committed with the other's assignments).
    It reserves its version in the manifest first and writes the
    reserved names wholesale, replacing a crashed writer's orphans."""
    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    build_ivf_index(spark, corpus, idx)
    # a crashed direct writer's orphans at the NEXT version, with junk
    # inside — the rewrite must replace them wholesale
    junk = os.path.join(idx, "cells_v2", "cell=0", "part-junk.parquet")
    os.makedirs(os.path.dirname(junk))
    os.makedirs(os.path.join(idx, "centroids_v2"))
    with open(junk, "wb") as f:
        f.write(b"junk")
    out = rebuild_ivf_index(spark, idx, force=True)  # re-train, same k
    assert out["rebuilt"], out
    m = read_ivf_manifest(idx)
    assert m["data_version"] == 2
    assert not os.path.exists(junk), (
        "crashed orphan's junk baked into the committed dir"
    )
    # the committed v2 answers probes (centroids and cells are from
    # ONE writer — the reserved pair, written together)
    assert len(_rows(probe_ivf_index(spark, queries, idx))) > 0


def test_rebuild_classifies_vanished_input(spark, emb, tmp_path, monkeypatch):
    """ADVICE r12 (low): maintenance entry points classify
    vanished-input Py4J failures to the protocol's documented
    retryable instead of leaking an opaque JVM traceback."""
    import irio2024_mapreduce_spark.operators.stored_index as mod

    idx = str(tmp_path / "ivf")
    build_ivf_index(
        spark, emb.filter(F.col("vec_id") >= N_QUERIES), idx
    )

    def boom(*a, **k):
        raise Exception(
            "java.io.FileNotFoundException: File file:"
            f"{idx}/cells_v1/cell=3/part-0.parquet does not exist"
        )

    monkeypatch.setattr(mod, "_rewrite_locked", boom)
    with pytest.raises(RuntimeError, match="vanished beneath"):
        rebuild_ivf_index(spark, idx)


def test_probe_opens_only_probed_cell_dirs(spark, emb, tmp_path):
    """r12 verdict item 4 (IVF side): the stored probe's scan opens
    EXACTLY the nprobe cell dirs the query signatures select — a
    strict subset of the index's cells."""
    idx = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    # ONE query (see the ANN twin test): nprobe=3 of 8 cells
    queries = emb.filter(F.col("vec_id") == 0)
    build_ivf_index(spark, corpus, idx, k_cells=IVF_CENTROIDS)
    m = read_ivf_manifest(idx)
    data_dir = os.path.realpath(
        os.path.join(idx, f"cells_v{m['data_version']}")
    )
    res = probe_ivf_index(spark, queries, idx)
    opened = {
        os.path.realpath(
            os.path.dirname(f[len("file:"):] if f.startswith("file:") else f)
        )
        for f in res.inputFiles()
    }
    opened_in_index = {d for d in opened if d.startswith(data_dir)}
    assert opened_in_index, "probe read no stored files?"
    # recompute the probed cells with the shared machinery
    centroids = spark.read.parquet(
        os.path.join(idx, f"centroids_v{m['data_version']}")
    )
    cells = {
        r["cell"]
        for r in _query_cells(queries, centroids)
        .select("cell").distinct().collect()
    }
    parents = {
        os.path.realpath(os.path.join(data_dir, f"cell={c}"))
        for c in cells
    }
    assert opened_in_index <= parents, opened_in_index - parents
    all_dirs = {
        os.path.realpath(root)
        for root, _d, files in os.walk(data_dir)
        if any(f.endswith(".parquet") for f in files)
    }
    assert len(parents & all_dirs) < len(all_dirs), (
        "probe list covers every cell — no pruning to pin at this scale"
    )
