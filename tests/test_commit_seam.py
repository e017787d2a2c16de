"""The object-storage commit seam.

The reference's own data plane is GCS, where no atomic DIRECTORY
rename exists. A per-batch delta publish therefore places the batch's
files at their final names first and writes the batch's
``_filelist.json`` sidecar LAST with one atomic single-object write
(the commit); readers treat a sidecar-less delta dir as uncommitted.
Version swaps need no directory rename either: a resize/rebuild
RESERVES its target version in the manifest under the index lock,
writes directly at the final versioned name, and commits with the
manifest flip.

The shim here FORBIDS directory renames process-wide (Python side) —
os.rename / os.replace / shutil.move raise on directories — and the
whole transactional surface (ingest publish incl. both similarity
deltas, maintenance folds, an ANN resize, an IVF rebuild) must run
green under it. File renames stay allowed: a single-file rename
models the atomic single-object PUT/replace every object store has
(and Spark's own JVM-side task-commit renames are out of scope — a
cloud deployment replaces those with a cloud committer, not with this
protocol layer).
"""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

import irio2024_mapreduce_spark.operators.stored_index as si
from irio2024_mapreduce_spark.operators.ann_index import (
    FAMILY as ANN,
)
from irio2024_mapreduce_spark.operators.ann_index import (
    build_ann_index,
    fold_ann_deltas,
    probe_ann_index,
    read_ann_manifest,
    resize_ann_index,
)
from irio2024_mapreduce_spark.operators.stored_index import (
    deltas_root as _ann_droot,
)
from irio2024_mapreduce_spark.operators.ivf_index import (
    build_ivf_index,
    fold_ivf_deltas,
    probe_ivf_index,
    read_ivf_manifest,
    rebuild_ivf_index,
)
from irio2024_mapreduce_spark.operators.similarity import EMB_DIM
from irio2024_mapreduce_spark.plans.ingest import (
    build_corpus_index,
    ingest_batch,
)
from irio2024_mapreduce_spark.sources.sinks import (
    FILELIST_NAME,
    acquire_compaction_lock_patiently,
)


def _vec(seed: int) -> list[float]:
    rng = random.Random(seed)
    return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t or "")) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


def _emb(spark, ids):
    return spark.createDataFrame(
        [(int(i), _vec(i)) for i in ids],
        "vec_id long, v array<double>",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def no_dir_renames(monkeypatch):
    """Forbid DIRECTORY renames process-wide (Python side). File
    renames model the atomic single-object replace object stores
    provide and stay allowed."""
    import shutil

    real_rename, real_replace = os.rename, os.replace
    real_move = shutil.move

    def _guard(real):
        def inner(src, dst, *a, **kw):
            if os.path.isdir(src) and not os.path.islink(src):
                raise AssertionError(
                    f"directory rename forbidden by shim: {src} -> {dst}"
                )
            return real(src, dst, *a, **kw)

        return inner

    monkeypatch.setattr(os, "rename", _guard(real_rename))
    monkeypatch.setattr(os, "replace", _guard(real_replace))
    monkeypatch.setattr(shutil, "move", _guard(real_move))
    return None


SEED_DOCS = [
    (100, "the ancient library kept thousands of scrolls catalogued "
          "by patient scribes over centuries"),
    (101, "the fishing village woke before dawn as boats slipped "
          "quietly into the grey harbor water"),
]
BATCH_DOCS = [
    (200, "the mountain trail crossed seven wooden bridges before "
          "reaching the snowy summit ridge"),
    (202, "the night train rattled past sleeping towns carrying mail "
          "and quiet travellers north"),
]


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_full_ingest_lifecycle_without_dir_renames(
    spark, tmp_path, monkeypatch, no_dir_renames
):
    """Ingest publish + BOTH similarity delta publishes + folds + an
    ANN resize + an IVF rebuild, all with directory renames forbidden
    — the object-storage discipline end-to-end."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    ann = str(tmp_path / "ann")
    ivf = str(tmp_path / "ivf")
    seed_ids = [i for i, _ in SEED_DOCS]
    build_corpus_index(spark, _frame(spark, SEED_DOCS), idx)
    build_ann_index(spark, _emb(spark, seed_ids), ann, bits=8)
    build_ivf_index(spark, _emb(spark, seed_ids), ivf, k_cells=2)

    m = ingest_batch(
        spark, _frame(spark, BATCH_DOCS), idx, out,
        batch_id=5, stream="s",
        batch_emb=_emb(spark, [i for i, _ in BATCH_DOCS]),
        ann_index_dir=ann, ivf_index_dir=ivf,
    )
    assert m["appended"] == 2

    am = read_ann_manifest(ann)
    droot = _ann_droot(ann, am["data"])
    batches = [d for d in os.listdir(droot) if d.startswith("b=")]
    assert len(batches) == 1
    # the batch dir carries its commit marker (sidecar written last)
    assert os.path.exists(
        os.path.join(droot, batches[0], FILELIST_NAME)
    )

    queries = _emb(spark, [200])
    top = (
        probe_ann_index(spark, queries, ann)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert top and top[0]["neighbor_id"] == 200
    itop = (
        probe_ivf_index(spark, queries, ivf)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert itop and itop[0]["neighbor_id"] == 200

    want_ann = _rows(probe_ann_index(spark, queries, ann))
    want_ivf = _rows(probe_ivf_index(spark, queries, ivf))

    # maintenance folds under the shim
    assert fold_ann_deltas(spark, ann)["batches"] == 1
    assert fold_ivf_deltas(spark, ivf)["batches"] == 1
    assert _rows(probe_ann_index(spark, queries, ann)) == want_ann
    assert _rows(probe_ivf_index(spark, queries, ivf)) == want_ivf

    # version swaps under the shim: reservation + direct final-name
    # write + manifest flip (no dir rename in any mode). A resize /
    # rebuild legitimately changes probe geometry (bits / centroids),
    # so the invariant is corpus preservation — every vector stays
    # probe-visible as its own rank-1 exact match — not result-set
    # equality with the pre-swap capture.
    out_r = resize_ann_index(spark, ann)
    assert out_r["rows"] == 4
    assert read_ann_manifest(ann)["data_version"] >= 2 or not out_r.get(
        "resized"
    )
    reb = rebuild_ivf_index(spark, ivf, force=True)
    assert reb["rebuilt"]
    all_ids = seed_ids + [i for i, _ in BATCH_DOCS]
    all_q = _emb(spark, all_ids)
    for probe, idx_dir in (
        (probe_ann_index, ann),
        (probe_ivf_index, ivf),
    ):
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in probe(spark, all_q, idx_dir)
            .filter(F.col("rank") == 1)
            .collect()
        }
        assert top1 == {i: i for i in all_ids}


def test_marker_publish_is_invisible_until_sidecar(
    spark, tmp_path, monkeypatch, no_dir_renames
):
    """Batch-atomic visibility: data files placed
    before the sidecar are invisible to probes AND folds; the sidecar
    write flips the whole batch visible at once; roll-forward of a
    crashed publish is idempotent."""
    import irio2024_mapreduce_spark.sources.sinks as sinks_mod
    from irio2024_mapreduce_spark.operators.ann_index import (
        delta_shaped_rows,
    )
    from irio2024_mapreduce_spark.operators.stored_index import (
        delta_files as _ann_delta_files,
    )
    from irio2024_mapreduce_spark.sources.sinks import (
        publish_delta_marker,
        write_filelist,
    )

    ann = str(tmp_path / "ann")
    build_ann_index(spark, _emb(spark, [100, 101]), ann, bits=8)
    m = read_ann_manifest(ann)
    want = _rows(probe_ann_index(spark, _emb(spark, [300]), ann))

    staged = str(tmp_path / "staged_delta")
    delta_shaped_rows(
        _emb(spark, [300]), m["bits"], nparts=1,
        part_bits=m["part_bits"],
    ).write.mode("overwrite").partitionBy("tbl").parquet(staged)
    write_filelist(spark, staged)
    droot = _ann_droot(ann, m["data"])
    target = os.path.join(droot, "b=crash.1")

    # crash BEFORE the marker: files placed, sidecar never written
    real_awf = sinks_mod.atomic_write_file

    def crash_on_marker(path, content):
        if os.path.basename(path) == FILELIST_NAME:
            raise RuntimeError("injected crash before commit marker")
        return real_awf(path, content)

    monkeypatch.setattr(sinks_mod, "atomic_write_file", crash_on_marker)
    with pytest.raises(RuntimeError, match="injected crash"):
        publish_delta_marker(staged, target)
    monkeypatch.setattr(sinks_mod, "atomic_write_file", real_awf)

    # uncommitted: probes and the fold's committed-file set skip it
    assert os.path.isdir(target)  # files ARE there...
    assert not os.path.exists(os.path.join(target, FILELIST_NAME))
    assert (
        _rows(probe_ann_index(spark, _emb(spark, [300]), ann)) == want
    )
    assert not _ann_delta_files(ann, m["data"])

    # roll-forward: idempotent re-copy + marker = the commit
    publish_delta_marker(staged, target)
    assert os.path.exists(os.path.join(target, FILELIST_NAME))
    after = _rows(probe_ann_index(spark, _emb(spark, [300]), ann))
    assert after != want  # vector 300 is now probe-visible
    top = (
        probe_ann_index(spark, _emb(spark, [300]), ann)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert top and top[0]["neighbor_id"] == 300
    # publishing again is a no-op (already committed)
    publish_delta_marker(staged, target)
    assert _rows(probe_ann_index(spark, _emb(spark, [300]), ann)) == after


# ------------------------------------------- Spark-free publish protocol
DATA = "rows_h8_v1"


def _manifest_only_index(root) -> str:
    """An ANN index dir holding only a manifest: all the delta publish
    reads besides the staged files."""
    idx = os.path.join(root, "ann")
    os.makedirs(os.path.join(idx, DATA))
    si.write_manifest(ANN, idx, {
        "version": si.FORMAT_VERSION, **ANN.constants(), "bits": 8,
        "part_bits": 0, "bucket_target": 64, "rows": 0, "data": DATA,
        "data_version": 1,
    })
    return idx


def _stage_batch(root) -> str:
    """A staged ANN delta batch of three vectors: one tiny parquet file
    per table, written with pyarrow, plus the batch's sidecar."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    staging = os.path.join(root, "staging")
    files = {}
    for t in (0, 1):
        d = os.path.join(staging, "ann_index", f"tbl={t}")
        os.makedirs(d)
        pq.write_table(
            pa.table({
                "neighbor_id": [1, 2, 3], "cv": [[0.5]] * 3,
                "pb": [0] * 3, "cb": [t] * 3,
            }),
            os.path.join(d, "part-0.parquet"),
        )
        files[f"tbl={t}"] = ["part-0.parquet"]
    with open(os.path.join(staging, "ann_index", FILELIST_NAME), "w") as f:
        json.dump({"version": 1, "files": files}, f)
    return staging


def _publish(staging, idx):
    ex = {
        "kind": "ann", "root": idx, "staged": "ann_index", "data": DATA,
        "delta": "b=s.1", "rows": 3,
    }
    si.publish_delta(
        os.path.join(staging, "ann_index"), ex,
        acquire_compaction_lock_patiently,
    )


def _committed(idx):
    """What every reader sees: the committed delta files, the vectors
    the footer recount finds, and the advisory row count."""
    files = sorted(
        os.path.relpath(f, idx) for f in si.delta_files(idx, DATA)
    )
    vectors = si.footer_rows(si.corpus_files(ANN, idx, DATA))
    return files, vectors, si.read_manifest(ANN, idx)["rows"]


def test_publish_protocol_placed_files_commit_with_sidecar(
    tmp_path, monkeypatch, no_dir_renames
):
    """Files placed without their sidecar are invisible to the committed
    listing, the footer recount and the fold; the sidecar write makes
    the whole batch visible at once."""
    import irio2024_mapreduce_spark.sources.sinks as sinks_mod

    idx = _manifest_only_index(str(tmp_path))
    staging = _stage_batch(str(tmp_path))
    real_awf = sinks_mod.atomic_write_file

    def crash_on_sidecar(path, content):
        if os.path.basename(path) == FILELIST_NAME:
            raise RuntimeError("injected crash before commit marker")
        return real_awf(path, content)

    monkeypatch.setattr(sinks_mod, "atomic_write_file", crash_on_sidecar)
    with pytest.raises(RuntimeError, match="injected crash"):
        _publish(staging, idx)
    monkeypatch.setattr(sinks_mod, "atomic_write_file", real_awf)
    batch = os.path.join(si.deltas_root(idx, DATA), "b=s.1")
    assert sorted(os.listdir(batch)) == ["tbl=0", "tbl=1"]  # placed
    assert _committed(idx) == ([], 0, 0)
    # the fold reads the committed listing only: nothing to fold
    assert si.fold(ANN, None, idx) == {"folded": 0, "batches": 0}

    _publish(staging, idx)
    assert _committed(idx) == (
        ["rows_h8_v1.deltas/b=s.1/tbl=0/part-0.parquet",
         "rows_h8_v1.deltas/b=s.1/tbl=1/part-0.parquet"],
        3, 3,
    )
    assert not os.path.exists(os.path.join(staging, "ann_index"))


@pytest.mark.parametrize(
    "crash", ["first_file", "sidecar", "staged_drop", "count_bump", None]
)
def test_publish_protocol_resumes_to_one_result(
    tmp_path, monkeypatch, no_dir_renames, crash
):
    """A publish resumed after a crash at any step, or run again after
    it finished, ends in the clean run's committed state with nothing
    duplicated. The one difference is documented: a crash between the
    staged-dir drop and the count bump leaves the advisory count low,
    which the maintenance footer recount detects."""
    import shutil

    import irio2024_mapreduce_spark.sources.sinks as sinks_mod

    clean_idx = _manifest_only_index(str(tmp_path / "clean"))
    _publish(_stage_batch(str(tmp_path / "clean")), clean_idx)
    want = _committed(clean_idx)

    idx = _manifest_only_index(str(tmp_path / "crash"))
    staging = _stage_batch(str(tmp_path / "crash"))
    staged = os.path.join(staging, "ann_index")

    def boom(*a, **k):
        raise RuntimeError(f"injected crash at {crash}")

    links = []
    real_link, real_awf = os.link, sinks_mod.atomic_write_file
    real_rmtree = shutil.rmtree

    def link_once(src, dst):
        if links:
            boom()
        links.append(dst)
        return real_link(src, dst)

    def awf(path, content):
        if os.path.basename(path) == FILELIST_NAME:
            boom()
        return real_awf(path, content)

    def rmtree(path, *a, **k):
        if path == staged:
            boom()
        return real_rmtree(path, *a, **k)

    with monkeypatch.context() as mp:
        if crash == "first_file":
            mp.setattr(os, "link", link_once)
        elif crash == "sidecar":
            mp.setattr(sinks_mod, "atomic_write_file", awf)
        elif crash == "staged_drop":
            mp.setattr(shutil, "rmtree", rmtree)
        elif crash == "count_bump":
            mp.setattr(si, "write_manifest", boom)
        if crash is None:
            _publish(staging, idx)
        else:
            with pytest.raises(RuntimeError, match="injected crash"):
                _publish(staging, idx)
    _publish(staging, idx)  # roll-forward
    _publish(staging, idx)  # and again: a no-op
    files, vectors, rows = _committed(idx)
    assert (files, vectors) == want[:2]
    assert rows == (0 if crash == "count_bump" else want[2])
    assert not os.path.exists(staged)
