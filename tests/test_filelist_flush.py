"""Stored-index commits flush what they commit.

Every stored-index writer rewrites its ``_filelist.json`` sidecar with
``sinks.write_filelist`` before its commit point: the manifest flip of
a build or rewrite, the delta drops of a fold, the staged-dir removal
of a re-shaped publish. The data files are written by Spark, which does
not fsync them, so the sidecar write is where they must be flushed.
Recorded through ``os.fsync`` / ``os.replace`` / ``shutil.rmtree``:

* every file (and partition dir) of a freshly built ANN version is
  fsynced before the manifest is replaced;
* every file a fold appends to the layout is fsynced before the first
  delta batch dir is removed;
* a fold fsyncs only the files it appended: the layout's earlier files
  were flushed before the previous sidecar listed them.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators import stored_index
from irio2024_mapreduce_spark.operators.ann_index import (
    FAMILY,
    build_ann_index,
    fold_ann_deltas,
    read_ann_manifest,
)
from irio2024_mapreduce_spark.operators.similarity import _as_double
from irio2024_mapreduce_spark.sources.sinks import (
    acquire_compaction_lock_patiently,
    parquet_files,
)
from irio2024_mapreduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    return df.localCheckpoint(eager=True)


def _record(monkeypatch) -> list[tuple[str, str]]:
    """(kind, real path) of every fsync, replace and rmtree, in order."""
    events: list[tuple[str, str]] = []
    real_fsync, real_replace, real_rmtree = os.fsync, os.replace, shutil.rmtree

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst, *a, **kw):
        events.append(("replace", os.path.realpath(dst)))
        return real_replace(src, dst, *a, **kw)

    def rmtree(path, *a, **kw):
        events.append(("rmtree", os.path.realpath(path)))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    return events


def _flushed_before(events, i: int) -> set[str]:
    return {p for kind, p in events[:i] if kind == "fsync"}


def test_build_flushes_its_version_before_the_manifest_flip(
    spark, emb, tmp_path, monkeypatch
):
    idx = os.path.realpath(str(tmp_path / "ann"))
    events = _record(monkeypatch)
    build_ann_index(spark, emb, idx)
    monkeypatch.undo()
    data_dir = os.path.join(idx, read_ann_manifest(idx)["data"])
    files = set(parquet_files(data_dir))
    assert files
    flip = events.index(
        ("replace", stored_index.manifest_path(FAMILY, idx))
    )
    flushed = _flushed_before(events, flip)
    assert sorted(files - flushed) == []
    assert sorted({os.path.dirname(f) for f in files} - flushed) == []


def test_fold_flushes_what_it_appends_before_dropping_the_deltas(
    spark, emb, tmp_path, monkeypatch
):
    idx = os.path.realpath(str(tmp_path / "ann"))
    build_ann_index(spark, emb.filter(F.col("vec_id") % 2 == 0), idx)
    m = read_ann_manifest(idx)
    # one batch through the real stage / publish protocol
    half = emb.filter(F.col("vec_id") % 2 == 1)
    staged = str(tmp_path / "staging" / "ann_index")
    stored_index.stage_delta(FAMILY, spark, half, idx, m, staged, 1)
    ex = {"kind": "ann", "root": idx, "data": m["data"],
          "delta": "b=test.1", "rows": half.count()}
    stored_index.publish_delta(staged, ex, acquire_compaction_lock_patiently)
    data_dir = os.path.join(idx, m["data"])
    before = set(parquet_files(data_dir))

    events = _record(monkeypatch)
    out = fold_ann_deltas(spark, idx)
    monkeypatch.undo()
    assert out["batches"] == 1
    appended = set(parquet_files(data_dir)) - before
    assert appended
    drop = next(
        i for i, (kind, p) in enumerate(events)
        if kind == "rmtree" and os.path.basename(p).startswith("b=")
    )
    assert sorted(appended - _flushed_before(events, drop)) == []


def test_fold_fsyncs_only_the_files_it_appended(
    spark, emb, tmp_path, monkeypatch
):
    idx = os.path.realpath(str(tmp_path / "ann"))
    build_ann_index(spark, emb.filter(F.col("vec_id") % 2 == 0), idx)
    m = read_ann_manifest(idx)
    half = emb.filter(F.col("vec_id") % 2 == 1)
    staged = str(tmp_path / "staging" / "ann_index")
    stored_index.stage_delta(FAMILY, spark, half, idx, m, staged, 1)
    ex = {"kind": "ann", "root": idx, "data": m["data"],
          "delta": "b=test.1", "rows": half.count()}
    stored_index.publish_delta(staged, ex, acquire_compaction_lock_patiently)
    data_dir = os.path.join(idx, m["data"])
    before = set(parquet_files(data_dir))
    assert before

    events = _record(monkeypatch)
    fold_ann_deltas(spark, idx)
    monkeypatch.undo()
    appended = set(parquet_files(data_dir)) - before
    assert appended
    flushed = {p for kind, p in events if kind == "fsync"}
    assert sorted(flushed & set(parquet_files(data_dir))) == sorted(appended)
