"""Flat compaction, the advisory compaction lock the ingest writer
honors, and the lock-free reader's retry boundary. The crash matrix of
the compactor's publish step lives in ``test_replace_dataset.py``."""

from __future__ import annotations

import os

import pytest

from irio2024_mapreduce_spark.sources.sinks import (
    acquire_compaction_lock,
    check_not_compacting,
    compact_parquet,
    run_lockfree_read,
)


def _grow(spark, path, appends=4, rows=50):
    for i in range(appends):
        spark.range(i * rows, (i + 1) * rows).selectExpr(
            "id", "id * 2 AS val"
        ).repartition(4).write.mode("append").parquet(path)


def test_compaction_lock_excludes_writers_and_compactors(spark, tmp_path):
    root = str(tmp_path / "data")
    _grow(spark, root, appends=1)

    lock = acquire_compaction_lock(root)
    try:
        # the ingest driver's append-side check refuses
        with pytest.raises(RuntimeError, match="compacted"):
            check_not_compacting(root)
        # a second compactor cannot start (lock held by a LIVE
        # process — this one)
        with pytest.raises(RuntimeError, match="live"):
            compact_parquet(spark, root)
    finally:
        os.unlink(lock)
    # released: both proceed
    check_not_compacting(root)
    stats = compact_parquet(spark, root, target_file_bytes=1 << 30)
    assert stats["files_after"] >= 1
    check_not_compacting(root)  # the leftover lock file blocks nobody


def test_flat_compactor_still_recovers_and_compacts(spark, tmp_path):
    """The flat path kept its semantics after the lock refactor."""
    path = str(tmp_path / "flat")
    _grow(spark, path)
    before_rows = spark.read.parquet(path).count()
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(path).count() == before_rows


def test_compaction_counts_only_committed_files(spark, tmp_path):
    """A killed writer's ``_temporary/**/part-*.parquet`` is not data:
    it neither counts in ``files_before``/``bytes`` nor sizes the
    output."""
    path = str(tmp_path / "flat")
    _grow(spark, path, appends=2)
    committed = [
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    junk = os.path.join(path, "_temporary", "0", "task_0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000-dead.parquet"), "wb") as f:
        f.write(b"x" * 4096)  # truncated, not parquet
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == len(committed) == 8
    assert stats["bytes"] == sum(committed)
    assert spark.read.parquet(path).count() == 100


def test_crashed_holder_lock_releases_with_its_process(spark, tmp_path):
    """Lock liveness is kernel-owned (flock): a leftover lock FILE
    whose holder died — SIGKILL skips every finally — blocks nobody,
    while a lock held by a live process refuses both the writer-side
    check and a second acquisition."""
    from irio2024_mapreduce_spark.sources.sinks import (
        compaction_lock_path,
        release_compaction_lock,
    )

    root = str(tmp_path / "data")
    _grow(spark, root, appends=1)
    lock_path = compaction_lock_path(root)

    # crashed holder: the file remains but no process holds the flock
    with open(lock_path, "w") as f:
        f.write("999999999")
    check_not_compacting(root)  # passes — nothing live holds it
    got = acquire_compaction_lock(root)  # and acquisition succeeds
    try:
        # live holder: both paths refuse
        with pytest.raises(RuntimeError, match="compacted"):
            check_not_compacting(root)
        with pytest.raises(RuntimeError, match="live"):
            acquire_compaction_lock(root)
    finally:
        release_compaction_lock(got)
    check_not_compacting(root)  # released with the fd


def test_lockfree_read_retries_one_vanished_file_then_classifies(tmp_path):
    """A lock-free read whose input files vanish (a compaction swap, a
    generation flip) is retried once with a fresh listing; a second
    vanish surfaces as the documented retryable, not a raw JVM error.
    Any other failure passes through unchanged."""
    root = str(tmp_path / "idx")
    calls = []

    def read(vanishes: int):
        def attempt():
            calls.append(1)
            if len(calls) <= vanishes:
                raise Exception(
                    "Py4JJavaError: java.io.FileNotFoundException: File "
                    f"{root}/hashes/part-0000.snappy.parquet does not exist"
                )
            return "rows"

        calls.clear()
        return run_lockfree_read(root, attempt)

    assert read(vanishes=1) == "rows"
    assert len(calls) == 2
    with pytest.raises(
        RuntimeError, match="retry after the maintenance window"
    ):
        read(vanishes=2)
    assert len(calls) == 2

    def broken():
        raise ValueError("not a vanished file")

    with pytest.raises(ValueError, match="not a vanished file"):
        run_lockfree_read(root, broken)
