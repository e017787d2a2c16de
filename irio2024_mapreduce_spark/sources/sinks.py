"""Sinks — reference R9 parity plus the partitioned writers a real
deployment uses.

The reference's only sink concatenates reduce outputs into ONE blob
(``mapreduce/coordinator/algorithm.py:117-139``). On Spark that is a
plan shape — ``coalesce(1)`` feeding a single write task. We keep it
for parity and small results, but the scale path is
:func:`write_partitioned`: parallel tasks, optional partition columns
for downstream pruning, optional bucketing so future joins on the
bucket keys skip their shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_single_file(
    df: DataFrame, path: str, fmt: str = "csv", header: bool = True
) -> None:
    """Reference R9: one output file. ``coalesce(1)`` (NOT
    ``repartition(1)``) — it narrows the last stage without forcing an
    extra shuffle. Only sane for driver-scale results (the reference
    had the same constraint: its collect step streamed every reduce
    output through the coordinator)."""
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", str(header).lower())
    writer.format(fmt).save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """The 100 TB sink: one file per task, hive-style partition dirs
    so downstream readers get partition pruning for free."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table: joins/aggregations on ``bucket_cols`` skip
    their shuffle (co-located partitioning persisted at write time) —
    the answer to 'orders ⋈ lineitem shuffles 100 TB'. The
    shuffle-free join plan is asserted in tests/test_bucketed_join.py.

    ``path`` makes the table external (data at ``path`` instead of the
    session warehouse — ``spark.sql.warehouse.dir`` is static config
    and can't be set on a live session)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    zorder_cols: list[str] | None = None,
    zorder_bits: int | None = None,
) -> dict[str, int]:
    """Small-file compaction for an append-grown parquet dataset —
    the maintenance pass an ingest pipeline (``plans.ingest``
    appends one batch-sized file set per day) schedules periodically.

    A dataset of f tiny files costs every future reader f opens and
    f-task scheduling; at 100 TB a year of daily appends is >300
    file sets per partition. Compaction rewrites the dataset into
    ceil(bytes / target_file_bytes) files of ~``target_file_bytes``
    (the same 128 MiB the scan-side ``maxPartitionBytes`` is tuned
    to, so post-compaction one file ≈ one split ≈ one task).

    Swap semantics on a plain filesystem: write to a sibling temp
    dir, then TWO renames (path→old, tmp→path). Each rename is
    atomic but the pair is not — a reader in the gap sees a missing
    dataset, and a crash between them leaves the data under
    ``._compact_old``. Both are recovered here: stale temp dirs are
    cleaned on entry and an orphaned old dir (crash signature: old
    exists, path missing) is renamed back before compacting. For
    readers that must never hit the gap, use the versioned layout
    (:func:`compact_parquet_versioned`) whose pointer flip is one
    atomic ``os.replace``. Returns {files_before, files_after,
    bytes}.

    CONCURRENT WRITERS LOSE DATA: the rewrite snapshots
    ``path`` at ``spark.read`` time, so files appended between that
    read and the rename pair (e.g. by a running ``ingest_batch``)
    are deleted with the old dir. Compaction therefore requires
    mutual exclusion with the ingest writer: it takes the advisory
    ``_compact.lock`` (:func:`acquire_compaction_lock`) which the
    ingest driver's corpus append honors — schedule compaction in
    the ingest pipeline's quiet window, not beside it.

    Hive-partitioned datasets must pass ``partition_by`` (the rewrite
    then compacts WITHIN each partition dir); compacting one without
    it would silently flatten the layout and lose partition pruning
    for every downstream reader — refused loudly instead.

    ``zorder_cols`` FUSES the two maintenance passes: daily appends
    both fragment the file set AND erode z-order
    clustering, and running ``rewrite_zordered`` after
    ``compact_parquet`` paid two full corpus rewrites per maintenance
    window for one layout goal. With it set, the SAME single rewrite
    range-partitions on the interleaved z-key (``layout.zorder_key``)
    and sorts within partitions, so the output files simultaneously
    hit the byte target and tile the z-curve — one pass, both
    properties restored. ``zorder_bits`` defaults to
    ``layout.ZORDER_DEFAULT_BITS``.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    lock = acquire_compaction_lock(path)
    try:
        return _compact_flat(
            spark, path, target_file_bytes, partition_by, _glob, _os,
            _shutil, zorder_cols, zorder_bits,
        )
    finally:
        release_compaction_lock(lock)


def _compact_flat(
    spark, path, target_file_bytes, partition_by, _glob, _os, _shutil,
    zorder_cols=None, zorder_bits=None,
) -> dict[str, int]:
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    recover_swap_crash(path.rstrip("/"))

    hive_dirs = [
        d
        for d in _os.listdir(path)
        if "=" in d and _os.path.isdir(_os.path.join(path, d))
    ]
    if hive_dirs and not partition_by:
        raise ValueError(
            f"{path} is hive-partitioned ({hive_dirs[0]}, ...): pass "
            "partition_by= or the compaction would flatten the layout "
            "and lose partition pruning"
        )

    data_files = [
        f
        for f in _glob.glob(_os.path.join(path, "**", "*.parquet"),
                            recursive=True)
        if _os.path.isfile(f)
    ]
    files_before = len(data_files)
    total_bytes = sum(_os.path.getsize(f) for f in data_files)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil

    # repartition (round-robin shuffle) — not coalesce: coalesce
    # narrows without rebalancing, so one fat input file would keep
    # its skew and produce one fat output file. Partitioned datasets
    # RANGE-partition on (partition cols, row hash): ranges keep a
    # partition's rows on contiguous tasks (each task writes into at
    # most a couple of hive dirs, so total files stay ~n_out) while
    # the trailing hash splits a HOT partition across as many tasks
    # as its bytes deserve — plain repartition(n_out, *partition_by)
    # would collapse each hive dir onto ONE task and write one
    # arbitrarily large file per partition, ignoring the byte target.
    df = spark.read.parquet(path)
    _shape_for_write(
        df, n_out, partition_by, zorder_cols, zorder_bits
    ).parquet(tmp)
    _os.rename(path, old)
    _os.rename(tmp, path)
    _shutil.rmtree(old)

    files_after = len(
        [
            f
            for f in _glob.glob(
                _os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if _os.path.isfile(f)
        ]
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }


def fsync_dir(path: str) -> None:
    """fsync a DIRECTORY: makes a just-renamed entry durable. Rename
    atomicity orders the VISIBLE states; only the directory fsync
    orders them against power loss."""
    import os as _os

    fd = _os.open(path, _os.O_RDONLY | _os.O_DIRECTORY)
    try:
        _os.fsync(fd)
    finally:
        _os.close(fd)


def atomic_write_file(path: str, content: str) -> None:
    """Create/replace ``path`` with ``content`` atomically AND
    durably: write a sibling temp file, flush + fsync, ``os.replace``,
    fsync the parent dir — a crash leaves either no file or the
    complete file, and once this returns the file survives power
    loss. THE single definition of the commit-file shape (pointer
    flips, index manifests, staged-batch commit markers all use it —
    four private copies had already started to diverge on fsync)."""
    import os as _os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        _os.fsync(f.fileno())
    _os.replace(tmp, path)
    fsync_dir(_os.path.dirname(path) or ".")


def _shape_for_write(
    df, n_out, partition_by=None, zorder_cols=None, zorder_bits=None
):
    """The compacted rewrite's (shaped_frame, writer) — shared by the
    flat and versioned compactors so the zorder/partition/plain
    branches cannot diverge between them. zorder_cols fuses z-order
    re-clustering into the same single rewrite: ONE range shuffle on
    (partition cols, z-key) + an in-partition sort give the byte
    target AND the z-curve tiling together."""
    if zorder_cols:
        from irio2024_mapreduce_spark.sources.layout import (  # noqa: PLC0415
            ZORDER_DEFAULT_BITS,
            zorder_key,
        )

        zkey = zorder_key(df, zorder_cols, zorder_bits or ZORDER_DEFAULT_BITS)
        lead = [F.col(c) for c in (partition_by or [])]
        shaped = (
            df.withColumn("_zkey", zkey)
            .repartitionByRange(n_out, *lead, F.col("_zkey"))
            .sortWithinPartitions(*(partition_by or []), "_zkey")
            .drop("_zkey")
        )
        writer = shaped.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        return writer
    if partition_by:
        salt = F.xxhash64(*[F.col(c) for c in df.columns])
        shaped = df.repartitionByRange(
            n_out, *[F.col(c) for c in partition_by], salt
        )
        return shaped.write.mode("overwrite").partitionBy(*partition_by)
    return df.repartition(n_out).write.mode("overwrite")


# ---------------------------------------------------------------- locking
def compaction_lock_path(path: str) -> str:
    return path.rstrip("/") + "._compact.lock"


# held-lock file descriptors, keyed by lock path: the flock lives on
# the OPEN fd — closing it (or process death, including SIGKILL, the
# kernel does it) releases the lock. The lock FILE on disk is just an
# address; its existence alone means nothing.
_HELD_LOCK_FDS: dict[str, int] = {}


def acquire_flock(lockfile: str, purpose: str = "locked") -> str:
    """Take an exclusive kernel ``flock`` on ``lockfile`` (created if
    missing). flock liveness is owned by the KERNEL: a SIGKILLed
    holder's lock releases the instant its fd closes, so there is no
    stale-lock state, no PID-liveness guessing, and no reap race (an
    earlier PID-file scheme had check-then-unlink TOCTOU windows where
    racers could delete a LIVE holder's lock). ADVISORY: a writer that
    skips the check is not blocked; object stores / NFS need an
    external lock manager (flock over NFS is mount-dependent). Raises
    RuntimeError if live-held; returns ``lockfile`` for
    :func:`release_flock`."""
    import fcntl as _fcntl
    import os as _os

    fd = _os.open(lockfile, _os.O_CREAT | _os.O_WRONLY, 0o644)
    try:
        _fcntl.flock(fd, _fcntl.LOCK_EX | _fcntl.LOCK_NB)
    except BlockingIOError:
        _os.close(fd)
        raise RuntimeError(
            f"{lockfile} is {purpose} by a live process"
        ) from None
    # informational only — liveness comes from the flock itself
    _os.ftruncate(fd, 0)
    _os.write(fd, str(_os.getpid()).encode())
    _HELD_LOCK_FDS[lockfile] = fd
    return lockfile


def release_flock(lockfile: str) -> None:
    """Release a lock returned by :func:`acquire_flock` by closing the
    flock'd fd. The lock FILE is deliberately left in place: unlinking
    it here would race a new acquirer that opened and flocked the same
    path between our close and our unlink — their live lock would lose
    its directory entry and become invisible to every checker. An
    unheld file blocks nobody under flock semantics, so the name
    simply persists as the lock's address."""
    import os as _os

    fd = _HELD_LOCK_FDS.pop(lockfile, None)
    if fd is not None:
        _os.close(fd)


def flock_is_live(lockfile: str) -> bool:
    """True iff a LIVE process holds the flock on ``lockfile`` right
    now. A missing file, or a file whose holder died (kernel released
    the lock with the fd), reads as not-held."""
    import fcntl as _fcntl
    import os as _os

    if not _os.path.exists(lockfile):
        return False
    try:
        fd = _os.open(lockfile, _os.O_RDONLY)
    except FileNotFoundError:
        return False
    try:
        try:
            _fcntl.flock(fd, _fcntl.LOCK_SH | _fcntl.LOCK_NB)
        except BlockingIOError:
            return True
        _fcntl.flock(fd, _fcntl.LOCK_UN)
        return False
    finally:
        _os.close(fd)


def acquire_compaction_lock(path: str) -> str:
    """Advisory writer-exclusion for a dataset under compaction, held
    as a kernel ``flock`` on the dataset's lock file (see
    :func:`acquire_flock` for the liveness semantics). Raises
    RuntimeError if live-held; returns the lock path for
    :func:`release_compaction_lock`."""
    lock = compaction_lock_path(path)
    try:
        return acquire_flock(lock, purpose="held")
    except RuntimeError:
        raise RuntimeError(
            f"{path} is being compacted ({lock} held by a live "
            "process) — retry after the maintenance window"
        ) from None


def release_compaction_lock(lock: str) -> None:
    """Release a lock returned by :func:`acquire_compaction_lock`."""
    release_flock(lock)


class LockPatienceExhausted(RuntimeError):
    """Raised by :func:`acquire_compaction_lock_patiently` when the
    patience budget runs out — a DEDICATED type so recovery paths can
    tolerate exactly this condition (a transient long hold) without
    also swallowing unrelated RuntimeErrors from the publish they
    wrap."""


class SimulatedCrash(RuntimeError):
    """Fault injection for kill-at-every-step publish tests — raised
    by a ``_test_crash_after`` hook right after the named step,
    leaving exactly the on-disk state a process kill there would.
    Test-only; production callers never trigger it. Defined once here
    (the module every publish protocol already imports) so the ingest
    and corpus-prep matrices share one exception type."""


def acquire_compaction_lock_patiently(
    path: str, attempts: int = 40, wait: float = 0.25
) -> str:
    """acquire_compaction_lock with ~10 s of patience — for callers
    whose critical section is milliseconds (publish renames, daily
    appends): brief contention with a sibling should wait, not abort
    an already-computed batch; a genuinely long hold (a real
    compaction) still surfaces as the loud
    :class:`LockPatienceExhausted`."""
    import time as _time

    for attempt in range(attempts):
        try:
            return acquire_compaction_lock(path)
        except RuntimeError as e:
            if attempt == attempts - 1:
                raise LockPatienceExhausted(str(e)) from None
            _time.sleep(wait)
    raise AssertionError("unreachable")


def check_not_compacting(path: str) -> None:
    """Raise if ``path`` is being compacted — appending now would be
    silently deleted with the pre-compaction snapshot (the rewrite
    reads a snapshot, then swaps the whole dir; see compact_parquet's
    concurrent-writer note). 'Being compacted' means a LIVE process
    holds the flock: a crashed holder's lock auto-released with its
    fd, so a leftover lock FILE alone passes — its swap leftovers are
    handled by recover_swap_crash, not by wedging every writer."""
    if flock_is_live(compaction_lock_path(path)):
        raise RuntimeError(
            f"{path} is being compacted ({compaction_lock_path(path)} "
            "held): appends during a compaction are deleted with "
            "the old snapshot — retry after the maintenance window"
        )


def recover_swap_crash(
    path: str,
    tmp_suffix: str = "._compact_tmp",
    old_suffix: str = "._compact_old",
) -> None:
    """THE swap crash-recovery classification, defined once for every
    tmp/old double-rename site (flat compactor, index compactor,
    z-order rewriter via its suffix pair, and the ingest drivers'
    recovery-first reads): a stale tmp is a failed write (drop); an
    old dir beside a live dir is post-swap garbage (drop); an old dir
    without a live dir is the pre-swap truth (restore). Callers must
    hold — or have excluded via the advisory lock — any concurrent
    compactor."""
    import os as _os
    import shutil as _shutil

    tmp, old = path + tmp_suffix, path + old_suffix
    if _os.path.exists(tmp):
        _shutil.rmtree(tmp)
    if _os.path.exists(old):
        if _os.path.exists(path):
            _shutil.rmtree(old)
        else:
            _os.rename(old, path)


# ------------------------------------------------------- versioned layout
# The readers-never-blocked answer the flat compactor's docstring
# points at: the dataset lives in version dirs
# `root/v<N>` and readers resolve ONE small pointer file. Compaction
# writes a brand-new version dir and flips the pointer with an atomic
# os.replace — there is no rename gap, a reader between any two steps
# sees either the old complete version or the new complete version.
# A crash before the flip leaves an unreferenced version dir that the
# next compaction garbage-collects; a crash after the flip already
# committed. The previous version is retained for readers that
# resolved the pointer just before the flip (grace: one version).
_CURRENT_POINTER = "_CURRENT"


def resolve_current(root: str) -> str:
    """Path of the current version dir — what every reader scans.
    One tiny file read. Compaction never mutates a pointed-at dir
    (it writes a NEW version and flips); appenders (the ingest
    driver) may ADD files to the current dir, with the same
    reader-visibility semantics as flat-layout appends — which is
    why compaction and appends share the advisory lock."""
    import os as _os

    with open(_os.path.join(root, _CURRENT_POINTER)) as f:
        return _os.path.join(root, f"v{int(f.read().strip())}")


def read_current(spark, root: str):
    return spark.read.parquet(resolve_current(root))


def _flip_pointer(root: str, version: int) -> None:
    """Atomic pointer update (see :func:`atomic_write_file` — readers
    see old or new content, never a partial write)."""
    import os as _os

    atomic_write_file(
        _os.path.join(root, _CURRENT_POINTER), str(version)
    )


def init_versioned(root: str) -> str:
    """Adopt a dataset into the versioned layout. A flat parquet dir
    becomes ``root/v1`` (one rename — do this in the same maintenance
    window as a compaction, it has the flat layout's swap caveat) and
    the pointer is written; an already-versioned root is a no-op.
    Returns the current version dir.

    Crash-recoverable like the compactors' swaps: the staging dir IS
    the signature. A crash can land (a) after the root→staging rename
    (root missing), (b) after the empty-root mkdir, or (c) after the
    staging→v1 rename but before the pointer write — a re-run detects
    each state and resumes the adoption instead of raising on the
    first rename."""
    import os as _os

    pointer = _os.path.join(root, _CURRENT_POINTER)
    if _os.path.exists(pointer):
        return resolve_current(root)
    staging = root.rstrip("/") + "._v1_staging"
    v1 = _os.path.join(root, "v1")
    if _os.path.exists(staging):
        # crashed mid-adoption at (a) or (b): resume from the staging
        # — but REFUSE if someone re-materialized data at root in the
        # meantime (adopting the stale staging over it would point
        # readers at pre-crash data and orphan the fresh files)
        if _os.path.isdir(root) and _os.listdir(root):
            raise RuntimeError(
                f"crashed adoption staging {staging!r} exists but "
                f"{root!r} is non-empty — resolve which dataset is "
                "current before re-running init_versioned"
            )
    elif _os.path.isdir(v1):
        # crashed at (c): data already in place, only the pointer is
        # missing
        _flip_pointer(root, 1)
        return v1
    else:
        # fresh adoption: the first two steps; the shared tail below
        # finishes, so every crash point resumes the SAME code path
        _os.rename(root, staging)
    _os.makedirs(root, exist_ok=True)
    _os.rename(staging, v1)
    _flip_pointer(root, 1)
    return v1


def compact_parquet_versioned(
    spark,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    zorder_cols: list[str] | None = None,
    zorder_bits: int | None = None,
) -> dict[str, int]:
    """Compaction for a versioned dataset: read the current version,
    write the compacted rewrite as version N+1 (a plain parquet write
    — no renames of live data at all), flip the pointer atomically,
    and garbage-collect everything older than version N (N itself is
    the one-version reader grace). Readers are NEVER blocked and
    never see a missing dataset. Same writer-exclusion caveat as the
    flat compactor for concurrent APPENDS: appends must target a new
    version or hold off during the window (the advisory lock is
    taken here too). ``zorder_cols`` fuses z-order re-clustering into
    the same rewrite (see :func:`compact_parquet`).

    Returns {files_before, files_after, bytes, version}."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    lock = acquire_compaction_lock(root)
    try:
        cur = resolve_current(root)
        cur_n = int(_os.path.basename(cur)[1:])

        hive_dirs = [
            d
            for d in _os.listdir(cur)
            if "=" in d and _os.path.isdir(_os.path.join(cur, d))
        ]
        if hive_dirs and not partition_by:
            raise ValueError(
                f"{cur} is hive-partitioned ({hive_dirs[0]}, ...): pass "
                "partition_by= or the compaction would flatten the "
                "layout and lose partition pruning"
            )

        def _files(d):
            return [
                f
                for f in _glob.glob(
                    _os.path.join(d, "**", "*.parquet"), recursive=True
                )
                if _os.path.isfile(f)
            ]

        files_before = len(_files(cur))
        total_bytes = sum(_os.path.getsize(f) for f in _files(cur))
        n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil

        new_n = cur_n + 1
        new_dir = _os.path.join(root, f"v{new_n}")
        if _os.path.exists(new_dir):  # unreferenced crash leftover
            _shutil.rmtree(new_dir)

        df = spark.read.parquet(cur)
        _shape_for_write(
            df, n_out, partition_by, zorder_cols, zorder_bits
        ).parquet(new_dir)

        _flip_pointer(root, new_n)  # the commit point

        # GC: drop versions older than the grace version (cur_n), and
        # any unreferenced future dirs from older crashed runs
        for d in _os.listdir(root):
            if (
                d.startswith("v")
                and d[1:].isdigit()
                and _os.path.isdir(_os.path.join(root, d))
                and int(d[1:]) < cur_n
            ):
                _shutil.rmtree(_os.path.join(root, d))

        return {
            "files_before": files_before,
            "files_after": len(_files(new_dir)),
            "bytes": total_bytes,
            "version": new_n,
        }
    finally:
        release_compaction_lock(lock)


def reraise_if_vanished_input(e: BaseException, index_dir: str) -> None:
    """Classify a Spark-job failure whose root cause is input files
    vanishing under ``index_dir`` mid-job — the lock-free races the
    multi-process chaos soak (tools/chaos_ingest.py) surfaced as raw
    Py4JJavaErrors where the protocol owed its documented retryables:

    * a maintenance compaction SWAPPED an index part while this
      reader's scan had its file list (the entry check_not_compacting
      is advisory — a compaction starting after it is legal);
    * a ``prepare_corpus`` generation flip replaced the index dir —
      including ``_staged/`` — while a batch was staging;
    * a full index build's orphan GC removed the version dirs a
      lock-free rebuild snapshot was still reading (the reason this
      lives in the shared module: ingest AND the index-maintenance
      entry points classify the same way).

    All are pre-commit (manifest rows/flips are written last), so the
    operation is losslessly retryable; re-raise with the protocol's
    retryable phrasing instead of leaking an opaque JVM traceback.
    A failure that keeps recurring (real corruption) still surfaces:
    callers bound their retries."""
    import os as _os

    s = str(e)
    if not any(
        mark in s
        for mark in (
            "FileNotFoundException",
            "No such file or directory",
            "does not exist",
            # a staged write whose dir was destroyed under it (a
            # generation flip taking `_staged/` away mid-write)
            # surfaces from Hadoop's committer as these two shapes,
            # not as FileNotFound
            "Mkdirs failed to create",
            "Failed to rename",
        )
    ):
        return
    root = _os.path.abspath(index_dir)
    if root not in s and index_dir.rstrip("/") not in s:
        return
    if "/_staged/" in s:
        raise RuntimeError(
            f"ingest staging under {index_dir} was destroyed mid-write "
            "(a generation flip replaced the index?) — the batch was "
            "NOT ingested; re-deliver it"
        ) from e
    raise RuntimeError(
        f"index files under {index_dir} vanished beneath the batch's "
        "scan (a compaction swapped the dataset mid-read) — nothing "
        "was committed; retry after the maintenance window"
    ) from e


# -------------------------------------------- probe file-list sidecars
# Resolving probed buckets with one FS LIST per partition dir cost
# ~1.4-2 s of a 2.5-3.6 s probe at the graded fixture geometry, and
# LIST is the expensive, eventually-consistent primitive on object
# storage. Every LOCKED layout writer (build / append / resize / fold)
# maintains a `_filelist.json` sidecar inside the data dir — relative
# data-file paths per partition subdir plus the resolved read schema —
# and every per-batch delta is staged with one, whose publication is
# the batch's commit (publish_delta_marker). Probes resolve probed
# buckets to concrete parquet paths and a user-supplied schema from
# ONE sidecar read: zero LISTs, zero footer schema inference. The
# underscore name keeps the sidecar invisible to Spark reads and to
# every hidden-pruned walker.
FILELIST_NAME = "_filelist.json"


def write_filelist(spark, data_dir: str) -> dict:
    """Walk ``data_dir`` ONCE (hidden paths pruned — only COMMITTED
    files enter) and atomically (re)write its file-list sidecar.
    Callers hold the dataset's writer lock, so the walk races nothing;
    its cost is paid once per WRITE (build / maintenance cadence)
    instead of once per probe. The schema is captured through the same
    basePath read shape the probes use, so partition-column typing is
    identical by construction."""
    import json as _json
    import os as _os

    files: dict[str, list[str]] = {}
    first: str | None = None
    for root, dirs, names in _os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        keep = sorted(
            n
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        if keep:
            rel = _os.path.relpath(root, data_dir)
            files[rel] = keep
            if first is None:
                first = _os.path.join(root, keep[0])
    payload: dict = {"version": 1, "files": files}
    if first is not None:
        payload["schema"] = (
            spark.read.option("basePath", data_dir)
            .parquet(first)
            .schema.json()
        )
    atomic_write_file(
        _os.path.join(data_dir, FILELIST_NAME),
        _json.dumps(payload, indent=1),
    )
    return payload


def read_filelist(data_dir: str) -> dict | None:
    """The sidecar, or None when absent (an uncommitted delta batch, or
    a data dir deleted by a version swap) or unreadable."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(data_dir, FILELIST_NAME)) as f:
            return _json.load(f)
    except (FileNotFoundError, ValueError):
        return None


def run_lockfree_read(index_dir: str, attempt):
    """Run ``attempt()`` — a lock-free reader's resolve+read closure —
    retrying ONCE with a fresh listing when input files vanish beneath
    it (a maintenance fold dropping just-folded delta dirs, a version
    swap's GC), then classifying the failure to the protocol's
    documented retryable via :func:`reraise_if_vanished_input` instead
    of leaking a raw Py4JJavaError."""
    try:
        return attempt()
    except RuntimeError:
        raise  # already protocol-classified
    except Exception as e:
        vanished = False
        try:
            reraise_if_vanished_input(e, index_dir)
        except RuntimeError:
            vanished = True
        if not vanished:
            raise
        try:
            return attempt()
        except Exception as e2:
            reraise_if_vanished_input(e2, index_dir)
            raise


def publish_delta_marker(staged_dir: str, target: str) -> None:
    """Commit a staged per-batch delta dir without a directory rename,
    the primitive object storage lacks. Data files are placed at their
    final names first (hardlinks locally, standing in for an
    object-store server-side copy; idempotent under roll-forward via
    exists-checks), the touched dirs are fsynced, and the batch's
    `_filelist.json` sidecar is written LAST with one atomic
    single-object write: THE commit. Readers treat a sidecar-less
    delta dir as uncommitted and its unlisted files as garbage, so
    visibility is whole batch or none. Runs under the caller's index
    lock."""
    import os as _os
    import shutil as _shutil

    dst_side = _os.path.join(target, FILELIST_NAME)
    if _os.path.exists(dst_side):
        return  # a sibling/predecessor already committed this batch
    with open(_os.path.join(staged_dir, FILELIST_NAME)) as f:
        content = f.read()
    touched: set[str] = set()
    for root, dirs, names in _os.walk(staged_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = _os.path.relpath(root, staged_dir)
        for name in names:
            if not name.endswith(".parquet") or name.startswith(
                ("_", ".")
            ):
                continue
            out_dir = (
                target if rel == "." else _os.path.join(target, rel)
            )
            _os.makedirs(out_dir, exist_ok=True)
            dst = _os.path.join(out_dir, name)
            if not _os.path.exists(dst):
                try:
                    _os.link(_os.path.join(root, name), dst)
                except OSError:
                    _shutil.copy2(_os.path.join(root, name), dst)
            touched.add(out_dir)
    for d in sorted(touched):
        fsync_dir(d)
    _os.makedirs(target, exist_ok=True)
    atomic_write_file(dst_side, content)  # THE commit point


def consume_fold_crash_flag(kind: str) -> None:
    """FAULT INJECTION for the chaos soak: die
    like a SIGKILL between a maintenance fold's dynamic-partition
    append and its delta-root drop — the one crash window the
    single-process kill matrices pin but the multi-process soak had
    never exercised live. Armed by the orchestrator touching the file
    named in ``SPARK_GRAFT_FOLD_CRASH_FLAG``; ONE-SHOT (the flag is
    consumed before dying, so the restarted worker's re-fold
    completes). ``os._exit`` skips every ``finally:`` — no lock
    release, no delta drop — exactly a SIGKILL's shape; the advisory
    flocks release with the process like any kill. A no-op in
    production (env unset)."""
    import os as _os
    import time as _time

    flag = _os.environ.get("SPARK_GRAFT_FOLD_CRASH_FLAG")
    if not flag or not _os.path.exists(flag):
        return
    try:
        with open(flag) as f:
            want = f.read().strip()
    except FileNotFoundError:
        return
    # kind-selective arming: the ANN fold always runs first in the
    # maintenance order, so an indiscriminate flag would only ever
    # exercise the ANN window — a flag naming "ivf" passes through
    # the ANN fold untouched and fires on the IVF one
    if want not in ("", "armed", "any", kind):
        return
    try:
        _os.unlink(flag)
    except FileNotFoundError:
        return  # a concurrent fold consumed it first
    with open(flag + ".log", "a") as f:
        f.write(f"{kind} {_os.getpid()} {_time.time()}\n")
        f.flush()
        _os.fsync(f.fileno())
    _os._exit(137)
