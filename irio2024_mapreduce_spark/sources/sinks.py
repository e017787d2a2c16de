"""Sinks — reference R9 parity plus the partitioned writers a real
deployment uses.

The reference's only sink concatenates reduce outputs into ONE blob
(``mapreduce/coordinator/algorithm.py:117-139``). On Spark that is a
plan shape — ``coalesce(1)`` feeding a single write task. We keep it
for parity and small results, but the scale path is
:func:`write_partitioned`: parallel tasks, optional partition columns
for downstream pruning.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_single_file(
    df: DataFrame, path: str, fmt: str = "csv", header: bool = True
) -> None:
    """Reference R9: one output file. ``coalesce(1)`` (NOT
    ``repartition(1)``) — it narrows the last stage without forcing an
    extra shuffle. Only sane for driver-scale results (the reference
    had the same constraint: its collect step streamed every reduce
    output through the coordinator). No engine path calls it: it is
    the only code behind COVERAGE.md row R9, kept for reference
    parity."""
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


def parquet_files(path: str):
    """Committed parquet files under ``path``, in sorted walk order.
    ``_``/``.``-prefixed dirs and files are skipped: Spark stages task
    attempts under ``_temporary``, a killed writer leaves truncated
    files there, and sidecars and staging dirs are hidden the same way.
    THE one rule for what a dataset's data files are."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


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

    The rewrite is published with :func:`replace_dataset`: a crash at
    any step is finished or undone by the next writer's
    :func:`recover_swap_crash`, and a reader caught between its two
    renames sees a missing dataset (classified retryable by
    :func:`reraise_if_vanished_input`). Returns {files_before,
    files_after, bytes}.

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
    path = path.rstrip("/")
    stats: dict[str, int] = {}

    def fill(tmp: str) -> None:
        hive_dirs = [
            d
            for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        ]
        if hive_dirs and not partition_by:
            raise ValueError(
                f"{path} is hive-partitioned ({hive_dirs[0]}, ...): pass "
                "partition_by= or the compaction would flatten the layout "
                "and lose partition pruning"
            )
        data_files = list(parquet_files(path))
        stats["files_before"] = len(data_files)
        stats["bytes"] = sum(os.path.getsize(f) for f in data_files)
        n_out = max(1, -(-stats["bytes"] // target_file_bytes))  # ceil
        df = spark.read.parquet(path)
        lead = [F.col(c) for c in (partition_by or [])]
        if zorder_cols:
            # ONE range shuffle on (partition cols, z-key) + an
            # in-partition sort give the byte target AND the z-curve
            # tiling together
            from irio2024_mapreduce_spark.sources.layout import (  # noqa: PLC0415
                ZORDER_DEFAULT_BITS,
                zorder_key,
            )

            zkey = zorder_key(
                df, zorder_cols, zorder_bits or ZORDER_DEFAULT_BITS
            )
            df = (
                df.withColumn("_zkey", zkey)
                .repartitionByRange(n_out, *lead, F.col("_zkey"))
                .sortWithinPartitions(*(partition_by or []), "_zkey")
                .drop("_zkey")
            )
        elif partition_by:
            # RANGE-partition on (partition cols, row hash): ranges
            # keep a partition's rows on contiguous tasks (each task
            # writes into at most a couple of hive dirs, so total files
            # stay ~n_out) while the trailing hash splits a HOT
            # partition across as many tasks as its bytes deserve —
            # plain repartition(n_out, *partition_by) would collapse
            # each hive dir onto ONE task and write one arbitrarily
            # large file per partition, ignoring the byte target.
            salt = F.xxhash64(*[F.col(c) for c in df.columns])
            df = df.repartitionByRange(n_out, *lead, salt)
        else:
            # repartition (round-robin shuffle) — not coalesce:
            # coalesce narrows without rebalancing, so one fat input
            # file would keep its skew and produce one fat output file
            df = df.repartition(n_out)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    lock = acquire_compaction_lock(path)
    try:
        replace_dataset(path, fill)
    finally:
        release_compaction_lock(lock)
    stats["files_after"] = sum(1 for _ in parquet_files(path))
    return stats


def fsync_file(path: str) -> None:
    """fsync one file's data to stable storage."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_dir(path: str) -> None:
    """fsync a DIRECTORY: makes a just-renamed entry durable. Rename
    atomicity orders the VISIBLE states; only the directory fsync
    orders them against power loss."""
    fd = os.open(path, os.O_RDONLY | os.O_DIRECTORY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def flush_tree(root: str) -> None:
    """fsync every file and directory under ``root``. A commit point
    written after this cannot become durable ahead of the data it
    commits, so a power loss never rolls truncated files forward."""
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            fsync_file(os.path.join(dirpath, name))
        fsync_dir(dirpath)


def copy_file_durably(src: str, dst: str) -> None:
    """Copy ``src`` to ``dst`` across filesystems: the copy goes to a
    hidden temp name beside ``dst``, is fsynced, then is renamed into
    place with ``os.replace``. A crash mid-copy leaves only the temp
    name, never a partial file at ``dst`` that an exists-check would
    take as done. The caller fsyncs ``dst``'s dir."""
    tmp = os.path.join(
        os.path.dirname(dst), "." + os.path.basename(dst) + "._publish_tmp"
    )
    with open(src, "rb") as fin, open(tmp, "wb") as fout:
        shutil.copyfileobj(fin, fout)
        fout.flush()
        os.fsync(fout.fileno())
    os.replace(tmp, dst)


def atomic_write_file(path: str, content: str) -> None:
    """Create/replace ``path`` with ``content`` atomically AND
    durably: write a sibling temp file, flush + fsync, ``os.replace``,
    fsync the parent dir — a crash leaves either no file or the
    complete file, and once this returns the file survives power
    loss. THE single definition of the commit-file shape (swap-ready
    markers, index manifests, staged-batch commit markers all use
    it)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fsync_dir(os.path.dirname(path) or ".")


# ------------------------------------------------------------ publication
SWAP_TMP = "._compact_tmp"
SWAP_OLD = "._compact_old"
SWAP_READY = "_SWAP_READY"


def _crash_if(point: str | None, here: str) -> None:
    if point == here:
        raise SimulatedCrash(here)


def mark_swap_ready(tmp: str) -> None:
    """Flush ``tmp`` and write its ``_SWAP_READY`` marker, the commit
    point of :func:`replace_dataset`. A no-op on a dir already
    marked."""
    ready = os.path.join(tmp, SWAP_READY)
    if not os.path.exists(ready):
        flush_tree(tmp)
        atomic_write_file(ready, "ready\n")


def replace_dataset(
    path: str, fill, _test_crash_after: str | None = None
) -> None:
    """Replace the dataset dir ``path`` with what ``fill(tmp)`` writes
    into the sibling dir ``tmp``: THE publish step of every in-place
    rewrite (compaction, z-order rewrite, corpus reconciliation, index
    compaction, corpus-prep generation flips). It is the output commit
    of MapReduce — write privately, then make the result visible in
    one step. The caller holds ``path``'s compaction lock.

    1. :func:`recover_swap_crash` settles any earlier crash;
    2. ``fill(tmp)`` writes the new contents (a fill that creates no
       ``tmp`` leaves ``path`` as it is);
    3. every file and dir under ``tmp`` is flushed, then
       ``tmp/_SWAP_READY`` is written: the commit point;
    4. ``path`` is renamed to its ``old`` sibling and ``tmp`` to
       ``path``, and the parent dir is fsynced;
    5. ``old`` is removed.

    Steps 4-5 are what recovery runs for a ready ``tmp``, so a crash
    before the commit point leaves the old contents and a crash after
    it the new ones. ``_test_crash_after`` names a step (``fill``,
    ``ready``, ``old``, ``new``) after which :class:`SimulatedCrash` is
    raised, leaving the state a process kill there would."""
    path = path.rstrip("/")
    tmp = path + SWAP_TMP
    recover_swap_crash(path)
    fill(tmp)
    _crash_if(_test_crash_after, "fill")
    if not os.path.isdir(tmp):
        return
    mark_swap_ready(tmp)
    _crash_if(_test_crash_after, "ready")
    _settle_swap(path, _test_crash_after)


def recover_swap_crash(path: str) -> None:
    """THE crash classification of :func:`replace_dataset`, run first by
    every writer (and recovery-first reader) of a rewritable dataset:

    * ``tmp`` with ``_SWAP_READY`` is committed: rolled forward;
    * ``tmp`` without it is a failed write: dropped;
    * ``old`` beside a live ``path`` is post-swap garbage: dropped;
    * ``old`` with no ``path`` is the pre-swap truth: restored.

    Callers must hold — or have excluded via the advisory lock — any
    concurrent writer of ``path``. A root in the removed versioned
    layout (a ``_CURRENT`` pointer over ``v<N>`` dirs) is refused:
    appending beside ``v<N>`` would leave a dataset nothing can read."""
    path = path.rstrip("/")
    if os.path.exists(os.path.join(path, "_CURRENT")):
        raise ValueError(
            f"{path} is in the removed versioned layout (_CURRENT over "
            "v<N> dirs), which Spark cannot read as one dataset: move "
            f"{path}/v<N>/* up into {path} (N is the number in "
            "_CURRENT), then delete _CURRENT and the older v* dirs"
        )
    _settle_swap(path)


def _settle_swap(path: str, crash_at: str | None = None) -> None:
    tmp, old = path + SWAP_TMP, path + SWAP_OLD
    if os.path.exists(os.path.join(tmp, SWAP_READY)):
        if os.path.exists(path):
            os.rename(path, old)
            _crash_if(crash_at, "old")
        os.rename(tmp, path)
        fsync_dir(os.path.dirname(path) or ".")
        _crash_if(crash_at, "new")
    elif os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


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
    """List ``data_dir``'s committed files once (:func:`parquet_files`),
    flush every file the previous sidecar does not list and every dir
    that gained an entry since, then atomically (re)write the file-list
    sidecar. Files the previous sidecar lists were flushed before it was
    written, and Spark appends under fresh names, so an append or fold
    flushes only what it wrote. Every caller writes its commit point (a
    manifest flip, a delta drop, a staged-dir removal) after this, so
    the commit can never become durable ahead of the Spark-written
    files it commits. Callers hold the dataset's writer lock, so the
    walk races nothing; its cost is paid once per WRITE (build /
    maintenance cadence) instead of once per probe. The schema is
    captured through the same basePath read shape the probes use, so
    partition-column typing is identical by construction."""
    import json as _json

    def up(rel: str) -> str:  # ".." stands for data_dir's parent
        return ".." if rel == "." else os.path.dirname(rel) or "."

    listed = (read_filelist(data_dir) or {}).get("files") or {}
    prev = {rel: set(names) for rel, names in listed.items()}
    # dirs an earlier sidecar made durable: each listed file's dir and
    # every one above it, up to data_dir's entry in its parent
    old_dirs: set[str] = set()
    for rel in prev:
        while rel not in old_dirs:
            old_dirs.add(rel)
            rel = up(rel)
    files: dict[str, list[str]] = {}
    dirs: set[str] = set()
    first: str | None = None
    for f in parquet_files(data_dir):
        root, name = os.path.split(f)
        rel = os.path.relpath(root, data_dir)
        files.setdefault(rel, []).append(name)
        first = first or f
        if name in prev.get(rel, ()):
            continue
        fsync_file(f)
        # the new file's dir, and above it every new dir's parent
        dirs.add(rel)
        while rel not in old_dirs and rel != "..":
            rel = up(rel)
            dirs.add(rel)
    for rel in sorted(dirs):
        fsync_dir(os.path.normpath(os.path.join(data_dir, rel)))
    payload: dict = {"version": 1, "files": files}
    if first is not None:
        payload["schema"] = (
            spark.read.option("basePath", data_dir)
            .parquet(first)
            .schema.json()
        )
    atomic_write_file(
        os.path.join(data_dir, FILELIST_NAME),
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
    object-store server-side copy, or :func:`copy_file_durably` across
    filesystems; idempotent under roll-forward via exists-checks), the
    touched dirs are fsynced, and the batch's
    `_filelist.json` sidecar is written LAST with one atomic
    single-object write: THE commit. Readers treat a sidecar-less
    delta dir as uncommitted and its unlisted files as garbage, so
    visibility is whole batch or none. Runs under the caller's index
    lock."""
    dst_side = os.path.join(target, FILELIST_NAME)
    if os.path.exists(dst_side):
        return  # a sibling/predecessor already committed this batch
    with open(os.path.join(staged_dir, FILELIST_NAME)) as f:
        content = f.read()
    touched: set[str] = set()
    for src in parquet_files(staged_dir):
        rel = os.path.relpath(os.path.dirname(src), staged_dir)
        out_dir = os.path.normpath(os.path.join(target, rel))
        os.makedirs(out_dir, exist_ok=True)
        dst = os.path.join(out_dir, os.path.basename(src))
        if not os.path.exists(dst):
            try:
                os.link(src, dst)
            except OSError:
                copy_file_durably(src, dst)
        touched.add(out_dir)
    for d in sorted(touched):
        fsync_dir(d)
    os.makedirs(target, exist_ok=True)
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
