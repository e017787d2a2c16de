"""The staged-commit protocol: how daily ingest (``plans.ingest``) and
corpus preparation (``plans.corpus_prep``) make a multi-part write
visible all at once on a plain filesystem, and how a later caller
finishes or discards the write of a process that died part-way. It is
the output-commit shape of MapReduce (stage privately, one atomic
commit, then roll forward); each pipeline supplies only its own
publish step.

Layout. A writer stages every part in a private dir
``{root}/_staged/{name}/``. Its liveness lock is the sibling file
``{root}/_staged/{name}._alive.lock``, a kernel flock held for the
writer's whole life (the kernel releases it when the process dies).
The lock is taken *before* the dir is created, so a recovery scan never
finds a fresh dir whose owner has not locked it yet. It lives outside
the dir so that it outlives the dir and the name keeps one address.

Plan. Once every part is on disk the writer writes
``_publish_plan.json``: where each staged part goes. Publishing needs
only the plan and the staged files, so any process can finish it.

Commit. :func:`commit` flushes the whole staged tree, every file's data
and every directory's entries, and only then writes ``_committed`` with
one atomic, durable file write. That file is the commit point. Because
the flush comes first, a power loss after the commit can never roll
forward truncated files.

Publish. After the commit the parts move into place in steps that are
each idempotent, so a crash at any step resumes on the next roll
forward. The staging dir is removed last.

Recovery. :func:`recover` classifies every staging dir under a root:

* ``_committed`` present: committed, rolled forward with the pipeline's
  publish. A committed dir without its plan was being removed after its
  publication finished, and is removed;
* uncommitted, lock held by a live process: in flight, left alone;
* uncommitted, holder dead: the lock is acquired, the state checked
  again under it, and the dir discarded. Nothing is published before
  the commit, so the write never happened.

A lock file whose dir is gone is removed once its name can never be
staged again, by acquiring it and unlinking it while held (a bare
unlink could erase a lock a racer has just taken). A roll forward that
cannot get its locks in time (``LockPatienceExhausted``) counts as in
flight, or is raised under ``strict``.

Fault injection: ``_test_crash_after`` names a step, and
:func:`_crash_if` raises ``SimulatedCrash`` right after it, leaving the
on-disk state a process kill there would leave. The shared steps are
``stage`` (plan written, not committed) and ``commit``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from irio2024_mapreduce_spark.sources import sinks

STAGED_ROOT = "_staged"
COMMITTED = "_committed"
PUBLISH_PLAN = "_publish_plan.json"
_ALIVE = "._alive.lock"


def _crash_if(point: str | None, here: str) -> None:
    if point == here:
        raise sinks.SimulatedCrash(here)


def acquire_patiently(
    path: str, attempts: int = 40, wait: float = 0.25
) -> str:
    """The publish-lock acquire, about 10 s of patience. Publish steps
    hold their locks for milliseconds, so brief contention waits and a
    real compaction still fails loudly. Callers look it up here at call
    time, so tests can shrink the patience."""
    return sinks.acquire_compaction_lock_patiently(path, attempts, wait)


def alive_lock(staging: str) -> str:
    return staging + _ALIVE


def is_committed(staging: str) -> bool:
    return os.path.exists(os.path.join(staging, COMMITTED))


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def open_staging(
    root: str, name: str, publish, already_committed=FileExistsError
) -> tuple[str, str]:
    """Create the staging dir ``{root}/_staged/{name}`` and return
    ``(staging, held alive lock)``. A live holder of the name raises. A
    committed leftover under the name is rolled forward with
    ``publish`` and ``already_committed`` is raised: publishing a
    second copy would duplicate it. Any other leftover is discarded."""
    base = os.path.join(root, STAGED_ROOT)
    os.makedirs(base, exist_ok=True)
    staging = os.path.join(base, name)
    try:
        alive = sinks.acquire_flock(
            alive_lock(staging), purpose="being staged"
        )
    except RuntimeError:
        raise RuntimeError(
            f"{staging} is being staged by a live process: two writers "
            "of the same staged name are running concurrently"
        ) from None
    try:
        if is_committed(staging):
            roll_forward(staging, publish)
            raise already_committed(staging)
        # a sibling's post-publication removal of this dir may still be
        # running: retry the mkdir while it drains, then drop a file at
        # once so its final rmdir fails instead of taking our empty dir
        shutil.rmtree(staging, ignore_errors=True)
        for _ in range(40):
            try:
                os.makedirs(staging)
                break
            except FileExistsError:
                time.sleep(0.05)
                shutil.rmtree(staging, ignore_errors=True)
        else:
            raise RuntimeError(
                f"{staging}: could not obtain a clean staging dir "
                "(a sibling deleter kept the path occupied)"
            )
        sinks.atomic_write_file(
            os.path.join(staging, "_owner"), f"{os.getpid()}\n"
        )
    except BaseException:
        sinks.release_flock(alive)
        raise
    return staging, alive


def write_plan(staging: str, plan: dict) -> None:
    sinks.atomic_write_file(
        os.path.join(staging, PUBLISH_PLAN), json.dumps(plan, indent=1)
    )


def read_plan(staging: str) -> dict | None:
    try:
        with open(os.path.join(staging, PUBLISH_PLAN)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def commit(staging: str, crash_at: str | None = None) -> None:
    """Flush every staged file and directory, then write the commit
    point."""
    _crash_if(crash_at, "stage")
    for dirpath, _dirs, files in os.walk(staging):
        for name in files:
            fd = os.open(os.path.join(dirpath, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        sinks.fsync_dir(dirpath)
    sinks.atomic_write_file(os.path.join(staging, COMMITTED), "committed\n")
    _crash_if(crash_at, "commit")


def roll_forward(staging: str, publish) -> None:
    """Finish a committed staging: ``publish(staging, plan=plan)``."""
    plan = read_plan(staging)
    if plan is None:
        shutil.rmtree(staging, ignore_errors=True)
    else:
        publish(staging, plan=plan)


def release(staging: str, alive: str, reusable: bool = False) -> None:
    """The owner's release of its alive lock. The lock file of a name
    that is never staged again is unlinked while still held."""
    if not reusable:
        _unlink(alive_lock(staging))
    sinks.release_flock(alive)


def _roll(staging: str, publish, strict: bool) -> str:
    try:
        roll_forward(staging, publish)
    except sinks.LockPatienceExhausted:
        if strict:
            raise
        return "in_flight"
    return "rolled_forward"


def recover(
    root: str,
    publish,
    prefix: str = "",
    reusable=lambda name: False,
    strict: bool = False,
) -> dict[str, int]:
    """Classify every staging dir under ``{root}/_staged`` whose name
    starts with ``prefix`` (see the module docstring). ``reusable(name)``
    says whether a name may be staged again, which keeps its lock file.
    Returns ``{rolled_forward, discarded, in_flight}``."""
    out = {"rolled_forward": 0, "discarded": 0, "in_flight": 0}
    base = os.path.join(root, STAGED_ROOT)
    if not os.path.isdir(base):
        return out
    for name in sorted(n for n in os.listdir(base) if n.startswith(prefix)):
        d = os.path.join(base, name)
        if not os.path.isdir(d):
            stem = name[: -len(_ALIVE)]
            if name.endswith(_ALIVE) and not reusable(stem):
                _gc_lock(d, os.path.join(base, stem))
            continue
        if is_committed(d):
            out[_roll(d, publish, strict)] += 1
            continue
        try:
            held = sinks.acquire_flock(alive_lock(d), purpose="recovered")
        except RuntimeError:
            out["in_flight"] += 1
            continue
        try:
            if is_committed(d):
                out[_roll(d, publish, strict)] += 1
            elif os.path.isdir(d):
                # a sibling's post-publication removal may race this one
                shutil.rmtree(d, ignore_errors=True)
                out["discarded"] += 1
                if not reusable(name):
                    _unlink(alive_lock(d))
        finally:
            sinks.release_flock(held)
    return out


def _gc_lock(lock: str, staging: str) -> None:
    try:
        held = sinks.acquire_flock(lock, purpose="GC'd")
    except (RuntimeError, FileNotFoundError):
        return
    try:
        if not os.path.isdir(staging):
            _unlink(lock)
    finally:
        sinks.release_flock(held)
