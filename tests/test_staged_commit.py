"""The staged-commit protocol (``sources.staged_commit``) of daily ingest
and corpus prep, driven without Spark: tiny pyarrow-written parquet
files in hand-built staging dirs, published by each pipeline's own
publish step.

* every crash point of both publishes, injected through
  ``_test_crash_after``, recovers to the state a crash-free publish
  leaves, with no staging dir left over; a crash before the commit
  leaves nothing visible;
* the recovery classes of both protocols: live holder, dead
  uncommitted, committed without a plan, lock patience exhausted;
* every staged data file and staging dir is flushed before
  ``_committed`` is written;
* an ingest batch's commit marker holds the plan's manifest, and a
  cross-device delta copy is flushed before the delta commits.
"""

from __future__ import annotations

import errno
import hashlib
import json
import os
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import irio2024_mapreduce_spark.operators.stored_index as si
from irio2024_mapreduce_spark.plans import corpus_prep as prep_mod
from irio2024_mapreduce_spark.plans import ingest as ingest_mod
from irio2024_mapreduce_spark.sources.sinks import (
    FILELIST_NAME,
    LockPatienceExhausted,
    SimulatedCrash,
    acquire_compaction_lock,
    release_compaction_lock,
    release_flock,
)

INDEX_PARTS = ["hashes", "postings", "stats"]
SIM_PARTS = ["ann_index", "ivf_index"]
INGEST_POINTS = [
    "stage",
    "commit",
    *[f"move:{p}" for p in INDEX_PARTS],
    "move:corpus",
    *[f"move:{p}" for p in SIM_PARTS],
    "marker",
]
PREP_POINTS = ["stage", "commit", "swap:corpus", "swap:packs", "swap:index"]
PRE_COMMIT = {"stage"}
NOTHING = {"rolled_forward": 0, "discarded": 0, "in_flight": 0}
MANIFEST = {"batch_in": 3, "exact_dups": 1, "near_dups": 0, "appended": 2}
# batch (s, 2)'s staging name, which its commit marker shares
_MARKER_NAME = hashlib.md5(b"s").hexdigest()[:10] + "_2"


def _parquet(path: str, **cols) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _ingest_world(root: str) -> str:
    """A live dedup index, corpus and manifest-only ANN/IVF indexes, plus
    batch (s, 2) staged under the index the way ingest stages it: every
    part, Spark's bookkeeping files and the publish plan. Returns the
    staging dir."""
    idx = os.path.join(root, "idx")
    corpus = os.path.join(root, "corpus", "clean_documents.parquet")
    for part in INDEX_PARTS:
        _parquet(os.path.join(idx, part, "part-00000-a.parquet"), k=[1])
    _parquet(os.path.join(corpus, "part-00000-a.parquet"), doc_id=[1])
    staging = os.path.join(idx, "_staged", _MARKER_NAME)
    for part in INDEX_PARTS + ["corpus"]:
        _parquet(os.path.join(staging, part, "part-00000-b.parquet"), k=[2, 3])
        open(os.path.join(staging, part, "_SUCCESS"), "w").close()
    sims = []
    for part in SIM_PARTS:
        kind = part.split("_")[0]
        fam, sim, data = si.family(kind), os.path.join(root, kind), "v1"
        os.makedirs(os.path.join(sim, data))
        si.write_manifest(fam, sim, {
            "version": si.FORMAT_VERSION, **fam.constants(), "rows": 0,
            "data": data, "data_version": 1,
        })
        d = os.path.join(staging, part)
        _parquet(os.path.join(d, "tbl=0", "part-0.parquet"), vec_id=[2, 3])
        with open(os.path.join(d, FILELIST_NAME), "w") as f:
            files = {"tbl=0": ["part-0.parquet"]}
            json.dump({"version": 1, "files": files}, f)
        sims.append({
            "kind": kind, "root": sim, "staged": part, "data": data,
            "delta": "b=s.2", "rows": 2,
        })
    with open(os.path.join(staging, "_publish_plan.json"), "w") as f:
        json.dump({
            "stream": "s", "batch_id": 2, "manifest": MANIFEST,
            "index_parts": INDEX_PARTS, "corpus_root": corpus,
            "similarity_indexes": sims,
        }, f)
    return staging


def _marker(staging: str) -> dict | None:
    """The commit marker of batch (s, 2) parsed, or None when absent."""
    path = os.path.join(_root(staging), "_commit_markers", _MARKER_NAME)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _prep_world(root: str) -> str:
    """Generation a of the corpus, packs and seeded index, live, and
    generation b staged under the out dir. Returns the staging dir."""
    out = os.path.join(root, "out")
    staging = os.path.join(out, "_staged", "prep_0123456789abcdef")
    for name, target in _prep_targets(staging):
        _parquet(os.path.join(target, "part-00000-a.parquet"), gen=["a"])
        staged = os.path.join(staging, name, "part-00000-b.parquet")
        _parquet(staged, gen=["b"])
    return staging


def _prep_targets(staging: str) -> list[tuple[str, str]]:
    out = os.path.dirname(os.path.dirname(staging))
    return [
        ("corpus", os.path.join(out, "clean_documents.parquet")),
        ("packs", os.path.join(out, "packs.parquet")),
        ("index", os.path.join(os.path.dirname(out), "idx")),
    ]


def _prep_publish(staging: str, point: str | None = None) -> None:
    (_, clean), (_, packs), (_, idx) = _prep_targets(staging)
    prep_mod._commit_and_publish(staging, clean, packs, idx, point)


def _root(staging: str) -> str:
    return os.path.dirname(os.path.dirname(staging))


PROTOCOLS = {
    "ingest": {
        "world": _ingest_world,
        "publish": lambda st, point=None: ingest_mod._publish_staged(
            st, _test_crash_after=point
        ),
        "recover": lambda st, strict=False: ingest_mod.recover_staged_batches(
            _root(st), strict=strict
        ),
        "roll": lambda st, plan: ingest_mod._roll_forward(st, plan),
        "fresh": "nokey_00112233deadbeef",
    },
    "prep": {
        "world": _prep_world,
        "publish": _prep_publish,
        "recover": lambda st, strict=False: _staged_commit().recover(
            _root(st), prep_mod._publish_prepared, prefix="prep_",
            strict=strict,
        ),
        "roll": prep_mod._publish_prepared,
        "fresh": "prep_00112233deadbeef",
    },
}


def _staged_commit():
    from irio2024_mapreduce_spark.sources import staged_commit

    return staged_commit


def _visible(root: str) -> dict[str, str]:
    """Every file under ``root`` outside the staging area, with a digest
    of its bytes. Lock files are addresses, not state, and are left
    out."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "_staged"]
        for name in files:
            if name.endswith(".lock"):
                continue
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                digest = hashlib.md5(f.read()).hexdigest()
            out[os.path.relpath(p, root)] = digest
    return out


def _staging_dirs(staging: str) -> list[str]:
    base = os.path.dirname(staging)
    return [
        n for n in os.listdir(base) if os.path.isdir(os.path.join(base, n))
    ]


def _crash_cases():
    for proto, points in (("ingest", INGEST_POINTS), ("prep", PREP_POINTS)):
        for point in points:
            yield pytest.param(proto, point, id=f"{proto}-{point}")


@pytest.mark.parametrize("proto,point", list(_crash_cases()))
def test_crash_point_recovers_to_the_crash_free_publish(
    tmp_path, proto, point
):
    p = PROTOCOLS[proto]
    ref = p["world"](str(tmp_path / "ref"))
    before = _visible(str(tmp_path / "ref"))
    p["publish"](ref)
    want = _visible(str(tmp_path / "ref"))
    assert want != before and _staging_dirs(ref) == []

    world = str(tmp_path / "crash")
    staging = p["world"](world)
    with pytest.raises(SimulatedCrash):
        p["publish"](staging, point)
    pre_commit = point in PRE_COMMIT
    if pre_commit:
        assert _visible(world) == before
    assert p["recover"](staging) == {
        **NOTHING,
        "discarded": int(pre_commit),
        "rolled_forward": int(not pre_commit),
    }
    assert _visible(world) == (before if pre_commit else want)
    assert _staging_dirs(staging) == []
    assert p["recover"](staging) == NOTHING
    if proto == "ingest":
        assert _marker(ref) == MANIFEST
        assert _marker(staging) == (None if pre_commit else MANIFEST)


@pytest.mark.parametrize("proto", ["ingest", "prep"])
def test_live_holder_is_in_flight(tmp_path, proto):
    p, sc = PROTOCOLS[proto], _staged_commit()
    root = str(tmp_path)
    staging, alive = sc.open_staging(root, p["fresh"], p["roll"])
    try:
        assert p["recover"](staging) == {**NOTHING, "in_flight": 1}
        assert os.path.isdir(staging)
    finally:
        sc.release(staging, alive)
    assert not os.path.exists(sc.alive_lock(staging))


@pytest.mark.parametrize("proto", ["ingest", "prep"])
def test_dead_uncommitted_is_discarded_with_its_lock_file(tmp_path, proto):
    p, sc = PROTOCOLS[proto], _staged_commit()
    staging, alive = sc.open_staging(str(tmp_path), p["fresh"], p["roll"])
    release_flock(alive)  # the holder dies: the kernel drops its flock
    assert p["recover"](staging) == {**NOTHING, "discarded": 1}
    assert not os.path.exists(staging)
    assert not os.path.exists(sc.alive_lock(staging))
    # a lock file left without its dir is removed by the next scan
    open(sc.alive_lock(staging), "w").close()
    assert p["recover"](staging) == NOTHING
    assert not os.path.exists(sc.alive_lock(staging))


@pytest.mark.parametrize("proto", ["ingest", "prep"])
def test_committed_without_plan_is_removed(tmp_path, proto):
    p = PROTOCOLS[proto]
    staging = os.path.join(str(tmp_path), "_staged", p["fresh"])
    os.makedirs(staging)
    with open(os.path.join(staging, "_committed"), "w") as f:
        f.write("committed\n")
    p["recover"](staging)
    assert not os.path.exists(staging)
    assert p["recover"](staging) == NOTHING


@pytest.mark.parametrize("proto", ["ingest", "prep"])
def test_lock_patience_exhausted_is_in_flight_unless_strict(
    tmp_path, monkeypatch, proto
):
    p, sc = PROTOCOLS[proto], _staged_commit()
    staging = p["world"](str(tmp_path))
    with pytest.raises(SimulatedCrash):
        p["publish"](staging, "commit")
    real = sc.acquire_patiently
    monkeypatch.setattr(
        sc, "acquire_patiently", lambda path: real(path, 2, 0.01)
    )
    lock = acquire_compaction_lock(_root(staging))  # the first publish lock
    try:
        assert p["recover"](staging) == {**NOTHING, "in_flight": 1}
        with pytest.raises(LockPatienceExhausted):
            p["recover"](staging, strict=True)
    finally:
        release_compaction_lock(lock)
    assert p["recover"](staging) == {**NOTHING, "rolled_forward": 1}
    assert _staging_dirs(staging) == []


@pytest.mark.parametrize("proto", ["ingest", "prep"])
def test_staged_data_is_flushed_before_the_commit(
    tmp_path, monkeypatch, proto
):
    """Every staged parquet file (the similarity-index parts included)
    and every staging dir is fsynced before ``_committed`` is written,
    so a power loss after the commit cannot roll truncated files
    forward."""
    p = PROTOCOLS[proto]
    staging = os.path.realpath(p["world"](str(tmp_path)))
    files, dirs = set(), set()
    for dirpath, _dirs, names in os.walk(staging):
        dirs.add(dirpath)
        files.update(
            os.path.join(dirpath, n) for n in names if n.endswith(".parquet")
        )
    if proto == "ingest":
        assert any("ann_index" in f for f in files)
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(os.readlink(f"/proc/self/fd/{fd}"))
        return real_fsync(fd)

    def replace(src, dst, *a, **kw):
        events.append(("replace", os.path.realpath(dst)))
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    p["publish"](staging)
    monkeypatch.undo()
    commit_at = events.index(
        ("replace", os.path.join(staging, "_committed"))
    )
    flushed = set(events[:commit_at])
    assert sorted(files - flushed) == []
    assert sorted(dirs - flushed) == []


def test_cross_device_delta_copy_is_flushed_before_the_delta_commits(
    tmp_path, monkeypatch
):
    """When ``os.link`` fails (a similarity index on another filesystem
    than the staging), every delta file is copied to a temp name,
    fsynced and renamed into place before the delta's ``_filelist.json``
    sidecar, its commit, is replaced in."""
    staging = os.path.realpath(_ingest_world(str(tmp_path)))
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def link(src, dst, *a, **kw):
        raise OSError(errno.EXDEV, "Invalid cross-device link", dst)

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst, *a, **kw):
        events.append(
            ("replace", os.path.realpath(src), os.path.realpath(dst))
        )
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", link)
    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    ingest_mod._publish_staged(staging)
    monkeypatch.undo()
    for kind in ("ann", "ivf"):
        delta = os.path.join(
            os.path.dirname(_root(staging)), kind, "v1.deltas", "b=s.2"
        )
        copied = os.path.join(delta, "tbl=0", "part-0.parquet")
        commit = events.index(
            ("replace", mock.ANY, os.path.join(delta, FILELIST_NAME))
        )
        # the file reached its name by a replace of a fsynced temp file
        placed = events.index(("replace", mock.ANY, copied))
        assert placed < commit
        assert ("fsync", events[placed][1]) in events[:placed]
