"""``sinks.replace_dataset``, the one publish step of every in-place
dataset rewrite, driven without Spark: pyarrow-written parquet files,
with a pyarrow write as the fill.

* every crash point ends, after ``recover_swap_crash``, with the new
  contents if it came at the commit point (``ready``) or later and the
  old contents before it; no swap leftover remains, and a second
  recovery changes nothing;
* the corpus-prep shape: a marked staged dir moved in as the fill rolls
  forward from every crash point;
* every file and dir under the temp dir is flushed before
  ``_SWAP_READY`` is written, and that is written before the first
  rename;
* a root in the removed versioned layout is refused before anything is
  read or written.
"""

from __future__ import annotations

import functools
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from irio2024_mapreduce_spark.sources import sinks

POINTS = ["fill", "ready", "old", "new"]
COMMITTED = {"ready", "old", "new"}


def _write(d: str, gen: str) -> None:
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"gen": [gen, gen]}), os.path.join(d, f"part-{gen}.parquet")
    )


def _gen(path: str) -> str:
    (gen,) = set(pq.read_table(path).column("gen").to_pylist())
    return gen


def _dataset(tmp_path) -> str:
    path = str(tmp_path / "ds")
    _write(path, "old")
    return path


def _tree(root) -> dict[str, str]:
    """Every file under ``root`` with a digest of its bytes."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                digest = hashlib.md5(f.read()).hexdigest()
            out[os.path.relpath(p, root)] = digest
    return out


def _leftovers(root) -> list[str]:
    return sorted(n for n in os.listdir(root) if "._compact_" in n)


def _recovers_to(tmp_path, path: str, want: str) -> None:
    sinks.recover_swap_crash(path)
    assert _gen(path) == want
    assert _leftovers(tmp_path) == []
    settled = _tree(tmp_path)
    sinks.recover_swap_crash(path)
    assert _tree(tmp_path) == settled


def test_crash_free_replace_publishes_the_fill(tmp_path):
    path = _dataset(tmp_path)
    sinks.replace_dataset(path, lambda tmp: _write(tmp, "new"))
    assert _gen(path) == "new"
    assert _leftovers(tmp_path) == []
    # a dataset that does not exist yet is published the same way
    fresh = str(tmp_path / "fresh")
    sinks.replace_dataset(fresh, lambda tmp: _write(tmp, "new"))
    assert _gen(fresh) == "new"
    assert _leftovers(tmp_path) == []


def test_a_fill_that_writes_nothing_keeps_the_dataset(tmp_path):
    path = _dataset(tmp_path)
    before = _tree(tmp_path)
    sinks.replace_dataset(path, lambda tmp: None)
    assert _tree(tmp_path) == before


@pytest.mark.parametrize("point", POINTS)
def test_crash_point_recovers_to_old_or_new(tmp_path, point):
    path = _dataset(tmp_path)
    with pytest.raises(sinks.SimulatedCrash):
        sinks.replace_dataset(
            path, lambda tmp: _write(tmp, "new"), _test_crash_after=point
        )
    _recovers_to(tmp_path, path, "new" if point in COMMITTED else "old")


@pytest.mark.parametrize("point", POINTS)
def test_prep_shape_rolls_a_moved_staged_part_forward(tmp_path, point):
    """Corpus prep's fill moves an already-committed staged part in. It
    is marked ready before it moves, so even a crash right after the
    fill ends with the new contents, and re-running the publish (the
    staged commit's roll forward) finds nothing left to move."""
    from irio2024_mapreduce_spark.plans.corpus_prep import _move_in

    path = _dataset(tmp_path)
    src = str(tmp_path / "_staged" / "prep_0" / "corpus")
    _write(src, "new")
    fill = functools.partial(_move_in, src)
    with pytest.raises(sinks.SimulatedCrash):
        sinks.replace_dataset(path, fill, _test_crash_after=point)
    assert not os.path.exists(src)
    _recovers_to(tmp_path, path, "new")
    sinks.replace_dataset(path, fill)
    assert _gen(path) == "new"
    assert _leftovers(tmp_path) == []


def test_prep_shape_marked_but_unmoved_part_is_moved_on_roll_forward(
    tmp_path,
):
    from irio2024_mapreduce_spark.plans.corpus_prep import _move_in

    path = _dataset(tmp_path)
    src = str(tmp_path / "_staged" / "prep_0" / "corpus")
    _write(src, "new")
    sinks.mark_swap_ready(src)  # a kill between the mark and the move
    _recovers_to(tmp_path, path, "old")
    sinks.replace_dataset(path, functools.partial(_move_in, src))
    assert _gen(path) == "new"
    assert _leftovers(tmp_path) == []


def test_tmp_is_flushed_before_ready_and_ready_before_the_swap(
    tmp_path, monkeypatch
):
    """A rename of unflushed data over the only copy can leave truncated
    files after a power loss: every file and dir the fill wrote is
    fsynced before ``_SWAP_READY``, which is written before the first
    rename."""
    path = os.path.realpath(_dataset(tmp_path))
    tmp = path + sinks.SWAP_TMP
    written: set[str] = set()

    def fill(t: str) -> None:
        _write(t, "new")
        _write(os.path.join(t, "k=1"), "new")
        for dirpath, _dirs, files in os.walk(t):
            written.add(dirpath)
            written.update(os.path.join(dirpath, n) for n in files)

    events = []
    real_fsync, real_replace, real_rename = os.fsync, os.replace, os.rename

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst, *a, **kw):
        events.append(("replace", os.path.realpath(dst)))
        return real_replace(src, dst, *a, **kw)

    def rename(src, dst, *a, **kw):
        events.append(("rename", os.path.realpath(src)))
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(os, "rename", rename)
    sinks.replace_dataset(path, fill)
    monkeypatch.undo()
    assert written
    ready_at = events.index(
        ("replace", os.path.join(tmp, sinks.SWAP_READY))
    )
    flushed = {p for kind, p in events[:ready_at] if kind == "fsync"}
    assert sorted(written - flushed) == []
    first_rename = next(
        i for i, (kind, _p) in enumerate(events) if kind == "rename"
    )
    assert ready_at < first_rename


def _versioned_root(tmp_path) -> str:
    root = str(tmp_path / "versioned")
    _write(os.path.join(root, "v1"), "old")
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write("1")
    return root


def test_versioned_root_is_refused_with_the_fix(tmp_path):
    root = _versioned_root(tmp_path)
    before = _tree(tmp_path)
    with pytest.raises(ValueError, match="move .*v<N>/\\* up") as e:
        sinks.recover_swap_crash(root)
    assert "delete _CURRENT" in str(e.value)
    with pytest.raises(ValueError, match="versioned layout"):
        sinks.replace_dataset(root, lambda tmp: _write(tmp, "new"))
    assert _tree(tmp_path) == before


def test_compact_parquet_refuses_a_versioned_root_before_spark(tmp_path):
    """``spark=None``: the refusal must come before any Spark call."""
    root = _versioned_root(tmp_path)
    with pytest.raises(ValueError, match="versioned layout"):
        sinks.compact_parquet(None, root)
    assert sorted(os.listdir(root)) == ["_CURRENT", "v1"]
