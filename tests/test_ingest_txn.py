"""Transactional ingest commit (r9 verdict item 1): kill-at-every-step
fault injection over ingest_batch's publish protocol. The contract —
either the WHOLE batch is visible (index + corpus + stats + manifest)
or NONE of it is; redelivery produces exactly-once corpus contents and
one manifest row; a maintenance collision aborts losslessly in both
directions (the old multi-append design's self-conviction loss is
structurally gone)."""

from __future__ import annotations

import os

import pytest

from irio2024_mapreduce_spark.plans import ingest as ingest_mod
from irio2024_mapreduce_spark.plans.ingest import (
    SimulatedCrash,
    build_corpus_index,
    compact_corpus_index,
    ingest_batch,
    read_recorded_manifest,
    recover_staged_batches,
)
from irio2024_mapreduce_spark.sources import staged_commit
from irio2024_mapreduce_spark.sources.sinks import (
    acquire_compaction_lock,
    release_compaction_lock,
)

T_CORPUS = [
    (100, "the ancient library kept thousands of scrolls catalogued "
          "by patient scribes over centuries"),
    (101, "the fishing village woke before dawn as boats slipped "
          "quietly into the grey harbor water"),
]
T_BATCH = [
    (200, "the mountain trail crossed seven wooden bridges before "
          "reaching the snowy summit ridge"),
    (201, "the ancient library kept thousands of scrolls catalogued "
          "by patient scribes over centuries"),  # exact dup of 100
    (202, "the night train rattled past sleeping towns carrying mail "
          "and quiet travellers north"),
]

CRASH_POINTS = [
    "stage",  # everything staged + plan written, nothing committed
    "commit",  # _committed created, nothing moved yet
    "move:hashes",
    "move:postings",
    "move:stats",
    "move:manifests",
    "move:corpus",
    "marker",  # everything moved + marker touched, staging not GC'd
]


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t or "")) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


def _setup(spark, root):
    """Fresh index + corpus seeded by one committed batch, so the
    crash-tested batch appends to LIVE prior state."""
    idx, out = str(root / "idx"), str(root / "corpus")
    build_corpus_index(spark, _frame(spark, T_CORPUS), idx)
    m0 = ingest_batch(
        spark,
        _frame(spark, [(150, "a seed document that passes the funnel "
                             "with plain words and enough of them to "
                             "count as a real page of text")]),
        idx, out, batch_id=1, stream="s",
    )
    assert m0["appended"] == 1
    return idx, out


def _corpus_ids(spark, out):
    path = os.path.join(out, "clean_documents.parquet")
    if not os.path.exists(path):
        return []
    return sorted(
        r["doc_id"]
        for r in spark.read.parquet(path).select("doc_id").collect()
    )


def _hashes(spark, idx):
    return spark.read.parquet(os.path.join(idx, "hashes")).count()


def _manifest_rows_for(spark, idx, batch_id, stream):
    import pyspark.sql.functions as F

    return (
        spark.read.parquet(os.path.join(idx, "manifests"))
        .filter(
            (F.col("batch_id") == batch_id) & (F.col("stream") == stream)
        )
        .count()
    )


@pytest.mark.slow
def test_kill_at_every_step(spark, tmp_path):
    # reference run with no crash: the state every crashed-and-
    # recovered run must converge to
    idx_ref, out_ref = _setup(spark, tmp_path / "ref")
    expected = ingest_batch(
        spark, _frame(spark, T_BATCH), idx_ref, out_ref,
        batch_id=2, stream="s",
    )
    assert expected["appended"] == 2 and expected["exact_dups"] == 1
    ref_hashes = _hashes(spark, idx_ref)
    ref_ids = _corpus_ids(spark, out_ref)

    for pt in CRASH_POINTS:
        root = tmp_path / pt.replace(":", "_")
        idx, out = _setup(spark, root)
        base_hashes = _hashes(spark, idx)
        base_ids = _corpus_ids(spark, out)

        with pytest.raises(SimulatedCrash):
            ingest_batch(
                spark, _frame(spark, T_BATCH), idx, out,
                batch_id=2, stream="s", _test_crash_after=pt,
            )

        if pt == "stage":
            # pre-commit: NOTHING of the batch is visible anywhere
            assert _hashes(spark, idx) == base_hashes
            assert _corpus_ids(spark, out) == base_ids
            assert (
                read_recorded_manifest(spark, idx, 2, stream="s") is None
            )
        else:
            # post-commit: recovery alone (no redelivery) must roll
            # the batch forward to FULL visibility
            recover_staged_batches(idx)
            assert _hashes(spark, idx) == ref_hashes
            assert _corpus_ids(spark, out) == ref_ids
            assert (
                read_recorded_manifest(spark, idx, 2, stream="s")
                == expected
            )

        # redelivery of the same (stream, batch_id): exactly-once
        m = ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=2, stream="s",
        )
        assert m == expected
        ids = _corpus_ids(spark, out)
        assert ids == ref_ids and len(ids) == len(set(ids))
        assert _hashes(spark, idx) == ref_hashes
        assert _manifest_rows_for(spark, idx, 2, "s") == 1
        staged = os.path.join(idx, "_staged")
        # liveness lock FILES persist by design (an unlinked lock
        # becomes invisible to checkers); only DIRS are staged state
        leftovers = [
            d
            for d in (os.listdir(staged) if os.path.isdir(staged) else [])
            if os.path.isdir(os.path.join(staged, d))
        ]
        assert not leftovers


def test_next_batch_rolls_crashed_predecessor_forward(spark, tmp_path):
    """A committed-but-unpublished batch becomes fully visible when
    the NEXT batch touches the index — no manual reconciliation."""
    idx, out = _setup(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=2, stream="s", _test_crash_after="commit",
        )
    m3 = ingest_batch(
        spark,
        _frame(spark, [(300, "fresh prose about a long walk through "
                             "quiet fields at the end of the summer "
                             "with plenty of ordinary words in it")]),
        idx, out, batch_id=3, stream="s",
    )
    assert m3["appended"] == 1
    assert sorted(_corpus_ids(spark, out)) == [150, 200, 202, 300]
    assert read_recorded_manifest(spark, idx, 2, stream="s") is not None
    # and batch 2's index hashes protect batch 4 from its duplicates
    m4 = ingest_batch(
        spark, _frame(spark, [T_BATCH[0]]), idx, out,
        batch_id=4, stream="s",
    )
    assert m4["exact_dups"] == 1 and m4["appended"] == 0


@pytest.mark.slow
def test_maintenance_collision_is_lossless_both_directions(
    spark, tmp_path, monkeypatch
):
    """A compaction running at PUBLISH time (discovered only after the
    batch's compute — the old design's 'loud but lossy' window) now
    aborts pre-commit: nothing published, and the redelivery admits
    every doc normally."""
    idx, out = _setup(spark, tmp_path)
    base_hashes = _hashes(spark, idx)
    base_ids = _corpus_ids(spark, out)

    # disable the early fast-fail so the collision is discovered at
    # publish time, and shrink the publish patience for test speed
    monkeypatch.setattr(ingest_mod, "check_not_compacting", lambda p: None)
    orig = staged_commit.acquire_patiently
    monkeypatch.setattr(
        staged_commit,
        "acquire_patiently",
        lambda path: orig(path, attempts=3, wait=0.05),
    )

    clean = os.path.join(out, "clean_documents.parquet")
    lock = acquire_compaction_lock(clean)
    try:
        with pytest.raises(RuntimeError):
            ingest_batch(
                spark, _frame(spark, T_BATCH), idx, out,
                batch_id=2, stream="s",
            )
    finally:
        release_compaction_lock(lock)

    # direction 1: the collision published NOTHING (old design left
    # index rows that convicted the redelivery)
    assert _hashes(spark, idx) == base_hashes
    assert _corpus_ids(spark, out) == base_ids
    assert read_recorded_manifest(spark, idx, 2, stream="s") is None

    # direction 2: the redelivery admits the docs normally — lossless
    m = ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out, batch_id=2, stream="s"
    )
    assert m["appended"] == 2
    assert sorted(_corpus_ids(spark, out)) == [150, 200, 202]


@pytest.mark.slow
def test_publish_recovers_crashed_corpus_swap_first(spark, tmp_path):
    """ADVICE r9 (high): a corpus compaction that crashed between its
    two renames leaves the full corpus under ._compact_old with the
    live dir missing. The publish step must RESTORE it before moving
    the batch in — not create a fresh near-empty live dir that the
    next maintenance run would classify as truth (rmtree'ing the
    whole pre-crash corpus)."""
    idx, out = _setup(spark, tmp_path)
    clean = os.path.join(out, "clean_documents.parquet")
    os.rename(clean, clean + "._compact_old")  # crashed-swap signature

    m = ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out, batch_id=2, stream="s"
    )
    assert m["appended"] == 2
    # the pre-crash corpus (doc 150) survived alongside the new docs
    assert sorted(_corpus_ids(spark, out)) == [150, 200, 202]
    assert not os.path.exists(clean + "._compact_old")


@pytest.mark.slow
def test_committed_staging_without_plan_is_garbage_collected(
    spark, tmp_path
):
    """A crash mid-final-rmtree can delete the publish plan before the
    _committed marker (rmtree deletion order is arbitrary). The plan
    is written before the marker and read before every move, so
    committed-without-plan can only mean cleanup was underway —
    recovery must finish the GC, not loop on it forever."""
    idx, _ = _setup(spark, tmp_path)
    zombie = os.path.join(idx, "_staged", "deadbeef00_9")
    os.makedirs(zombie)
    with open(os.path.join(zombie, "_committed"), "w") as f:
        f.write("committed\n")
    out = recover_staged_batches(idx)
    assert not os.path.isdir(zombie)
    # a second pass finds nothing left to do
    out2 = recover_staged_batches(idx)
    assert out2 == {"rolled_forward": 0, "discarded": 0, "in_flight": 0}
    assert out["rolled_forward"] + out["discarded"] >= 1


@pytest.mark.slow
def test_unkeyed_ingest_leaves_no_lock_litter(spark, tmp_path):
    """Unkeyed (uuid-named) staging must not leak one lock file per
    batch forever — the address is never re-acquired."""
    idx, out = _setup(spark, tmp_path)
    m = ingest_batch(spark, _frame(spark, T_BATCH), idx, out)
    assert m["appended"] == 2
    staged = os.path.join(idx, "_staged")
    litter = [
        n for n in os.listdir(staged) if n.startswith("nokey_")
    ] if os.path.isdir(staged) else []
    assert litter == []


@pytest.mark.slow
def test_keyed_committed_lock_litter_is_gcd(spark, tmp_path):
    """ADVICE r10 (low): keyed staging lock files whose (stream,
    batch_id) committed are never re-acquired (the manifest replay
    short-circuits first), so recovery GCs them — a long-running
    stream must not leave one lock file per batch forever. An
    UNCOMMITTED keyed lock address may still be reused by a
    redelivery and must survive the GC."""
    idx, out = _setup(spark, tmp_path)
    ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out, batch_id=7, stream="s"
    )
    staged = os.path.join(idx, "_staged")
    keyed = [n for n in os.listdir(staged) if n.endswith("._alive.lock")]
    assert keyed  # the committed batch's lock file is still there

    # an uncommitted keyed address (crashed pre-commit, marker absent)
    uncommitted = os.path.join(staged, "feedface00_3._alive.lock")
    with open(uncommitted, "w") as f:
        f.write("")

    recover_staged_batches(idx)
    left = [n for n in os.listdir(staged) if n.endswith("._alive.lock")]
    assert left == ["feedface00_3._alive.lock"]


@pytest.mark.slow
def test_recovery_tolerates_patience_exhausted_publish(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 (low): a committed staging whose publish cannot take
    the index/corpus lock right now (live owner mid-publish, long
    compaction) must be counted in_flight by recovery — it rolls
    forward on the next touch — not abort the unrelated caller."""
    from irio2024_mapreduce_spark.sources.sinks import (
        acquire_compaction_lock_patiently,
    )

    idx, out = _setup(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=8, stream="s", _test_crash_after="commit",
        )
    monkeypatch.setattr(
        staged_commit,
        "acquire_patiently",
        lambda path: acquire_compaction_lock_patiently(path, 2, 0.05),
    )
    lock = acquire_compaction_lock(idx)
    try:
        res = recover_staged_batches(idx)  # must not raise
        assert res["in_flight"] >= 1 and res["rolled_forward"] == 0
    finally:
        release_compaction_lock(lock)
    res2 = recover_staged_batches(idx)
    assert res2["rolled_forward"] == 1
    assert read_recorded_manifest(spark, idx, 8, stream="s") is not None


def test_move_file_non_exdev_oserror_surfaces(tmp_path):
    """ADVICE r10 (low): only EXDEV routes into the copy fallback; any
    other rename failure is a genuine publish error and must surface
    as ITSELF, not as the fallback's own confusing failure."""
    src = str(tmp_path / "part-0.parquet")
    with open(src, "wb") as f:
        f.write(b"bytes")
    missing_dst = str(tmp_path / "no_such_dir" / "part-0.parquet")
    with pytest.raises(OSError) as e:
        ingest_mod._move_file(src, missing_dst)
    # the original rename error, not the fallback's tmp-file error
    assert "._publish_tmp" not in str(e.value.filename)
    assert os.path.exists(src)  # the staged source is untouched


@pytest.mark.slow
def test_vanished_staging_classification(spark, tmp_path):
    """Review finding (r11, fourth pass): every arm of the
    vanished-staging classification, pinned. A staging gone before
    the plan read is benign ONLY when the caller already observed its
    commit marker (recovery) or the batch's keyed commit marker
    exists; the owner's keyed-marker-absent and unkeyed cases RAISE —
    quiet success there misreports a flip-destroyed batch as
    ingested."""
    idx, _ = _setup(spark, tmp_path)
    staged = os.path.join(idx, "_staged")

    # keyed, marker ABSENT, staging gone → the owner must raise
    gone = os.path.join(staged, "feedface00_4")
    with pytest.raises(RuntimeError, match="NOT ingested"):
        ingest_mod._publish_staged(gone)

    # keyed, marker PRESENT (stem == staging name) → quiet return
    markers = os.path.join(idx, "_commit_markers")
    os.makedirs(markers, exist_ok=True)
    with open(os.path.join(markers, "feedface00_4"), "w") as f:
        f.write("committed\n")
    ingest_mod._publish_staged(gone)  # no raise

    # unkeyed, staging gone: owner raises; recovery (which observed
    # the _committed marker before calling) returns quietly
    gone_u = os.path.join(staged, "nokey_deadbeefdeadbeef")
    with pytest.raises(RuntimeError, match="NOT ingested"):
        ingest_mod._publish_staged(gone_u)
    ingest_mod._publish_staged(gone_u, known_committed=True)  # no raise

    # dir PRESENT but plan gone (a flip's rmtree deletes files in
    # arbitrary order): owner with no external marker must raise —
    # this is the pre-plan-read window of the same destruction
    half = os.path.join(staged, "feedface00_6")
    os.makedirs(half)
    with open(os.path.join(half, "_committed"), "w") as f:
        f.write("committed\n")  # staged marker proves commit, NOT moves
    with pytest.raises(RuntimeError, match="NOT ingested"):
        ingest_mod._publish_staged(half)
    assert os.path.isdir(half)  # never GC'd by the raising owner
    # with the EXTERNAL marker (touched only after all moves), the
    # same state is a finished publication mid-cleanup → GC'd quietly
    with open(os.path.join(markers, "feedface00_6"), "w") as f:
        f.write("committed\n")
    ingest_mod._publish_staged(half)
    assert not os.path.isdir(half)


@pytest.mark.slow
def test_vanished_while_waiting_respects_known_committed(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (low): the vanished-WHILE-WAITING branch (plan read
    fine, dir destroyed during the lock wait) must classify like the
    pre-plan-read branch: a recovery caller (known_committed=True)
    treats a keyed staging destroyed with its external marker absent
    as superseded by the flip (quiet return); the OWNER still raises.
    Before the fix this branch ignored known_committed and raised a
    plain RuntimeError recover_staged_batches does not tolerate."""
    import json
    import shutil

    idx, out = _setup(spark, tmp_path)

    def _make_staging(name, batch_id):
        staging = os.path.join(idx, "_staged", name)
        os.makedirs(staging, exist_ok=True)
        with open(os.path.join(staging, "_publish_plan.json"), "w") as f:
            json.dump(
                {
                    "stream": "s",
                    "batch_id": batch_id,
                    "index_parts": [],
                    "corpus_root": os.path.join(
                        out, "clean_documents.parquet"
                    ),
                    "similarity_indexes": [],
                },
                f,
            )
        with open(os.path.join(staging, "_committed"), "w") as f:
            f.write("committed\n")
        return staging

    real_acquire = staged_commit.acquire_patiently

    def _destroying_acquire(path, *a, **kw):
        # the flip lands while we wait for the first lock
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        return real_acquire(path, *a, **kw)

    monkeypatch.setattr(
        staged_commit, "acquire_patiently", _destroying_acquire
    )

    # recovery caller, keyed, external marker ABSENT → quiet return
    staging = _make_staging("feedface00_9", 9)
    ingest_mod._publish_staged(staging, known_committed=True)  # no raise

    # the OWNER in the same state must still raise
    staging = _make_staging("feedface00_10", 10)
    with pytest.raises(RuntimeError, match="NOT ingested"):
        ingest_mod._publish_staged(staging)

    # unkeyed recovery caller likewise returns quietly
    staging = _make_staging("nokey_cafecafecafecafe", None)
    ingest_mod._publish_staged(staging, known_committed=True)  # no raise


@pytest.mark.slow
def test_ingest_rejects_corpus_aliased_sim_root(spark, tmp_path):
    """ADVICE r11 (low): a sim-index root aliased to the corpus
    publish target must fail FAST with the ValueError, not self-block
    at publish until LockPatienceExhausted."""
    idx, out = _setup(spark, tmp_path)
    clean = os.path.join(out, "clean_documents.parquet")
    emb = spark.createDataFrame(
        [(200, [0.5] * 64)], "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="distinct"):
        ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=3, stream="s",
            batch_emb=emb, ann_index_dir=clean,
        )


@pytest.mark.slow
def test_manifest_replay_is_deterministic(spark, tmp_path):
    """ADVICE r9 (low): a crash-duplicated (stream, batch_id) key must
    replay the ORIGINAL row (appended desc), not an arbitrary one —
    and compaction collapses the key to that single winner row."""
    idx, out = _setup(spark, tmp_path)
    m = ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out, batch_id=2, stream="s"
    )
    # forge the re-run's all-exact-dups duplicate row for the same key
    dup = dict(m, appended=0, exact_dups=m["batch_in"], near_dups=0,
               killed_null_text=0, killed_too_short=0,
               killed_too_repetitive=0, killed_no_stopwords=0,
               contaminated_removed=0)
    ingest_mod.record_manifest(spark, idx, 2, dup, stream="s")
    assert _manifest_rows_for(spark, idx, 2, "s") == 2

    replayed = read_recorded_manifest(spark, idx, 2, stream="s")
    assert replayed == m  # the original wins, deterministically

    compact_corpus_index(spark, idx)
    assert _manifest_rows_for(spark, idx, 2, "s") == 1
    assert read_recorded_manifest(spark, idx, 2, stream="s") == m
