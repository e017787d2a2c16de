"""Transactional prepare_corpus publish (r10 verdict item 5):
kill-at-every-step fault injection over the staged-generation
protocol. The contract — after recovery the output dirs (cleaned
corpus, packs, seeded ingest index) are EITHER the complete old
generation or the complete new one, never mixed (the old behavior:
three independent overwrite calls could ship new packs beside old
docs)."""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from irio2024_mapreduce_spark.plans.corpus_prep import (
    SimulatedCrash,
    prepare_corpus,
    recover_prepared,
)

WORDS = (
    "river stone bridge meadow lantern harbor forest signal copper "
    "window letter march quiet garden motor saddle timber anchor"
).split()

# doc ids avoid the %10==8 benchmark stripe so every doc is trainable
GEN_A = [0, 1, 2, 4, 5]
GEN_B = [0, 1, 2, 4, 5, 6, 7, 9, 10, 11]

CRASH_POINTS = ["stage", "commit", "swap:corpus", "swap:packs", "swap:index"]
PRE_COMMIT = {"stage"}


def _text(gen: str, seed: int) -> str:
    rng = random.Random(f"{gen}:{seed}")
    body = " ".join(
        f"{rng.choice(WORDS)}{rng.randint(0, 999)}" for _ in range(28)
    )
    return "the quick note and " + body


def _fixture(tmp_path, gen: str, ids) -> str:
    fx = tmp_path / f"fx_{gen}"
    fx.mkdir(exist_ok=True)
    texts = [_text(gen, i) for i in ids]
    pd.DataFrame(
        {
            "doc_id": list(ids),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["src0"] * len(ids),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(fx / "documents.parquet")
    return str(fx)


def _state(spark, out: str, idx: str):
    """(clean doc ids, packed doc ids, index hash rows) — the three
    artifacts' identities, for the never-mixed assertion."""
    clean = spark.read.parquet(os.path.join(out, "clean_documents.parquet"))
    packs = spark.read.parquet(os.path.join(out, "packs.parquet"))
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    pack_ids = {r["doc_id"] for r in packs.select("doc_id").collect()}
    hashes = spark.read.parquet(os.path.join(idx, "hashes")).count()
    return clean_ids, pack_ids, hashes


def _assert_generation(spark, out, idx, ids):
    clean_ids, pack_ids, hashes = _state(spark, out, idx)
    assert clean_ids == set(ids)
    assert pack_ids == set(ids)  # packs cover exactly this generation
    assert hashes == len(ids)  # the seeded index too
    # and the batch pipeline can continue from the seeded index — the
    # manifest validates
    from irio2024_mapreduce_spark.plans.ingest import validate_index

    validate_index(idx, "ngram")


@pytest.mark.slow
@pytest.mark.parametrize("point", CRASH_POINTS)
def test_kill_at_every_step_never_ships_mixed(spark, tmp_path, point):
    fx_a = _fixture(tmp_path, "a", GEN_A)
    fx_b = _fixture(tmp_path, "b", GEN_B)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    m_a = prepare_corpus(spark, fx_a, out, index_dir=idx)
    assert m_a["docs_out"] == len(GEN_A)
    _assert_generation(spark, out, idx, GEN_A)

    with pytest.raises(SimulatedCrash):
        prepare_corpus(
            spark, fx_b, out, index_dir=idx, _test_crash_after=point
        )
    res = recover_prepared(out)
    if point in PRE_COMMIT:
        # the old generation intact in EVERY artifact; staging gone
        assert res["discarded"] == 1 and res["rolled_forward"] == 0
        _assert_generation(spark, out, idx, GEN_A)
        # and the rerun ships the new generation cleanly
        m_b = prepare_corpus(spark, fx_b, out, index_dir=idx)
        assert m_b["docs_out"] == len(GEN_B)
    else:
        # committed: recovery completes the swaps — all three
        # artifacts flip to the NEW generation together
        assert res["rolled_forward"] == 1
    _assert_generation(spark, out, idx, GEN_B)
    # idempotent: nothing left to recover, artifacts unchanged
    assert recover_prepared(out) == {
        "rolled_forward": 0,
        "discarded": 0,
        "in_flight": 0,
    }
    _assert_generation(spark, out, idx, GEN_B)
    assert os.listdir(os.path.join(out, "_staged")) == []


@pytest.mark.slow
def test_ingest_rolls_crashed_generation_flip_forward(spark, tmp_path):
    """Review finding (r11): a prepare_corpus flip that committed but
    crashed MID-SWAP can leave the corpus target missing; an ingest
    publish that recreated it would have its rows destroyed by the
    flip's later roll-forward while its index rows survived — a
    permanent split-brain. The ingest publish now rolls any committed
    generation forward FIRST, so the batch lands in the completed NEW
    generation."""
    from irio2024_mapreduce_spark.plans.corpus_prep import (
        _PREP_OLD,
        _PREP_TMP,
    )
    from irio2024_mapreduce_spark.plans.ingest import (
        ingest_batch,
        read_recorded_manifest,
    )

    fx_a = _fixture(tmp_path, "a", GEN_A)
    fx_b = _fixture(tmp_path, "b", GEN_B)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    prepare_corpus(spark, fx_a, out, index_dir=idx)
    with pytest.raises(SimulatedCrash):
        prepare_corpus(
            spark, fx_b, out, index_dir=idx, _test_crash_after="commit"
        )
    # hand-craft the worst mid-swap state: corpus target MISSING, old
    # generation under ._prep_old, new generation under ._prep_tmp
    staging = next(
        os.path.join(out, "_staged", n)
        for n in os.listdir(os.path.join(out, "_staged"))
        if os.path.isdir(os.path.join(out, "_staged", n))
    )
    clean = os.path.join(out, "clean_documents.parquet")
    os.rename(os.path.join(staging, "corpus"), clean + _PREP_TMP)
    os.rename(clean, clean + _PREP_OLD)
    assert not os.path.exists(clean)  # the gap

    # an ingest batch arrives NOW: doc 500 is fresh text
    batch = spark.createDataFrame(
        [(500, _text("fresh", 500), "en", "src0", 120)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    m = ingest_batch(spark, batch, idx, out, batch_id=0, stream="s")
    assert m["appended"] == 1
    clean_ids = {
        r["doc_id"]
        for r in spark.read.parquet(clean).select("doc_id").collect()
    }
    # the batch rides the COMPLETED new generation — not a fresh dir
    # destined for destruction
    assert clean_ids == set(GEN_B) | {500}
    assert not os.path.exists(clean + _PREP_OLD)
    assert not os.path.exists(clean + _PREP_TMP)
    # ... and its index rows live in the new generation's index
    hashes = spark.read.parquet(os.path.join(idx, "hashes")).count()
    assert hashes == len(GEN_B) + 1
    assert (
        read_recorded_manifest(spark, idx, 0, stream="s") is not None
    )


@pytest.mark.slow
def test_index_dir_inside_out_dir_is_refused(spark, tmp_path):
    fx_a = _fixture(tmp_path, "a", GEN_A)
    out = str(tmp_path / "out")
    for bad in (out, os.path.join(out, "idx")):
        with pytest.raises(ValueError, match="disjoint"):
            prepare_corpus(spark, fx_a, out, index_dir=bad)


@pytest.mark.slow
def test_publication_is_serialized_on_the_out_dir(
    spark, tmp_path, monkeypatch
):
    """Review finding (r11): two overlapping publications could
    interleave per-target swaps into corpus-of-A + packs-of-B. The
    whole publication now holds ONE out_dir lock — pinned by showing
    a roll-forward cannot proceed while another publisher holds it."""
    import irio2024_mapreduce_spark.sources.sinks as sinks_mod
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
        acquire_compaction_lock,
        release_compaction_lock,
    )

    fx_a = _fixture(tmp_path, "a", GEN_A)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    with pytest.raises(SimulatedCrash):
        prepare_corpus(
            spark, fx_a, out, index_dir=idx, _test_crash_after="commit"
        )
    real = sinks_mod.acquire_compaction_lock_patiently
    monkeypatch.setattr(
        sinks_mod,
        "acquire_compaction_lock_patiently",
        lambda p, attempts=2, wait=0.05: real(p, 2, 0.05),
    )
    lock = acquire_compaction_lock(out)
    try:
        with pytest.raises(LockPatienceExhausted):
            recover_prepared(out)
    finally:
        release_compaction_lock(lock)
    # lock released: the roll-forward completes
    assert recover_prepared(out)["rolled_forward"] == 1
    _assert_generation(spark, out, idx, GEN_A)


def test_entry_recovery_rolls_forward_before_reading(spark, tmp_path):
    """A NEW prepare_corpus run over a dir with a committed-but-
    unpublished predecessor must see (and build on) the predecessor's
    completed state, not the half-old one."""
    fx_a = _fixture(tmp_path, "a", GEN_A)
    fx_b = _fixture(tmp_path, "b", GEN_B)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    prepare_corpus(spark, fx_a, out, index_dir=idx)
    with pytest.raises(SimulatedCrash):
        prepare_corpus(
            spark, fx_b, out, index_dir=idx, _test_crash_after="commit"
        )
    # no manual recovery: the next run's entry recovery completes the
    # committed generation, then replaces it with its own
    m_a2 = prepare_corpus(spark, fx_a, out, index_dir=idx)
    assert m_a2["docs_out"] == len(GEN_A)
    _assert_generation(spark, out, idx, GEN_A)
