"""Ingest-integrated stored similarity indexes (r10 verdict item 1):
``ingest_batch(..., batch_emb=, ann_index_dir=, ivf_index_dir=)``
stages the admitted survivors' vectors beside the other batch parts,
and the ONE ``_committed`` marker covers them — a crash at any publish
step leaves dedup halves, corpus, stats, manifest AND both similarity
indexes consistent (all-or-nothing), matching the reference's
all-steps-of-one-job model
(/root/reference/mapreduce/coordinator/update_loop.py:149-154).
Covers: happy path (+ probe parity with on-the-fly), the extended
kill matrix, redelivery exactly-once, and the geometry-change crash
window (a resize/rebuild committing between the batch's commit and
its roll-forward)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.ann_index import (
    build_ann_index,
    probe_ann_index,
    read_ann_manifest,
    resize_ann_index,
)
from irio2024_mapreduce_spark.operators.ivf_index import (
    build_ivf_index,
    probe_ivf_index,
    read_ivf_manifest,
    rebuild_ivf_index,
)
from irio2024_mapreduce_spark.operators.similarity import (
    EMB_DIM,
    _ann_topk,
)
from irio2024_mapreduce_spark.plans.ingest import (
    SimulatedCrash,
    build_corpus_index,
    ingest_batch,
    read_recorded_manifest,
    recover_staged_batches,
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
SEED_IDS = [100, 101]
# 201 is an exact duplicate: its vector must NOT enter the indexes
ADMITTED = sorted(SEED_IDS + [200, 202])

CRASH_POINTS = [
    "stage",
    "commit",
    "move:hashes",
    "move:corpus",
    "move:ann_index",  # new: after the ANN part published
    "move:ivf_index",  # new: after the IVF part published
    "marker",
]
PRE_COMMIT = {"stage"}


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
        f"vec_id long, v array<double>",
    )


def _setup(spark, root):
    """Corpus index over the seed docs + stored ANN/IVF indexes over
    the seed docs' vectors — the state a one-shot build leaves."""
    idx = str(root / "idx")
    out = str(root / "corpus")
    ann = str(root / "ann")
    ivf = str(root / "ivf")
    build_corpus_index(spark, _frame(spark, T_CORPUS), idx)
    build_ann_index(spark, _emb(spark, SEED_IDS), ann, bits=8)
    build_ivf_index(spark, _emb(spark, SEED_IDS), ivf, k_cells=2)
    return idx, out, ann, ivf


def _ingest(spark, idx, out, ann, ivf, crash=None):
    return ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out,
        batch_id=5, stream="s",
        batch_emb=_emb(spark, [i for i, _ in T_BATCH]),
        ann_index_dir=ann, ivf_index_dir=ivf,
        _test_crash_after=crash,
    )


def _ann_ids(spark, ann):
    # the committed corpus-vector set is layout ∪ per-batch deltas
    # (r13: ingest publishes batches as delta dirs; maintenance folds)
    from irio2024_mapreduce_spark.operators.ann_index import FAMILY
    from irio2024_mapreduce_spark.operators.stored_index import (
        corpus_files,
    )

    m = read_ann_manifest(ann)
    files = sorted(corpus_files(FAMILY, ann, m["data"]))
    if not files:
        return []
    df = spark.read.parquet(*files)
    return sorted(
        r["neighbor_id"] for r in df.select("neighbor_id").collect()
    )


def _ivf_ids(spark, ivf):
    # the committed set is layout ∪ per-batch deltas (r13)
    from irio2024_mapreduce_spark.operators.ivf_index import FAMILY
    from irio2024_mapreduce_spark.operators.stored_index import (
        corpus_files,
        read_vectors,
    )

    m = read_ivf_manifest(ivf)
    files = sorted(corpus_files(FAMILY, ivf, m["data"]))
    if not files:
        return []
    df = read_vectors(FAMILY, spark, files)
    return sorted(r["vec_id"] for r in df.select("vec_id").collect())


def _probe_top1(spark, probe_fn, index_dir, doc_id):
    """Probe with the exact stored vector: top-1 must be the doc
    itself at cosine 1.0 — the index answers over the FULL corpus."""
    q = spark.createDataFrame(
        [(0, _vec(doc_id))], "vec_id long, v array<double>"
    )
    top = (
        probe_fn(spark, q, index_dir)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert len(top) == 1
    assert top[0]["neighbor_id"] == doc_id
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_happy_path_appends_and_probes(spark, tmp_path):
    idx, out, ann, ivf = _setup(spark, tmp_path)
    m = _ingest(spark, idx, out, ann, ivf)
    assert m["appended"] == 2 and m["exact_dups"] == 1
    assert _ann_ids(spark, ann) == ADMITTED
    assert _ivf_ids(spark, ivf) == ADMITTED
    assert read_ann_manifest(ann)["rows"] == len(ADMITTED)
    assert read_ivf_manifest(ivf)["rows"] == len(ADMITTED)

    # stored-ANN probe == on-the-fly over the FULL grown corpus, at
    # the manifest's own bits (the verdict's done-bar)
    queries = _emb(spark, [0, 1, 2])
    emb_all = queries.unionByName(_emb(spark, ADMITTED))
    stored = sorted(
        tuple(r) for r in probe_ann_index(spark, queries, ann).collect()
    )
    fly = sorted(
        tuple(r)
        for r in _ann_topk(
            emb_all, bits=read_ann_manifest(ann)["bits"]
        ).collect()
    )
    assert stored == fly and len(stored) > 0
    # IVF centroids are the BUILD-time quantizer (append assigns to
    # them), so the check is self-probe exactness, not fly parity
    for d in ADMITTED:
        _probe_top1(spark, probe_ivf_index, ivf, d)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_kill_matrix_covers_similarity_indexes(spark, tmp_path):
    """Extended kill matrix: at every publish step, either NOTHING of
    the batch is visible in the similarity indexes (pre-commit) or
    recovery makes ALL of it visible (post-commit); redelivery is
    exactly-once — no duplicate physical index rows."""
    for i, point in enumerate(CRASH_POINTS):
        root = tmp_path / f"p{i}"
        root.mkdir()
        idx, out, ann, ivf = _setup(spark, root)
        with pytest.raises(SimulatedCrash):
            _ingest(spark, idx, out, ann, ivf, crash=point)

        if point in PRE_COMMIT:
            # atomicity: nothing of the batch in either index
            assert _ann_ids(spark, ann) == SEED_IDS, point
            assert _ivf_ids(spark, ivf) == SEED_IDS, point
            recover_staged_batches(idx)
            assert _ann_ids(spark, ann) == SEED_IDS, point
            # redelivery admits normally — lossless
            m = _ingest(spark, idx, out, ann, ivf)
        else:
            recover_staged_batches(idx)
            m = read_recorded_manifest(spark, idx, 5, stream="s")
            assert m is not None, point
            # a redelivery after recovery replays, never re-appends
            m2 = _ingest(spark, idx, out, ann, ivf)
            assert m2 == m, point
        assert m["appended"] == 2, point
        # exactly-once: the PHYSICAL row sets equal the admitted set
        assert _ann_ids(spark, ann) == ADMITTED, point
        assert _ivf_ids(spark, ivf) == ADMITTED, point
        assert read_recorded_manifest(spark, idx, 5, stream="s") == m
        _probe_top1(spark, probe_ann_index, ann, 200)
        _probe_top1(spark, probe_ivf_index, ivf, 202)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_geometry_change_in_crash_window(spark, tmp_path):
    """The slow path: a batch commits, crashes before its index parts
    move, and maintenance (ANN resize + IVF rebuild) runs BEFORE the
    roll-forward — the staged rows target dead data dirs, so recovery
    re-shapes them at the CURRENT geometry. Nothing is lost, nothing
    doubles, probes answer over the full corpus."""
    idx, out, ann, ivf = _setup(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        _ingest(spark, idx, out, ann, ivf, crash="move:corpus")

    # maintenance commits new geometry from the LIVE (seed-only) rows
    r = resize_ann_index(spark, ann)  # 2 rows → width drops to BITS_MIN
    assert r["resized"]
    rb = rebuild_ivf_index(spark, ivf, k_cells=3)
    assert rb["rebuilt"]

    recover_staged_batches(idx)
    assert _ann_ids(spark, ann) == ADMITTED
    assert _ivf_ids(spark, ivf) == ADMITTED
    # advisory counts bumped exactly once despite the detour
    assert read_ann_manifest(ann)["rows"] == len(ADMITTED)
    assert read_ivf_manifest(ivf)["rows"] == len(ADMITTED)
    _probe_top1(spark, probe_ann_index, ann, 200)
    _probe_top1(spark, probe_ivf_index, ivf, 200)
    # idempotent: a second recovery pass finds nothing to do
    res = recover_staged_batches(idx)
    assert res == {"rolled_forward": 0, "discarded": 0, "in_flight": 0}
    assert _ann_ids(spark, ann) == ADMITTED


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_all_rejected_batch_stages_no_index_part(spark, tmp_path):
    """Review finding (r11): a batch whose every doc is rejected used
    to stage an EMPTY parquet dir per index; a post-commit crash that
    then hit the slow path would wedge recovery on a schema-less
    read. Zero admitted vectors now stage nothing, publish cleanly,
    and leave both indexes untouched — including through a crash +
    geometry change."""
    idx, out, ann, ivf = _setup(spark, tmp_path)
    dups = [(300, T_CORPUS[0][1]), (301, T_CORPUS[1][1])]
    m = ingest_batch(
        spark, _frame(spark, dups), idx, out,
        batch_id=9, stream="s",
        batch_emb=_emb(spark, [i for i, _ in dups]),
        ann_index_dir=ann, ivf_index_dir=ivf,
    )
    assert m["appended"] == 0 and m["exact_dups"] == 2
    assert _ann_ids(spark, ann) == SEED_IDS
    assert _ivf_ids(spark, ivf) == SEED_IDS

    # crash post-commit + geometry change: recovery must not wedge
    with pytest.raises(SimulatedCrash):
        ingest_batch(
            spark, _frame(spark, dups), idx, out,
            batch_id=10, stream="s",
            batch_emb=_emb(spark, [i for i, _ in dups]),
            ann_index_dir=ann, ivf_index_dir=ivf,
            _test_crash_after="commit",
        )
    resize_ann_index(spark, ann)
    rebuild_ivf_index(spark, ivf, k_cells=3)
    res = recover_staged_batches(idx)
    assert res["rolled_forward"] == 1
    assert _ann_ids(spark, ann) == SEED_IDS


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_strict_entry_recovery_fails_loudly_on_held_lock(
    spark, tmp_path, monkeypatch
):
    """Review finding (r11): the admission path must NOT proceed past
    a committed predecessor whose index rows are not yet visible — a
    batch probing then would re-admit the predecessor's duplicates.
    Entry recovery is strict: lock patience exhaustion re-raises."""
    from irio2024_mapreduce_spark.sources import staged_commit
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
        acquire_compaction_lock,
        acquire_compaction_lock_patiently,
        release_compaction_lock,
    )

    idx, out, ann, ivf = _setup(spark, tmp_path)
    with pytest.raises(SimulatedCrash):
        _ingest(spark, idx, out, ann, ivf, crash="commit")
    monkeypatch.setattr(
        staged_commit,
        "acquire_patiently",
        lambda path: acquire_compaction_lock_patiently(path, 2, 0.05),
    )
    lock = acquire_compaction_lock(idx)
    try:
        with pytest.raises(LockPatienceExhausted):
            ingest_batch(
                spark, _frame(spark, [(900, T_BATCH[0][1])]), idx, out,
                batch_id=11, stream="s",
            )
    finally:
        release_compaction_lock(lock)
    # lock gone: the predecessor publishes, then the new batch admits
    m = ingest_batch(
        spark,
        _frame(spark, [(901, "the canal boats carried coal and "
                             "timber south through misty locks "
                             "every autumn morning")]),
        idx, out, batch_id=12, stream="s",
    )
    assert m["appended"] == 1
    assert _ann_ids(spark, ann) == ADMITTED  # predecessor published


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_quantized_ivf_ingest_and_geometry_change(spark, tmp_path):
    """An int8-quantized stored IVF index through the same
    transactional ingest: staged rows carry codes+scale, the fast
    path moves them, and the geometry-change slow path DEQUANTIZES
    the staged rows before re-assignment (schema-detected)."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivf")
    build_corpus_index(spark, _frame(spark, T_CORPUS), idx)
    build_ivf_index(
        spark, _emb(spark, SEED_IDS), ivf, k_cells=2, quantize=True
    )
    m = ingest_batch(
        spark, _frame(spark, T_BATCH), idx, out,
        batch_id=5, stream="s",
        batch_emb=_emb(spark, [i for i, _ in T_BATCH]),
        ivf_index_dir=ivf,
    )
    assert m["appended"] == 2
    assert _ivf_ids(spark, ivf) == ADMITTED
    cells = os.path.join(
        ivf, f"cells_v{read_ivf_manifest(ivf)['data_version']}"
    )
    assert "codes" in spark.read.parquet(cells).columns
    # quantized probe: top-1 for a stored vector is itself (cosine of
    # the int8-dequantized self ≈ 1 within quantization error)
    q = spark.createDataFrame(
        [(0, _vec(200))], "vec_id long, v array<double>"
    )
    top = (
        probe_ivf_index(spark, q, ivf)
        .filter(F.col("rank") == 1)
        .collect()[0]
    )
    assert top["neighbor_id"] == 200 and top["cosine"] > 0.999

    # geometry-change window with a QUANTIZED staged part: the
    # slow-path roll-forward must dequantize before re-assigning
    with pytest.raises(SimulatedCrash):
        ingest_batch(
            spark, _frame(spark, [(400, "the glass factory shipped "
                                        "crates of bottles along the "
                                        "river barges every tuesday "
                                        "without fail")]),
            idx, out, batch_id=6, stream="s",
            batch_emb=_emb(spark, [400]), ivf_index_dir=ivf,
            _test_crash_after="commit",
        )
    rb = rebuild_ivf_index(spark, ivf, k_cells=3)
    assert rb["rebuilt"]
    recover_staged_batches(idx)
    assert _ivf_ids(spark, ivf) == sorted(ADMITTED + [400])
    top = (
        probe_ivf_index(
            spark,
            spark.createDataFrame(
                [(0, _vec(400))], "vec_id long, v array<double>"
            ),
            ivf,
        )
        .filter(F.col("rank") == 1)
        .collect()[0]
    )
    assert top["neighbor_id"] == 400 and top["cosine"] > 0.999


def test_missing_batch_emb_fails_loudly(spark, tmp_path):
    idx, out, ann, ivf = _setup(spark, tmp_path)
    with pytest.raises(ValueError, match="batch_emb"):
        ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=5, stream="s", ann_index_dir=ann,
        )
    with pytest.raises(ValueError, match="distinct"):
        ingest_batch(
            spark, _frame(spark, T_BATCH), idx, out,
            batch_id=5, stream="s",
            batch_emb=_emb(spark, [200]),
            ann_index_dir=ann, ivf_index_dir=ann,
        )


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_vanished_similarity_index_classifies_retryable(
    spark, tmp_path
):
    """The r13 soak's finding: _stage_ivf reads the IVF centroids
    lock-free, and a concurrent deep rebuild can flip the version and
    GC centroids_v{N} mid-read. ingest_batch's retryable boundary
    must classify vanished files under ANY root the batch reads —
    the similarity indexes included — not just the dedup index."""
    import shutil

    idx, out, ann, ivf = _setup(spark, tmp_path)
    m = read_ivf_manifest(ivf)
    # the post-GC state a racing rebuild leaves a staged reader: the
    # centroid version the manifest pointed at when staging planned
    # its read is gone
    shutil.rmtree(os.path.join(ivf, f"centroids_v{m['data_version']}"))
    with pytest.raises(RuntimeError, match="retry after the maintenance"):
        _ingest(spark, idx, out, ann, ivf)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_unkeyed_batches_get_unique_delta_dirs(spark, tmp_path):
    """r14 (ADVICE, low): every UNKEYED batch (batch_id=None) must
    publish into its own delta dir — pre-r14 they all mapped to
    ``b=<md5(stream)>.0`` (colliding with each other and with a keyed
    batch_id=0), and the second publisher fell into the per-file
    mover, silently voiding the single-rename batch-atomic visibility
    guarantee."""
    from irio2024_mapreduce_spark.operators.stored_index import (
        deltas_root,
    )

    idx, out, ann, ivf = _setup(spark, tmp_path)
    docs_a = [(70, "the lighthouse keeper counted passing ships while "
                   "winter storms battered the rocky northern coast")]
    docs_b = [(71, "market vendors arranged bright oranges and figs "
                   "beneath striped awnings in the warm morning sun")]
    for docs in (docs_a, docs_b):
        m = ingest_batch(
            spark, _frame(spark, docs), idx, out,
            batch_id=None, stream="s",
            batch_emb=_emb(spark, [i for i, _ in docs]),
            ann_index_dir=ann, ivf_index_dir=ivf,
        )
        assert m["appended"] == 1
    am = read_ann_manifest(ann)
    ann_batches = sorted(
        d
        for d in os.listdir(deltas_root(ann, am["data"]))
        if d.startswith("b=")
    )
    im = read_ivf_manifest(ivf)
    ivf_batches = sorted(
        d
        for d in os.listdir(deltas_root(ivf, im["data"]))
        if d.startswith("b=")
    )
    assert len(ann_batches) == 2, ann_batches
    assert len(ivf_batches) == 2, ivf_batches
    for b in ann_batches + ivf_batches:
        assert b.startswith("b=nokey_"), b
    # keyed tags remain deterministic and distinct from unkeyed ones
    assert sorted(_ann_ids(spark, ann)) == sorted(SEED_IDS + [70, 71])
