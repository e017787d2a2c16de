"""Ingest schema gate (r14): the corpus append is schema-blind at
write time, so producer schema drift — an added/dropped column or a
changed type mid-stream — would commit a schema-divergent parquet
dataset whose damage only surfaces at READ time, after the bad files
fanned out to packs and stats. The gate compares each batch's exact
append shape against the corpus's ``_schema.json`` authority BEFORE
anything is staged: a drifted batch fails loudly, nothing lands, the
(stream, batch_id) key is not consumed.

Failure shapes first: every rejection asserts the corpus, manifests,
and staging root are untouched, and that the SAME key commits after
the producer fix — the retryability half of the contract.
"""

from __future__ import annotations

import json
import os

import pytest

from irio2024_mapreduce_spark.plans.ingest import (
    _SCHEMA_SIDECAR,
    _commit_marker,
    build_corpus_index,
    ingest_batch,
)
from irio2024_mapreduce_spark.sources.staged_commit import STAGED_ROOT

BASE_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

SEED_TEXT = (
    "a seed document that passes the funnel with plain words and "
    "enough of them to count as a real page of text"
)
PAGE = (
    "another ordinary page of text with plenty of plain words that "
    "the quality funnel will keep for the corpus today number {}"
)


def _frame(spark, rows, schema=BASE_SCHEMA):
    return spark.createDataFrame(rows, schema)


def _doc(i, text, lang="en"):
    return (i, text, lang, "src0", len(text))


def _setup(spark, root):
    """Index + corpus seeded by one committed batch (the gate's
    authority primes from this batch's footer on the next call)."""
    idx, out = str(root / "idx"), str(root / "corpus")
    build_corpus_index(
        spark,
        _frame(spark, [_doc(100, SEED_TEXT + " built into the index")]),
        idx,
    )
    m0 = ingest_batch(
        spark, _frame(spark, [_doc(150, SEED_TEXT)]), idx, out,
        batch_id=1, stream="s",
    )
    assert m0["appended"] == 1
    return idx, out


def _corpus_ids(spark, out):
    return sorted(
        r["doc_id"]
        for r in spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "clean_documents.parquet"))
        .select("doc_id")
        .collect()
    )


def _manifest_count(spark, idx, batch_id):
    """How many commit markers record batch (s, batch_id): 0 or 1."""
    return int(os.path.exists(_commit_marker(idx, batch_id, "s")))


def _sidecar(out):
    return os.path.join(out, "clean_documents.parquet", _SCHEMA_SIDECAR)


def _assert_rejected_cleanly(spark, idx, out, ids_before, batch_id):
    """The rejection half of the contract: nothing visible, nothing
    staged, the key still free."""
    assert _corpus_ids(spark, out) == ids_before
    assert _manifest_count(spark, idx, batch_id) == 0
    staged = os.path.join(idx, STAGED_ROOT)
    assert not os.path.isdir(staged) or os.listdir(staged) == []


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_retyped_column_rejected_then_fixed_redelivery_commits(
    spark, tmp_path
):
    idx, out = _setup(spark, tmp_path)
    ids = _corpus_ids(spark, out)
    bad = _frame(
        spark,
        [(151, PAGE.format(1), 7, "src0", 100)],
        "doc_id long, text string, lang long, source string, "
        "n_chars long",
    )
    with pytest.raises(RuntimeError, match="ingest schema gate"):
        ingest_batch(spark, bad, idx, out, batch_id=2, stream="s")
    _assert_rejected_cleanly(spark, idx, out, ids, 2)
    # the SAME key, fixed shape: the gate did not consume batch_id=2
    m = ingest_batch(
        spark, _frame(spark, [_doc(151, PAGE.format(1))]), idx, out,
        batch_id=2, stream="s",
    )
    assert m["appended"] == 1
    assert 151 in _corpus_ids(spark, out)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_added_column_strict_rejects_evolve_admits(spark, tmp_path):
    idx, out = _setup(spark, tmp_path)
    ids = _corpus_ids(spark, out)
    extra = _frame(
        spark,
        [(152, PAGE.format(2), "en", "src0", 100, 0.5)],
        BASE_SCHEMA + ", qscore double",
    )
    with pytest.raises(RuntimeError, match=r"added=\['qscore'\]"):
        ingest_batch(spark, extra, idx, out, batch_id=3, stream="s")
    _assert_rejected_cleanly(spark, idx, out, ids, 3)
    m = ingest_batch(
        spark, extra, idx, out, batch_id=3, stream="s",
        schema_policy="evolve",
    )
    assert m["appended"] == 1
    # pre-drift rows read the evolved column back as NULL
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "clean_documents.parquet")
    )
    vals = {r["doc_id"]: r["qscore"] for r in df.collect()}
    assert vals[150] is None and vals[152] == 0.5
    # the evolve-admission widened the authority: the OLD shape is now
    # the drifted one (its rows would silently lack qscore)
    with pytest.raises(RuntimeError, match=r"dropped=\['qscore'\]"):
        ingest_batch(
            spark, _frame(spark, [_doc(153, PAGE.format(3))]), idx, out,
            batch_id=4, stream="s",
        )


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_dropped_column_rejected_under_both_policies(spark, tmp_path):
    idx, out = _setup(spark, tmp_path)
    ids = _corpus_ids(spark, out)
    narrow = _frame(
        spark,
        [(154, PAGE.format(4), "en", 100)],
        "doc_id long, text string, lang string, n_chars long",
    )
    for policy in ("strict", "evolve"):
        with pytest.raises(RuntimeError, match=r"dropped=\['source'\]"):
            ingest_batch(
                spark, narrow, idx, out, batch_id=5, stream="s",
                schema_policy=policy,
            )
    _assert_rejected_cleanly(spark, idx, out, ids, 5)


def test_unknown_policy_is_a_loud_valueerror(spark, tmp_path):
    idx, out = _setup(spark, tmp_path)
    with pytest.raises(ValueError, match="schema_policy"):
        ingest_batch(
            spark, _frame(spark, [_doc(155, PAGE.format(5))]), idx, out,
            batch_id=6, stream="s", schema_policy="merge",
        )


def test_sidecar_self_primes_and_corrupt_sidecar_heals(spark, tmp_path):
    idx, out = _setup(spark, tmp_path)
    side = _sidecar(out)
    # the second ingest call primed the authority from a footer
    m = ingest_batch(
        spark, _frame(spark, [_doc(156, PAGE.format(6))]), idx, out,
        batch_id=7, stream="s",
    )
    assert m["appended"] == 1 and os.path.exists(side)
    cols = json.load(open(side))["columns"]
    assert cols["doc_id"] == "bigint" and "text" in cols
    # a corrupt authority re-primes from a committed footer instead of
    # wedging ingest
    with open(side, "w") as fh:
        fh.write("{not json")
    m = ingest_batch(
        spark,
        _frame(spark, [_doc(
            157,
            "the harbour master logged every vessel by name and "
            "tonnage while gulls argued over the morning catch",
        )]),
        idx, out, batch_id=8, stream="s",
    )
    assert m["appended"] == 1
    assert json.load(open(side))["columns"]["doc_id"] == "bigint"


# --- vector dimension gate (similarity.count_with_dim_check) ------------
#
# Every signature/assignment expression indexes v[0..EMB_DIM-1]; a
# longer vector would silently sign/assign on a truncated prefix
# (corrupted index rows), a shorter/NULL one dies with a cryptic
# error deep in the expression tree. The gate turns both into one
# loud pre-commit error on every write path: builders and the
# ingest-integrated batch_emb.

import random


def _vec(seed, dim=None):
    from irio2024_mapreduce_spark.operators.similarity import EMB_DIM

    rng = random.Random(seed)
    return [rng.uniform(-1.0, 1.0) for _ in range(dim or EMB_DIM)]


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


@pytest.mark.parametrize("bad_dim", [32, 96])
def test_builders_reject_wrong_dimension_vectors(spark, tmp_path, bad_dim):
    from irio2024_mapreduce_spark.operators.ann_index import build_ann_index
    from irio2024_mapreduce_spark.operators.ivf_index import build_ivf_index

    emb = _emb(
        spark, [(1, _vec(1)), (2, _vec(2, dim=bad_dim)), (3, _vec(3))]
    )
    with pytest.raises(Exception, match="vector dimension gate"):
        build_ann_index(spark, emb, str(tmp_path / f"ann{bad_dim}"), bits=8)
    with pytest.raises(Exception, match="vector dimension gate"):
        build_ivf_index(
            spark, emb, str(tmp_path / f"ivf{bad_dim}"), k_cells=2
        )


def test_builders_reject_null_vector(spark, tmp_path):
    from irio2024_mapreduce_spark.operators.ann_index import build_ann_index

    emb = _emb(spark, [(1, _vec(1)), (2, None)])
    with pytest.raises(Exception, match="vector dimension gate"):
        build_ann_index(spark, emb, str(tmp_path / "ann_null"), bits=8)


def test_ingest_rejects_wrong_dimension_batch_emb_pre_commit(
    spark, tmp_path
):
    """A wrong-width vector in batch_emb aborts PRE-commit: corpus,
    manifests and both stored indexes are untouched, the key is free,
    and a fixed redelivery of the SAME key commits."""
    from irio2024_mapreduce_spark.operators.ann_index import (
        build_ann_index,
        read_ann_manifest,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        build_ivf_index,
    )
    from irio2024_mapreduce_spark.plans.ingest import (
        build_corpus_index,
        recover_staged_batches,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    ann, ivf = str(tmp_path / "ann"), str(tmp_path / "ivf")
    build_corpus_index(
        spark,
        _frame(spark, [_doc(100, SEED_TEXT + " built into the index")]),
        idx,
    )
    build_ann_index(spark, _emb(spark, [(100, _vec(100))]), ann, bits=8)
    build_ivf_index(spark, _emb(spark, [(100, _vec(100))]), ivf, k_cells=2)

    batch = _frame(spark, [_doc(200, PAGE.format(200))])
    with pytest.raises(Exception, match="vector dimension gate"):
        ingest_batch(
            spark, batch, idx, out, batch_id=1, stream="s",
            batch_emb=_emb(spark, [(200, _vec(200, dim=32))]),
            ann_index_dir=ann, ivf_index_dir=ivf,
        )
    # pre-commit: recovery discards the failed staging, nothing visible
    recover_staged_batches(idx)
    assert not os.path.exists(os.path.join(out, "clean_documents.parquet"))
    assert _manifest_count(spark, idx, 1) == 0
    m = read_ann_manifest(ann)
    deltas = os.path.join(ann, m["data"] + ".deltas")
    assert not os.path.isdir(deltas) or os.listdir(deltas) == []
    # fixed redelivery of the SAME key commits
    m2 = ingest_batch(
        spark, batch, idx, out, batch_id=1, stream="s",
        batch_emb=_emb(spark, [(200, _vec(200))]),
        ann_index_dir=ann, ivf_index_dir=ivf,
    )
    assert m2["appended"] == 1
    assert _manifest_count(spark, idx, 1) == 1


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_evolve_widens_authority_only_after_commit(spark, tmp_path):
    """An evolve-admission that aborts PRE-commit must not widen the
    _schema.json authority — otherwise the recorded shape is wider
    than any committed data and original-shape producers get falsely
    rejected. Crash at the 'stage' point (everything staged, nothing
    committed), then assert the original shape still passes strict."""
    from irio2024_mapreduce_spark.plans.ingest import SimulatedCrash

    idx, out = _setup(spark, tmp_path)
    side = _sidecar(out)
    before = json.load(open(side))["columns"] if os.path.exists(side) else None
    extra = _frame(
        spark,
        [(160, PAGE.format(60), "en", "src0", 100, 1.5)],
        BASE_SCHEMA + ", qscore double",
    )
    with pytest.raises(SimulatedCrash):
        ingest_batch(
            spark, extra, idx, out, batch_id=9, stream="s",
            schema_policy="evolve", _test_crash_after="stage",
        )
    # authority unchanged (or still unprimed): qscore never entered it
    if os.path.exists(side):
        cols = json.load(open(side))["columns"]
        assert "qscore" not in cols
        if before is not None:
            assert cols == before
    # the ORIGINAL shape still passes strict — no phantom wide schema
    m = ingest_batch(
        spark,
        _frame(spark, [_doc(
            161,
            "a lighthouse keeper counted the ships that passed the "
            "headland and wrote each name in the evening ledger",
        )]),
        idx, out, batch_id=10, stream="s",
    )
    assert m["appended"] == 1
    # and the evolve redelivery of the crashed key commits AND widens
    m2 = ingest_batch(
        spark, extra, idx, out, batch_id=9, stream="s",
        schema_policy="evolve",
    )
    assert m2["appended"] == 1
    assert json.load(open(side))["columns"].get("qscore") == "double"


def test_append_paths_reject_wrong_dimension_before_writing(
    spark, tmp_path
):
    """The daily append paths write into the LIVE dirs (no staging to
    GC), so the gate must fire before anything ships: the index row
    count and manifest must be unchanged after a rejected append."""
    from irio2024_mapreduce_spark.operators.ann_index import (
        append_ann_index,
        build_ann_index,
        read_ann_manifest,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        read_ivf_manifest,
    )

    ann, ivf = str(tmp_path / "ann"), str(tmp_path / "ivf")
    seed = _emb(spark, [(i, _vec(i)) for i in range(20)])
    build_ann_index(spark, seed, ann, bits=8)
    build_ivf_index(spark, seed, ivf, k_cells=2)
    bad = _emb(spark, [(100, _vec(100, dim=32))])
    with pytest.raises(ValueError, match="vector dimension gate"):
        append_ann_index(spark, bad, ann)
    with pytest.raises(ValueError, match="vector dimension gate"):
        append_ivf_index(spark, bad, ivf)
    assert read_ann_manifest(ann)["rows"] == 20
    assert read_ivf_manifest(ivf)["rows"] == 20


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_deleted_sidecar_reprimes_from_committed_union(spark, tmp_path):
    """Deleting the authority sidecar on an EVOLVED corpus must
    re-prime from the mergeSchema union of every committed footer —
    a one-footer re-prime could pick a pre-evolution file, narrow the
    authority, and silently re-admit the old shape (the reviewed
    narrowing hole)."""
    idx, out = _setup(spark, tmp_path)
    extra = _frame(
        spark,
        [(170, PAGE.format(70), "en", "src0", 100, 2.5)],
        BASE_SCHEMA + ", qscore double",
    )
    m = ingest_batch(
        spark, extra, idx, out, batch_id=11, stream="s",
        schema_policy="evolve",
    )
    assert m["appended"] == 1
    os.remove(_sidecar(out))
    # old narrow shape must STILL be rejected: the re-prime includes
    # qscore from the committed union
    with pytest.raises(RuntimeError, match=r"dropped=\['qscore'\]"):
        ingest_batch(
            spark,
            _frame(spark, [_doc(
                171,
                "the observatory dome rolled open at dusk while the "
                "astronomer checked her charts against the cold sky",
            )]),
            idx, out, batch_id=12, stream="s",
        )
    assert json.load(open(_sidecar(out)))["columns"].get("qscore") == "double"
