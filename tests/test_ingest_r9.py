"""Round-9 ingest hardening: the self-describing index manifest
(family/constants validated instead of trusted), the stored
decontamination half (ingested batches keep the one-shot pipeline's
eval-set guarantee), exactly-once manifest recording keyed by
batch_id (the commit marker holds the manifest), and the probe-time
re-cap that restores the posting-cap
invariant on an append-grown stored index."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    NGRAM_POSTING_CAP,
    _incremental_verdicts,
    corpus_index_hashes,
    corpus_index_postings,
)
from irio2024_mapreduce_spark.plans.ingest import (
    INDEX_MANIFEST_NAME,
    build_corpus_index,
    ingest_batch,
    read_index_manifest,
    read_recorded_manifest,
    validate_index,
)


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t or "")) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


T_CORPUS = (
    "the ancient library kept thousands of scrolls catalogued by "
    "patient scribes over centuries"
)
T_FRESH = (
    "the mountain trail crossed seven wooden bridges before "
    "reaching the snowy summit ridge"
)


# ------------------------------------------------------------- manifest
def test_index_is_self_describing(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    m = read_index_manifest(idx)
    assert m["family"] == "ngram"
    assert m["ngram_posting_cap"] == NGRAM_POSTING_CAP
    assert m["decontaminate"] is False
    # matching open succeeds and returns the manifest
    assert validate_index(idx, "ngram")["family"] == "ngram"


def test_family_mismatch_raises_clearly(spark, tmp_path):
    """A build-ngram / probe-lsh confusion used to surface only as a
    missing-path read error deep inside Spark; now the manifest
    convicts it at the door."""
    idx = str(tmp_path / "idx")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    with pytest.raises(ValueError, match="family"):
        ingest_batch(
            spark,
            _frame(spark, [(2, T_FRESH)]),
            idx,
            str(tmp_path / "corpus"),
            family="lsh",
        )


def test_missing_manifest_raises_clearly(spark, tmp_path):
    idx = str(tmp_path / "legacy")
    corpus_index_hashes(_frame(spark, [(1, T_CORPUS)])).write.parquet(
        f"{idx}/hashes"
    )
    with pytest.raises(ValueError, match=INDEX_MANIFEST_NAME):
        validate_index(idx, "ngram")


# ----------------------------------------------------- decontamination
def test_ingest_decontaminates_against_stored_benchmark(spark, tmp_path):
    """ADVICE r8: a batch appended after the one-shot build must not
    reintroduce eval-set 13-grams. The benchmark digest set is stored
    beside the index at build time and every batch probes it."""
    bench_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron"
    )
    # first 13 benchmark tokens verbatim, then a fresh tail with a
    # stopword so the funnel passes — contaminated by construction
    contaminated = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu under the winter moon"
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(
        spark,
        _frame(spark, [(1, T_CORPUS)]),
        idx,
        benchmark=_frame(spark, [(900, bench_text)]),
    )
    assert read_index_manifest(idx)["decontaminate"] is True

    m = ingest_batch(
        spark,
        _frame(spark, [(10, contaminated), (11, T_FRESH)]),
        idx,
        out,
    )
    assert m["contaminated_removed"] == 1
    assert m["appended"] == 1
    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped.collect()} == {11}


def test_ingest_without_benchmark_skips_decontamination(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    m = ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, str(tmp_path / "c")
    )
    assert m["contaminated_removed"] == 0 and m["appended"] == 1


# ------------------------------------------------------- exactly-once
def test_batch_id_makes_manifest_exactly_once(spark, tmp_path):
    """A replayed batch_id (the at-least-once foreachBatch redelivery)
    short-circuits: the recorded manifest comes back, and neither the
    corpus, the stats rows, nor the commit markers grow. The replay
    check reads the marker alone, so it needs no SparkSession."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)

    m1 = ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out, batch_id=0
    )
    assert m1["appended"] == 1
    corpus_rows = spark.read.parquet(f"{out}/clean_documents.parquet").count()
    stats_rows = spark.read.parquet(f"{idx}/stats").count()

    # replay the SAME batch id — the commit marker (written last)
    # proves every append landed, so nothing re-runs
    m2 = ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out, batch_id=0
    )
    assert m2 == m1
    assert (
        spark.read.parquet(f"{out}/clean_documents.parquet").count()
        == corpus_rows
    )
    assert spark.read.parquet(f"{idx}/stats").count() == stats_rows
    assert len(os.listdir(f"{idx}/_commit_markers")) == 1
    assert read_recorded_manifest(spark, idx, 0) == m1
    assert read_recorded_manifest(None, idx, 0) == m1
    # an unseen id is a real new batch
    assert read_recorded_manifest(None, idx, 1) is None


def test_older_format_index_and_marker_are_refused(spark, tmp_path):
    """A marker that holds no manifest (the empty markers of format 3)
    raises the rebuild error instead of reading as 'never committed',
    which would re-run the batch; a format-3 index manifest is refused
    by the same error on ingest."""
    import json

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out,
        batch_id=0, stream="s",
    )
    (marker,) = os.listdir(f"{idx}/_commit_markers")
    with open(f"{idx}/_commit_markers/{marker}", "w") as f:
        f.write("committed\n")
    with pytest.raises(ValueError, match="rebuild the index"):
        read_recorded_manifest(None, idx, 0, stream="s")

    path = os.path.join(idx, INDEX_MANIFEST_NAME)
    with open(path) as f:
        manifest = json.load(f)
    with open(path, "w") as f:
        json.dump({**manifest, "version": 3}, f)
    with pytest.raises(ValueError, match="rebuild the index"):
        ingest_batch(
            spark, _frame(spark, [(11, T_CORPUS)]), idx, out,
            batch_id=1, stream="s",
        )


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_crash_before_manifest_replays_safely(spark, tmp_path):
    """A crash AFTER the data appends but BEFORE the manifest write
    (simulated by recording no manifest: batch_id=None) re-runs the
    batch; the docs self-convict via the already-landed hashes, so
    the corpus gains nothing and the re-run's manifest charges them
    to exact_dups."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    batch = _frame(spark, [(10, T_FRESH)])
    m1 = ingest_batch(spark, batch, idx, out)  # "crashed" pre-manifest
    assert m1["appended"] == 1
    m2 = ingest_batch(spark, batch, idx, out, batch_id=7)  # the replay
    assert m2["exact_dups"] == 1 and m2["appended"] == 0
    assert (
        spark.read.parquet(f"{out}/clean_documents.parquet").count() == 1
    )
    assert read_recorded_manifest(spark, idx, 7) == m2


# ------------------------------------------------- stored-index re-cap
def test_append_grown_hot_bucket_is_recapped_at_probe(spark, tmp_path):
    """ADVICE r8: per-append capping lets a hot (len_band, shingle)
    bucket in the STORED posting index outgrow NGRAM_POSTING_CAP
    across daily appends. The probe re-caps batch-touched buckets, so
    an over-grown bucket stops generating candidates — exactly what a
    fresh full rebuild would do."""

    def half(start, n):
        # n distinct 4-token docs all sharing the shingle "x y z"
        return _frame(
            spark, [(start + i, f"x y z u{start + i}") for i in range(n)]
        )

    over = NGRAM_POSTING_CAP // 2 + 10  # two appends → cap + 20
    under = NGRAM_POSTING_CAP // 2 - 10  # two appends → cap - 20

    for name, per_half, want in (
        ("hot", over, "admitted"),
        ("warm", under, "near_dup"),
    ):
        pp = str(tmp_path / name / "postings")
        hp = str(tmp_path / name / "hashes")
        h1, h2 = half(0, per_half), half(10_000, per_half)
        for h in (h1, h2):
            corpus_index_postings(h).write.mode("append").parquet(pp)
            corpus_index_hashes(h).write.mode("append").parquet(hp)
        # batch doc "x y z": one shingle, Jaccard 1/2 vs every corpus
        # doc — a near-dup IFF the shared bucket is still admitted
        batch = _frame(spark, [(50_000, "x y z")])
        verdicts = {
            r["doc_id"]: r["verdict"]
            for r in _incremental_verdicts(
                batch,
                spark.read.parquet(hp),
                spark.read.parquet(pp),
            ).collect()
        }
        assert verdicts == {50_000: want}, name


# --------------------------------------------------- index compaction
@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_compact_index_rebuild_semantics_and_dedupe(spark, tmp_path):
    """compact_corpus_index physically applies what the probe-time
    re-cap emulates: after compaction an append-grown hot bucket is
    GONE (a probe with recap_stored=False returns the recapped
    verdicts), crash-replay duplicate hash/posting rows collapse, and
    per-batch file sets collapse toward the byte target."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _incremental_verdicts as verdicts_fn,
    )
    from irio2024_mapreduce_spark.plans.ingest import compact_corpus_index

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    over = NGRAM_POSTING_CAP // 2 + 10

    def half(start):
        return _frame(
            spark, [(start + i, f"x y z u{start + i}") for i in range(over)]
        )

    build_corpus_index(spark, half(0), idx)
    # a real batch so the stats part holds a batch row
    ingest_batch(spark, _frame(spark, [(5_000, T_FRESH)]), idx, out,
                 batch_id=1)
    # grow the (len_band, "x y z") bucket past the cap across appends,
    # the second a crash-replay (same index rows land twice)
    for _ in range(2):
        corpus_index_hashes(half(10_000)).write.mode("append").parquet(
            f"{idx}/hashes"
        )
        corpus_index_postings(half(10_000)).write.mode("append").parquet(
            f"{idx}/postings"
        )

    probe = _frame(spark, [(50_000, "x y z")])

    def run(recap):
        return {
            r["doc_id"]: r["verdict"]
            for r in verdicts_fn(
                probe,
                spark.read.parquet(f"{idx}/hashes"),
                spark.read.parquet(f"{idx}/postings"),
                recap_stored=recap,
            ).collect()
        }

    assert run(True) == {50_000: "admitted"}  # guard sees the hot bucket
    rep = compact_corpus_index(spark, idx)
    # physical rebuild semantics: no guard needed post-compaction
    assert run(False) == {50_000: "admitted"}
    # replay dups collapsed; the hot bucket physically removed
    h = rep["hashes"]
    assert h["rows_after"] < h["rows_before"]
    p = rep["postings"]
    assert p["rows_after"] < p["rows_before"]
    hot = (
        spark.read.parquet(f"{idx}/postings")
        .filter(F.col("sh") == "x y z")
        .count()
    )
    assert hot == 0
    assert rep["stats"]["rows_after"] == rep["stats"]["rows_before"]
    assert all(
        r["files_after"] <= r["files_before"] for r in rep.values()
    )
    # the index still admits tomorrow's batch (end-to-end still works)
    m = ingest_batch(
        spark,
        _frame(
            spark,
            [(60_000, "the quiet harbor sheltered a dozen fishing "
                      "boats from the advancing winter storm")],
        ),
        idx,
        out,
    )
    assert m["appended"] == 1


def test_compact_index_excludes_ingest_and_recovers(spark, tmp_path):
    """The advisory lock makes a concurrent ingest fail loudly, and a
    crash between compaction's two renames (old exists, live dir
    missing) is restored on the next pass."""
    import os

    from irio2024_mapreduce_spark.plans.ingest import compact_corpus_index
    from irio2024_mapreduce_spark.sources.sinks import (
        acquire_compaction_lock,
        check_not_compacting,
        compaction_lock_path,
        release_compaction_lock,
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)

    lock = acquire_compaction_lock(idx)
    with pytest.raises(RuntimeError, match="compact"):
        ingest_batch(spark, _frame(spark, [(10, T_FRESH)]), idx, out)
    release_compaction_lock(lock)
    check_not_compacting(idx)  # released with the fd

    # crash signature: hashes renamed away, swap never completed
    os.rename(f"{idx}/hashes", f"{idx}/hashes._compact_old")
    rep = compact_corpus_index(spark, idx)
    assert rep["hashes"]["rows_after"] == 1
    m = ingest_batch(spark, _frame(spark, [(10, T_CORPUS)]), idx, out)
    assert m["exact_dups"] == 1  # recovered hashes still convict


def test_ingest_appends_into_split_partitioned_corpus(spark, tmp_path):
    """A corpus built with prepare_corpus(holdout_split=True) is
    hive-partitioned by split; a batch appended later must land
    PARTITIONED (a flat append would break partition discovery for
    every future reader) and in the same content-addressed split the
    one-shot build would have assigned."""
    import os

    from irio2024_mapreduce_spark.operators.llm_prep import split_docs

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    clean = os.path.join(out, "clean_documents.parquet")

    # seed: a split-partitioned corpus (what holdout_split writes)
    os.makedirs(out)
    split_docs(_frame(spark, [(1, T_CORPUS)])).write.partitionBy(
        "split"
    ).parquet(clean)
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)

    # the hand-seeded corpus lacks the scrubber's n_redactions column,
    # so this append is an additive evolution — the r14 schema gate
    # rejects it under the default strict policy (by design: silent
    # additive drift is what it exists to stop) and admits it under
    # evolve, which is exactly the semantics an externally-seeded
    # minimal corpus wants
    m = ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out,
        schema_policy="evolve",
    )
    assert m["appended"] == 1

    # mixed-layout would make this read raise; it must succeed and
    # carry both docs with their content-addressed split tags
    shipped = spark.read.parquet(clean)
    rows = {r["doc_id"]: r["split"] for r in shipped.collect()}
    assert set(rows) == {1, 10}
    expected = {
        r["doc_id"]: r["split"]
        for r in split_docs(
            _frame(spark, [(1, T_CORPUS), (10, T_FRESH)])
        ).collect()
    }
    assert rows == expected
    # no flat files at the corpus root — only split= dirs + markers
    stray = [
        f
        for f in os.listdir(clean)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(clean, f))
    ]
    assert stray == []


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_compaction_preserves_exactly_once_markers(spark, tmp_path):
    """compact_corpus_index swaps the index parts wholesale; the commit
    markers live OUTSIDE every swapped part, so a crash-redelivered
    (stream, batch_id) still short-circuits after maintenance."""
    from irio2024_mapreduce_spark.plans.ingest import (
        compact_corpus_index,
        read_recorded_manifest,
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    m = ingest_batch(
        spark,
        _frame(spark, [(10, T_FRESH)]),
        idx,
        out,
        batch_id=0,
        stream="s1",
    )
    assert m["appended"] == 1
    markers = os.listdir(os.path.join(idx, "_commit_markers"))

    compact_corpus_index(spark, idx)
    assert read_recorded_manifest(spark, idx, 0, stream="s1") == m
    hashes = spark.read.parquet(f"{idx}/hashes").count()
    replay = ingest_batch(
        spark,
        _frame(spark, [(10, T_FRESH)]),
        idx,
        out,
        batch_id=0,
        stream="s1",
    )
    assert replay == m
    assert spark.read.parquet(f"{idx}/hashes").count() == hashes
    assert os.listdir(os.path.join(idx, "_commit_markers")) == markers


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_crashed_stats_swap_recovers_before_any_access(spark, tmp_path):
    """A compaction hard-killed between its two stats renames leaves
    the rows at stats._compact_old. Every stats access (census read,
    new batch row) must RESTORE that snapshot first — appending beside
    it would split-brain the census (readers prefer the near-empty
    live dir; the next compaction deletes the snapshot as post-swap
    garbage)."""
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    stats, old = os.path.join(idx, "stats"), os.path.join(
        idx, "stats._compact_old"
    )
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out,
        batch_id=0, stream="s1",
    )
    census = corpus_stats(spark, idx)
    # simulate the crash: live dir renamed away, swap never finished
    os.rename(stats, old)

    # a census read recovers and still counts every row
    assert corpus_stats(spark, idx) == census
    assert os.path.isdir(stats) and not os.path.exists(old)

    # crash again, then commit a NEW batch: its row lands in the
    # RESTORED dir — both batches' rows count afterwards
    os.rename(stats, old)
    m1 = ingest_batch(
        spark,
        _frame(spark, [(11, "a calm harbor town kept its lanterns lit while the tide slowly turned under the old stone pier")]),
        idx,
        out,
        batch_id=1, stream="s1",
    )
    assert m1["appended"] == 1
    assert corpus_stats(spark, idx)["docs"] == census["docs"] + 1


def test_crashed_swap_with_stale_lock_still_recovers(spark, tmp_path):
    """The motivating crash leaves BOTH the ._compact_old snapshot and
    the dead holder's lock (SIGKILL skips the finally). Recovery must
    reap the stale lock and restore the snapshot instead of raising
    'being compacted' forever."""
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats
    from irio2024_mapreduce_spark.sources.sinks import (
        check_not_compacting,
        compaction_lock_path,
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, _frame(spark, [(1, T_CORPUS)]), idx)
    ingest_batch(
        spark, _frame(spark, [(10, T_FRESH)]), idx, out,
        batch_id=0, stream="s1",
    )
    census = corpus_stats(spark, idx)
    os.rename(
        os.path.join(idx, "stats"),
        os.path.join(idx, "stats._compact_old"),
    )
    with open(compaction_lock_path(idx), "w") as f:
        f.write("999999999")  # dead holder

    assert corpus_stats(spark, idx) == census
    assert os.path.isdir(os.path.join(idx, "stats"))
    check_not_compacting(idx)  # the leftover file blocks nobody
