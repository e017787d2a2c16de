"""Incremental ingest driver: stored-index verdict parity with the
oracle-checked dedup_incremental query, manifest tiling, and the
append-only index actually protecting later batches (a doc admitted
in batch 1 must convict its duplicates in batch 2)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    _incremental_verdicts,
    dedup_incremental,
)
from irio2024_mapreduce_spark.plans.ingest import (
    build_corpus_index,
    ingest_batch,
)
from irio2024_mapreduce_spark.sources.tables import load_table


def _tiles(m: dict) -> bool:
    return m["batch_in"] == (
        m["exact_dups"]
        + m["near_dups"]
        + m["killed_null_text"]
        + m["killed_too_short"]
        + m["killed_too_repetitive"]
        + m["killed_no_stopwords"]
        + m["contaminated_removed"]
        + m["appended"]
    )


def test_stored_index_verdicts_match_graded_query(spark, sf_dir, tmp_path):
    """The stored-index probe must reproduce dedup_incremental's
    (driver-oracle-checked) verdicts exactly — same core, index via
    parquet round-trip instead of on the fly."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    idx = str(tmp_path / "idx")
    counts = build_corpus_index(spark, corpus, idx)
    assert counts["hashes_rows"] > 0 and counts["postings_rows"] > 0

    stored = {
        r["doc_id"]: r["verdict"]
        for r in _incremental_verdicts(
            batch,
            spark.read.parquet(f"{idx}/hashes"),
            spark.read.parquet(f"{idx}/postings"),
        ).collect()
    }
    fly = {
        r["doc_id"]: r["verdict"]
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    assert stored == fly and len(stored) > 0

    m = ingest_batch(spark, batch, idx, str(tmp_path / "corpus"))
    assert _tiles(m)
    shipped = spark.read.parquet(
        str(tmp_path / "corpus" / "clean_documents.parquet")
    )
    assert shipped.count() == m["appended"]
    # the index grew by the survivors' rows — next batch sees them
    assert spark.read.parquet(f"{idx}/hashes").count() > counts["hashes_rows"]


def test_staged_writes_run_under_the_callers_job_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Job groups are thread-local, and the staged part writes run on a
    thread pool: each must still carry the caller's group, so a tracer
    that reads the group sees every job the batch ran."""
    from pyspark.sql.readwriter import DataFrameWriter

    docs = load_table(spark, sf_dir, "documents")
    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build_corpus_index(spark, docs.filter(F.col("doc_id") % 10 != 9), idx)
    sc, group = spark.sparkContext, "ingest-under-test"
    writes: list[tuple[str, str | None]] = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        writes.append((path, sc.getLocalProperty("spark.jobGroup.id")))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "ingest")
    try:
        ingest_batch(spark, docs.filter(F.col("doc_id") % 10 == 9), idx, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    staged = [p for p, _ in writes
              if os.path.basename(p) in ("hashes", "postings", "stats", "corpus")]
    assert len(staged) == 4, writes
    assert {g for _, g in writes} == {group}, writes
    grouped = set(tracker.getJobIdsForGroup(group))
    assert len(grouped) >= len(writes)
    # no job ran ungrouped; the set may only shrink, as the tracker
    # drops its oldest jobs past spark.ui.retainedJobs
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_second_batch_dedups_against_first(spark, tmp_path):
    """Hand-built two-day ingest: batch 2's exact copy and near-dup
    of a batch-1 admission must be convicted BY THE APPENDED INDEX,
    and the corpus artifact must grow by exactly the fresh docs."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t or "")) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).select(*cols)

    t_corpus0 = (
        "the ancient library kept thousands of scrolls catalogued by "
        "patient scribes over centuries"
    )
    t_corpus1 = (
        "the fishing village woke before dawn as boats slipped quietly "
        "into the grey harbor water"
    )
    t_fresh1 = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit ridge"
    )
    t_near = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit pass"
    )
    t_fresh2 = (
        "the night train rattled past sleeping towns carrying mail "
        "and quiet travellers north"
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(
        spark, frame([(100, t_corpus0), (101, t_corpus1)]), idx
    )

    m1 = ingest_batch(
        spark,
        frame([(200, t_fresh1), (201, t_corpus0), (202, None)]),
        idx,
        out,
    )
    assert _tiles(m1)
    assert m1 == {
        "batch_in": 3,
        "exact_dups": 1,  # 201 == corpus doc 100
        "near_dups": 0,
        "killed_null_text": 1,  # 202
        "killed_too_short": 0,
        "killed_too_repetitive": 0,
        "killed_no_stopwords": 0,
        "contaminated_removed": 0,
        "appended": 1,  # 200
    }

    m2 = ingest_batch(
        spark,
        frame([(300, t_fresh1), (301, t_near), (302, t_fresh2)]),
        idx,
        out,
    )
    assert _tiles(m2)
    assert m2 == {
        "batch_in": 3,
        "exact_dups": 1,  # 300 == yesterday's 200, via appended hashes
        "near_dups": 1,  # 301 ~ 200 (3-gram J = 10/12), via postings
        "killed_null_text": 0,
        "killed_too_short": 0,
        "killed_too_repetitive": 0,
        "killed_no_stopwords": 0,
        "contaminated_removed": 0,
        "appended": 1,  # 302
    }

    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped.collect()} == {200, 302}
    # shipped length column describes the shipped bytes
    assert all(
        r["n_chars"] == len(r["text"]) for r in shipped.collect()
    )


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_second_batch_dedups_against_first_lsh_family(spark, tmp_path):
    """The same two-day scenario under the MinHash/LSH index family:
    batch 2's exact copy is convicted by the shared md5 half, and its
    near-dup by the appended BAND index + true-Jaccard verify (the
    pair's banding is deterministic for the fixed seeded hash
    family — verified by this very assertion)."""
    t_corpus0 = (
        "the ancient library kept thousands of scrolls catalogued by "
        "patient scribes over centuries"
    )
    t_fresh1 = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit ridge"
    )
    t_near = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit pass"
    )
    t_fresh2 = (
        "the night train rattled past sleeping towns carrying mail "
        "and quiet travellers north"
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t or "")) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    counts = build_corpus_index(
        spark, frame([(100, t_corpus0)]), idx, family="lsh"
    )
    assert counts == {
        "hashes_rows": 1,
        "bands_rows": 8,  # LSH_BANDS rows for the one rep
        "rep_shingles_rows": 1,
    }

    m1 = ingest_batch(
        spark,
        frame([(200, t_fresh1), (201, t_corpus0), (202, None)]),
        idx,
        out,
        family="lsh",
    )
    assert _tiles(m1)
    assert (m1["exact_dups"], m1["killed_null_text"], m1["appended"]) == (
        1,
        1,
        1,
    )

    m2 = ingest_batch(
        spark,
        frame([(300, t_fresh1), (301, t_near), (302, t_fresh2)]),
        idx,
        out,
        family="lsh",
    )
    assert _tiles(m2)
    assert (m2["exact_dups"], m2["near_dups"], m2["appended"]) == (1, 1, 1)

    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped.collect()} == {200, 302}


def test_compact_parquet_after_appends(spark, tmp_path):
    """Many-batch appends leave one file set per batch; compaction
    must shrink the file count to the byte-target ceiling with the
    dataset's contents bit-identical before and after."""
    from irio2024_mapreduce_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "grown.parquet")
    for k in range(6):
        spark.range(k * 100, (k + 1) * 100).selectExpr(
            "id", "id * 2 as v"
        ).write.mode("append").parquet(path)

    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    assert after == before
    assert stats["files_before"] >= 6
    assert stats["files_after"] == 1  # 600 tiny rows « 1 GiB target
    # no leftover temp/old dirs
    import os

    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_corpus_stats_merge_without_rescan(spark, sf_dir, tmp_path):
    """Per-batch HLL stats rows must merge to corpus-wide numbers
    matching an exact rescan: counters exactly, distinct estimates
    within the sketch's error bound — and the merge must read ONLY
    the KB-sized stats rows, never the corpus."""
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    # two disjoint batch halves ingested separately
    b1 = docs.filter((F.col("doc_id") % 10 == 9) & (F.col("doc_id") < 250))
    b2 = docs.filter((F.col("doc_id") % 10 == 9) & (F.col("doc_id") >= 250))
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, corpus, idx)
    m1 = ingest_batch(spark, b1, idx, out)
    m2 = ingest_batch(spark, b2, idx, out)

    got = corpus_stats(spark, idx)
    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    # corpus-wide = the pre-existing corpus build_corpus_index indexed
    # (its docs convict future dups, so they ARE part of the logical
    # corpus — the build writes their stats row) PLUS the appended
    # batches; `out` holds only the latter
    assert shipped.count() == m1["appended"] + m2["appended"]
    logical = corpus.filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    ).unionByName(shipped.select("doc_id", "text"))
    exact_docs = logical.count()
    assert got["docs"] == exact_docs
    exact_tokens = logical.agg(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    assert got["tokens"] == exact_tokens
    exact_texts = logical.select("text").distinct().count()
    exact_toks = (
        logical.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
        .count()
    )
    # HLL default accuracy is ~2-3% at these cardinalities; 10% bound
    # keeps the assertion meaningful without flaking
    assert abs(got["approx_distinct_texts"] - exact_texts) <= max(
        2, exact_texts // 10
    )
    assert abs(got["approx_distinct_tokens"] - exact_toks) <= max(
        2, exact_toks // 10
    )


def test_compact_parquet_partitioned_dataset(spark, tmp_path):
    """Hive-partitioned compaction: refused without partition_by
    (flattening would lose pruning), and with it the layout + rows
    survive intact."""
    import os

    import pytest

    from irio2024_mapreduce_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "part.parquet")
    for k in range(4):
        spark.range(k * 50, (k + 1) * 50).selectExpr(
            "id", "cast(id % 3 as string) as grp"
        ).write.mode("append").partitionBy("grp").parquet(path)

    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path)

    before = sorted(
        (r["id"], r["grp"]) for r in spark.read.parquet(path).collect()
    )
    stats = compact_parquet(
        spark, path, target_file_bytes=1 << 30, partition_by=["grp"]
    )
    after = sorted(
        (r["id"], r["grp"]) for r in spark.read.parquet(path).collect()
    )
    assert after == before
    assert stats["files_after"] < stats["files_before"]
    # layout preserved: one dir per grp value
    assert sorted(
        d for d in os.listdir(path) if d.startswith("grp=")
    ) == ["grp=0", "grp=1", "grp=2"]


def test_intra_batch_near_dups_are_killed(spark, tmp_path):
    """Two near-dup docs co-arriving in ONE batch (neither matching
    the corpus) must not both ship: the intra-batch pass kills the
    larger doc_id, charged to near_dups."""
    t_corpus = (
        "the ancient library kept thousands of scrolls catalogued by "
        "patient scribes over centuries"
    )
    t_a = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit ridge"
    )
    t_b = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit pass"
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t or "")) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, frame([(100, t_corpus)]), idx)
    m = ingest_batch(spark, frame([(200, t_a), (201, t_b)]), idx, out)
    assert _tiles(m)
    assert m["near_dups"] == 1 and m["appended"] == 1
    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped.collect()} == {200}


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_reingest_same_batch_is_idempotent_for_the_corpus(
    spark, tmp_path
):
    """Crash-retry story: re-ingesting an already-ingested batch must
    append NOTHING (every doc self-convicts via the hashes that
    landed), so the corpus can never gain duplicates from an
    at-least-once redelivery."""
    t_corpus = (
        "the ancient library kept thousands of scrolls catalogued by "
        "patient scribes over centuries"
    )
    t_new = (
        "the mountain trail crossed seven wooden bridges before "
        "reaching the snowy summit ridge"
    )

    def frame(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t or "")) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    build_corpus_index(spark, frame([(100, t_corpus)]), idx)
    batch = frame([(200, t_new)])
    m1 = ingest_batch(spark, batch, idx, out)
    assert m1["appended"] == 1
    m2 = ingest_batch(spark, batch, idx, out)
    assert m2["appended"] == 0 and m2["exact_dups"] == 1
    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert shipped.count() == 1


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_seed_rerun_does_not_double_count_stats(spark, sf_dir, tmp_path):
    """Re-running the one-shot build with the same index_dir must
    REPLACE the seeded index (including the stats row) — an appended
    stats row would silently double corpus_stats on every retry."""
    from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    idx = str(tmp_path / "idx")
    m1 = prepare_corpus(spark, sf_dir, str(tmp_path / "o1"), index_dir=idx)
    s1 = corpus_stats(spark, idx)
    prepare_corpus(spark, sf_dir, str(tmp_path / "o2"), index_dir=idx)
    s2 = corpus_stats(spark, idx)
    assert s1 == s2
    assert s1["docs"] == m1["docs_out"]
