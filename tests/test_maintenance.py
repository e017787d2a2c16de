"""maintain_corpus_index (r10 verdict item 4): ONE call restores
every invariant on a corpus aged by synthetic batches — and each
sub-pass is SKIPPED (with its measured signal in the report) when its
threshold isn't tripped, so a scheduled call on an idle corpus costs
only the probes. Idempotence: a second call right after finds nothing
tripped."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.ann_index import (
    append_ann_index,
    build_ann_index,
    probe_ann_index,
    read_ann_manifest,
)
from irio2024_mapreduce_spark.operators.ivf_index import (
    build_ivf_index,
    read_ivf_manifest,
)
from irio2024_mapreduce_spark.operators.similarity import EMB_DIM
from irio2024_mapreduce_spark.plans.ingest import (
    build_corpus_index,
    ingest_batch,
)
from irio2024_mapreduce_spark.plans.maintenance import (
    maintain_corpus_index,
)

WORDS = (
    "river stone bridge meadow lantern harbor forest signal copper "
    "window letter march quiet garden motor saddle timber anchor"
).split()


def _text(seed: int) -> str:
    # funnel-surviving and dedup-distinct by construction: ≥10 tokens,
    # stopwords present, numbered tokens keep repetition ratio low and
    # shingle overlap between docs negligible
    rng = random.Random(seed)
    body = " ".join(
        f"{rng.choice(WORDS)}{rng.randint(0, 999)}" for _ in range(28)
    )
    return "the quick note and " + body


def _docs(spark, ids):
    rows = [(i, _text(i)) for i in ids]
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


def _vec(seed: int) -> list[float]:
    rng = random.Random(seed)
    return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


def _emb(spark, ids):
    return spark.createDataFrame(
        [(int(i), _vec(i)) for i in ids], "vec_id long, v array<double>"
    )


@pytest.fixture(scope="module")
def aged(spark, tmp_path_factory):
    """A corpus aged by 4 ingest batches: fragmented index parts and
    corpus file sets, stored ANN/IVF indexes kept fresh per batch."""
    root = tmp_path_factory.mktemp("maint")
    idx, out = str(root / "idx"), str(root / "corpus")
    ann, ivf = str(root / "ann"), str(root / "ivf")
    seed_ids = list(range(100, 104))
    build_corpus_index(spark, _docs(spark, seed_ids), idx)
    build_ann_index(spark, _emb(spark, seed_ids), ann)
    # k at the sizing rule's floor (target_cells clamps to
    # IVF_CENTROIDS=8), so fixture-scale growth stays within the 2x
    # drift hysteresis and the pass is legitimately skippable
    build_ivf_index(spark, _emb(spark, seed_ids), ivf, k_cells=8)
    for b in range(4):
        ids = list(range(200 + b * 10, 200 + b * 10 + 4))
        m = ingest_batch(
            spark, _docs(spark, ids), idx, out,
            batch_id=b, stream="s",
            batch_emb=_emb(spark, ids),
            ann_index_dir=ann, ivf_index_dir=ivf,
        )
        assert m["appended"] == len(ids)  # all synthetic docs admit
    return idx, out, ann, ivf


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_one_call_restores_and_second_skips(spark, aged):
    idx, out, ann, ivf = aged
    corpus = os.path.join(out, "clean_documents.parquet")
    ann_before = sorted(
        tuple(r)
        for r in probe_ann_index(
            spark, _emb(spark, [0]), ann
        ).collect()
    )
    # aggressive thresholds so the aged fixture trips the compactions
    report = maintain_corpus_index(
        spark,
        index_dir=idx,
        corpus_path=corpus,
        ann_index_dir=ann,
        ivf_index_dir=ivf,
        max_files_per_part=2,
        frag_ratio=1.5,
    )
    assert report["index_compaction"]["ran"]
    assert report["corpus_compaction"]["ran"]
    # the stored-index thresholds reflect SIZE drift, which 16 docs
    # have not produced: both skipped, each with the measured signal
    assert not report["ann_resize"]["ran"], report["ann_resize"]
    assert "rows" in report["ann_resize"]["reason"]
    assert not report["ivf_rebuild"]["ran"], report["ivf_rebuild"]

    # invariants restored: compacted parts answer identically
    assert sorted(
        tuple(r)
        for r in probe_ann_index(spark, _emb(spark, [0]), ann).collect()
    ) == ann_before
    docs = spark.read.parquet(corpus)
    assert docs.select("doc_id").distinct().count() == docs.count()

    # idempotent: nothing tripped on the immediate re-run
    report2 = maintain_corpus_index(
        spark,
        index_dir=idx,
        corpus_path=corpus,
        ann_index_dir=ann,
        ivf_index_dir=ivf,
        max_files_per_part=2,
        frag_ratio=1.5,
    )
    assert not report2["index_compaction"]["ran"]
    assert not report2["corpus_compaction"]["ran"]
    assert not report2["ann_resize"]["ran"]
    assert not report2["ivf_rebuild"]["ran"]


def test_ann_duplicate_appends_trip_the_resize_pass(spark, tmp_path):
    """A crash-replayed roll-forward can duplicate index rows; the
    physical-vs-manifest count mismatch trips the ANN pass, whose
    rewrite IS the dedup compaction."""
    ann = str(tmp_path / "ann")
    ids = list(range(100, 120))
    build_ann_index(spark, _emb(spark, ids), ann)
    # simulate the duplicate: a raw re-append of the same vectors
    append_ann_index(spark, _emb(spark, ids), ann)
    m = read_ann_manifest(ann)
    # make the manifest reflect the TRUE unique count the way the
    # ingest bump does (rows were counted once) — physical now 2x
    import json

    with open(os.path.join(ann, "_ann_manifest.json"), "w") as f:
        json.dump({**m, "rows": len(ids)}, f)

    report = maintain_corpus_index(spark, ann_index_dir=ann)
    assert report["ann_resize"]["ran"]
    assert "dups" in report["ann_resize"]["reason"]
    m2 = read_ann_manifest(ann)
    data = os.path.join(ann, m2["data"])
    physical = (
        spark.read.parquet(data).filter(F.col("tbl") == 0).count()
    )
    assert physical == len(ids) and m2["rows"] == len(ids)
    # second call: nothing tripped
    report2 = maintain_corpus_index(spark, ann_index_dir=ann)
    assert not report2["ann_resize"]["ran"]


def test_ivf_growth_trips_the_rebuild_pass(spark, tmp_path):
    """k ≈ √rows drift ≥ 2× trips the re-train; a fresh index with
    matching k is skipped."""
    from irio2024_mapreduce_spark.operators.ivf_index import (
        append_ivf_index,
    )

    ivf = str(tmp_path / "ivf")
    build_ivf_index(spark, _emb(spark, range(100, 116)), ivf, k_cells=2)
    # 16 → 256 rows: target k = sqrt(256) = 16 vs stored 2 → drift 8x
    append_ivf_index(spark, _emb(spark, range(200, 440)), ivf)
    report = maintain_corpus_index(spark, ivf_index_dir=ivf)
    assert report["ivf_rebuild"]["ran"]
    assert read_ivf_manifest(ivf)["k_cells"] > 2
    report2 = maintain_corpus_index(spark, ivf_index_dir=ivf)
    assert not report2["ivf_rebuild"]["ran"], report2["ivf_rebuild"]


def test_ivf_duplicates_trip_rebuild_and_compact(spark, tmp_path):
    """ADVICE r11 (low): crash-replay duplicate rows must be
    PHYSICALLY compacted even when k is unchanged — the footer-level
    physical-vs-manifest mismatch trips the pass, and the same-k
    rebuild rewrites instead of just refreshing the manifest."""
    import json

    from irio2024_mapreduce_spark.operators.ivf_index import (
        append_ivf_index,
        footer_cell_counts,
    )

    ivf = str(tmp_path / "ivf")
    ids = list(range(100, 120))
    build_ivf_index(spark, _emb(spark, ids), ivf, k_cells=8)
    # simulate the crash-replayed roll-forward: same vectors appended
    # twice while the advisory count reflects the true unique count
    append_ivf_index(spark, _emb(spark, ids), ivf)
    m = read_ivf_manifest(ivf)
    with open(os.path.join(ivf, "_ivf_manifest.json"), "w") as f:
        json.dump({**m, "rows": len(ids)}, f)

    report = maintain_corpus_index(spark, ivf_index_dir=ivf)
    r = report["ivf_rebuild"]
    assert r["ran"] and "physical" in r["reason"], r
    assert r["rebuilt"] and r["dups_removed"] == len(ids), r
    m2 = read_ivf_manifest(ivf)
    data = os.path.join(ivf, f"cells_v{m2['data_version']}")
    assert sum(footer_cell_counts(data).values()) == len(ids)
    assert m2["rows"] == len(ids)
    report2 = maintain_corpus_index(spark, ivf_index_dir=ivf)
    assert not report2["ivf_rebuild"]["ran"], report2["ivf_rebuild"]


@pytest.mark.parametrize("kind", ["ann", "ivf"])
def test_uncommitted_delta_does_not_trip_maintenance(
    spark, tmp_path, monkeypatch, kind
):
    """A delta publish that placed its files and crashed before its
    commit sidecar is not part of the index: the default pass over 500
    committed vectors plus 100 such uncommitted ones must not count
    them as physical rows, so it trips nothing and rewrites nothing."""
    import irio2024_mapreduce_spark.sources.sinks as sinks_mod
    from irio2024_mapreduce_spark.operators import stored_index as si
    from irio2024_mapreduce_spark.sources.sinks import (
        FILELIST_NAME,
        publish_delta_marker,
    )

    fam = si.family(kind)
    idx = str(tmp_path / kind)
    build = build_ann_index if kind == "ann" else build_ivf_index
    build(spark, _emb(spark, range(500)), idx)
    m = si.read_manifest(fam, idx)
    staged = str(tmp_path / "staged")
    si.stage_delta(
        fam, spark, _emb(spark, range(1000, 1100)), idx, m, staged, 1
    )
    real_awf = sinks_mod.atomic_write_file

    def crash_on_marker(path, content):
        if os.path.basename(path) == FILELIST_NAME:
            raise RuntimeError("injected crash before commit marker")
        return real_awf(path, content)

    monkeypatch.setattr(sinks_mod, "atomic_write_file", crash_on_marker)
    target = os.path.join(si.deltas_root(idx, m["data"]), "b=crashed.1")
    with pytest.raises(RuntimeError, match="injected crash"):
        publish_delta_marker(staged, target)
    monkeypatch.setattr(sinks_mod, "atomic_write_file", real_awf)
    assert os.listdir(target)  # the files are placed

    report = maintain_corpus_index(spark, **{f"{kind}_index_dir": idx})
    r = report["ann_resize" if kind == "ann" else "ivf_rebuild"]
    assert not r["ran"], r
    assert si.read_manifest(fam, idx)["data_version"] == m["data_version"]


def test_ivf_hot_cells_force_retrain_and_restore_recall(spark, tmp_path):
    """Planted drift (r11 verdict item 2): appends pile into hot cells
    while k stays within the 2x hysteresis — the footer-only imbalance
    signal (p99/mean vs the trained baseline) trips a FORCED same-k
    re-train, which rebalances the cells and restores measured
    nprobe=1 recall. An idle index right after never re-trips (the
    rebuild recorded its own imbalance as the new baseline)."""
    from irio2024_mapreduce_spark.operators.ivf_index import (
        append_ivf_index,
        footer_cell_counts,
        measure_ivf_recall,
    )

    def _cluster_vec(axis: int, seed: int) -> list[float]:
        rng = random.Random(seed)
        v = [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]
        v[axis] += 10.0
        return v

    def _mid_vec(sub: int, seed: int) -> list[float]:
        # four TIGHT sub-clusters around the axis-0/1 midpoint,
        # separated along dims 10..13: the stored centroids see them
        # all at cos ≈ 0.707 to cells 0 and 1 (noise decides the
        # side), so each sub-cluster's members SPLIT across two hot
        # cells — a re-train snaps cell boundaries to the gaps
        # between sub-clusters, reuniting every neighborhood
        rng = random.Random(seed)
        v = [rng.uniform(-0.3, 0.3) for _ in range(EMB_DIM)]
        v[0] += 7.07
        v[1] += 7.07
        v[10 + sub] += 3.0
        return v

    ivf = str(tmp_path / "ivf")
    base = [
        (a * 100 + i, _cluster_vec(a, a * 100 + i))
        for a in range(8)
        for i in range(16)
    ]
    emb0 = spark.createDataFrame(
        base, "vec_id long, v array<double>"
    )
    # 8 well-separated clusters, k=8: a balanced trained index
    build_ivf_index(spark, emb0, ivf, k_cells=8)

    # planted drift: a NEW region at the midpoint of axes 0/1 — the
    # stored centroids split it across the two old cells (cos ≈ 0.707
    # to both), so the region's members land in hot cells and their
    # nprobe=1 probes miss the half assigned to the other side.
    # 100 appends keep k drift under 2x: target_cells(228) = 15 < 16.
    mid = [
        (1000 + i, _mid_vec(i % 4, 1000 + i)) for i in range(100)
    ]
    append_ivf_index(
        spark,
        spark.createDataFrame(mid, "vec_id long, v array<double>"),
        ivf,
    )
    before = measure_ivf_recall(spark, ivf, sample_n=24, k=5, nprobe=1)

    report = maintain_corpus_index(
        spark, ivf_index_dir=ivf,
        imbalance_ratio=2.0, imbalance_min_rows=50,
    )
    r = report["ivf_rebuild"]
    assert r["ran"] and "hot cells" in r["reason"], r
    assert r["rebuilt"], r

    after = measure_ivf_recall(spark, ivf, sample_n=24, k=5, nprobe=1)
    assert after["recall"] > before["recall"], (before, after)

    # the hot cells are gone: p99/mean shrank vs the drifted state
    m2 = read_ivf_manifest(ivf)
    counts = sorted(
        footer_cell_counts(
            os.path.join(ivf, f"cells_v{m2['data_version']}")
        ).values()
    )
    mean = sum(counts) / len(counts)
    assert counts[-1] <= 2.0 * mean, counts

    # idle right after: the rebuild's own imbalance is the baseline
    report2 = maintain_corpus_index(
        spark, ivf_index_dir=ivf,
        imbalance_ratio=2.0, imbalance_min_rows=50,
    )
    assert not report2["ivf_rebuild"]["ran"], report2["ivf_rebuild"]


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_deep_reconcile_removes_late_duplicates_and_corrects_census(
    spark, tmp_path
):
    """The r12 4-stream chaos soak's finding: two concurrent
    same-text ingests can BOTH admit (verdicts are lock-free;
    publication serializes) — optimistic multi-writer ingest. The
    deep reconciliation pass removes the late copy (earliest doc_id
    wins, ingest's rule), subtracts exactly that copy from the
    census, is idempotent, and never runs without deep=True."""
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build_corpus_index(spark, _docs(spark, range(100, 104)), idx)
    m = ingest_batch(
        spark, _docs(spark, [200, 201]), idx, out,
        batch_id=0, stream="s",
    )
    assert m["appended"] == 2
    corpus = os.path.join(out, "clean_documents.parquet")
    census_before = corpus_stats(spark, idx)
    art = spark.read.parquet(corpus)
    # simulate the lost race: the same text under a LATER doc_id,
    # already in the corpus AND already counted by a stats row — the
    # exact state two racing ingests leave behind
    dup = art.filter("doc_id = 200").withColumn(
        "doc_id", F.lit(9000).cast("long")
    )
    dup.write.mode("append").parquet(corpus)
    from irio2024_mapreduce_spark.plans.ingest import _stats_row_df

    _stats_row_df(dup).write.mode("append").parquet(
        os.path.join(idx, "stats")
    )
    assert corpus_stats(spark, idx)["docs"] == census_before["docs"] + 1

    # non-deep: the content scan must not run
    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus
    )["corpus_reconcile"]
    assert not rec["ran"] and "deep-only" in rec["reason"]
    assert spark.read.parquet(corpus).count() == 3

    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert rec["ran"], rec
    assert rec["dup_groups"] == 1 and rec["losers_removed"] == 1
    art2 = spark.read.parquet(corpus)
    assert art2.count() == 2
    assert art2.filter("doc_id = 9000").count() == 0  # later copy lost
    assert art2.filter("doc_id = 200").count() == 1  # earliest kept
    # census back to exactly the pre-race value (sketches untouched:
    # the duplicate's text/tokens were already present via doc 200)
    after = corpus_stats(spark, idx)
    assert after["docs"] == census_before["docs"]
    assert after["tokens"] == census_before["tokens"]

    # idempotent: a second deep call finds nothing
    rec2 = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert not rec2["ran"], rec2
    assert corpus_stats(spark, idx)["docs"] == census_before["docs"]


def test_deep_reconcile_collapses_replayed_publication(spark, tmp_path):
    """The r12 soak's second finding: a SIGKILLed publication replayed
    wholesale lands the same doc_ids physically TWICE, plus a second
    keyed stats row. The deep pass collapses the physical copies (one
    row per digest) while the keyed stats dedupe in corpus_stats
    absorbs the census side — no loser subtraction for a doc that
    survives."""
    from irio2024_mapreduce_spark.plans.ingest import (
        _read_stats_rows,
        corpus_stats,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build_corpus_index(spark, _docs(spark, range(100, 104)), idx)
    m = ingest_batch(
        spark, _docs(spark, [300, 301, 302]), idx, out,
        batch_id=7, stream="s",
    )
    assert m["appended"] == 3
    corpus = os.path.join(out, "clean_documents.parquet")
    census_before = corpus_stats(spark, idx)
    # replay the batch's physical footprint: corpus rows AND the
    # keyed stats row appended a second time
    art = spark.read.parquet(corpus)
    art.write.mode("append").parquet(corpus)
    stats = _read_stats_rows(spark, idx)
    stats.filter("batch_id = 7").write.mode("append").parquet(
        os.path.join(idx, "stats")
    )
    # keyed dedupe already absorbs the duplicated stats row
    assert corpus_stats(spark, idx)["docs"] == census_before["docs"]
    assert spark.read.parquet(corpus).count() == 6

    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert rec["ran"], rec
    assert rec["dup_groups"] == 3 and rec["losers_removed"] == 3
    # replay copies of SURVIVING docs: no census subtraction
    assert rec["census_delta_docs"] == 0, rec
    art2 = spark.read.parquet(corpus)
    assert art2.count() == 3
    assert art2.select("doc_id").distinct().count() == 3
    assert corpus_stats(spark, idx)["docs"] == census_before["docs"]
    # idempotent
    rec2 = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert not rec2["ran"], rec2


def test_deep_reconcile_measured_census_mode(spark, tmp_path):
    """Self-contained corpora (the prepare_corpus lifecycle, whose
    seed lives in the corpus): the deep pass trues the census up to
    the MEASURED non-quarantined corpus, healing ledger drift that
    leaves no physical duplicates (the r12 soak's off-by-one: two
    replays of one batch admitting different verdict sets while the
    keyed stats dedupe keeps only one run's summary)."""
    from irio2024_mapreduce_spark.plans.corpus_prep import (
        prepare_corpus,
    )
    from irio2024_mapreduce_spark.plans.ingest import (
        _stats_row_df,
        corpus_stats,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    _docs(spark, range(500, 512)).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    prepare_corpus(
        spark, sf, out, holdout_split=True, index_dir=idx
    )
    corpus = os.path.join(out, "clean_documents.parquet")

    def non_q_count():
        # fresh read each time: the maintenance corpus compaction
        # rewrites the files under any cached frame
        return (
            spark.read.parquet(corpus)
            .filter(F.col("split") != "quarantined")
            .count()
        )

    expected = non_q_count()
    assert corpus_stats(spark, idx)["docs"] == expected

    # ledger drift with NO physical duplicate: a phantom stats row
    # (the composed-replay shape arithmetic cannot see)
    phantom = (
        spark.read.parquet(corpus)
        .filter(F.col("split") != "quarantined")
        .limit(1)
    )
    _stats_row_df(phantom).write.mode("append").parquet(
        os.path.join(idx, "stats")
    )
    assert corpus_stats(spark, idx)["docs"] == expected + 1

    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True,
        partition_by=["split"],
    )["corpus_reconcile"]
    assert rec["ran"] and rec["dup_groups"] == 0, rec
    assert rec["census_delta_docs"] == -1, rec
    assert corpus_stats(spark, idx)["docs"] == expected == non_q_count()
    # idempotent
    rec2 = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True,
        partition_by=["split"],
    )["corpus_reconcile"]
    assert not rec2["ran"], rec2


def test_deep_reconcile_recovers_crashed_swap_first(spark, tmp_path):
    """ADVICE r13-input (medium): reconcile runs FIRST in the deep
    order, so it is the reader that trips over a predecessor's crashed
    flat swap. A leftover ``._compact_old`` beside a live corpus used
    to make this pass's own os.rename(corpus, old) fail ENOTEMPTY; a
    crash between the two renames leaves corpus_path absent entirely.
    Both shapes must be recovered (recover_swap_crash, mirroring
    _publish_staged) before the pass reads."""
    import shutil

    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build_corpus_index(spark, _docs(spark, range(100, 104)), idx)
    ingest_batch(
        spark, _docs(spark, [200, 201]), idx, out,
        batch_id=0, stream="s",
    )
    corpus = os.path.join(out, "clean_documents.parquet")
    census = corpus_stats(spark, idx)["docs"]

    # shape B first: old WITHOUT live (crash between the renames) —
    # the pre-swap truth must be restored before the read
    os.rename(corpus, corpus + "._compact_old")
    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert not rec["ran"], rec
    assert os.path.isdir(corpus)
    assert not os.path.exists(corpus + "._compact_old")

    # shape A: stale old BESIDE the live dir, plus a dup group so the
    # pass actually swaps — previously ENOTEMPTY at the rename
    shutil.copytree(corpus, corpus + "._compact_old")
    from irio2024_mapreduce_spark.plans.ingest import _stats_row_df

    art = spark.read.parquet(corpus)
    dup = art.filter("doc_id = 200").withColumn(
        "doc_id", F.lit(9000).cast("long")
    )
    dup.write.mode("append").parquet(corpus)
    _stats_row_df(dup).write.mode("append").parquet(
        os.path.join(idx, "stats")
    )
    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert rec["ran"] and rec["losers_removed"] == 1, rec
    assert not os.path.exists(corpus + "._compact_old")
    art2 = spark.read.parquet(corpus)
    assert art2.filter("doc_id = 9000").count() == 0
    assert corpus_stats(spark, idx)["docs"] == census


def test_measured_census_counts_null_splits(spark, tmp_path):
    """ADVICE r13-input (low): a NULL split is not quarantined — the
    quarantine filters must be null-safe or rows with NULL splits
    silently vanish from the measured census (SQL null comparison)."""
    from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus
    from irio2024_mapreduce_spark.plans.ingest import corpus_stats

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    _docs(spark, range(600, 612)).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    prepare_corpus(spark, sf, out, holdout_split=True, index_dir=idx)
    corpus = os.path.join(out, "clean_documents.parquet")
    expected = corpus_stats(spark, idx)["docs"]

    # a physically-present doc whose split is NULL (a writer that
    # never assigned one) — present in the corpus, absent from the
    # ledger census
    art = spark.read.parquet(corpus)
    art.limit(1).withColumn(
        "doc_id", F.lit(77_000).cast("long")
    ).withColumn(
        "text", F.concat(F.col("text"), F.lit(" nullsplit marker"))
    ).withColumn(
        "split", F.lit(None).cast("string")
    ).write.mode("append").partitionBy("split").parquet(corpus)
    live = spark.read.parquet(corpus)
    assert live.filter(F.col("split").isNull()).count() == 1

    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True,
        partition_by=["split"],
    )["corpus_reconcile"]
    # the NULL-split doc is counted by the measured true-up: +1
    assert rec["census_delta_docs"] == 1, rec
    assert corpus_stats(spark, idx)["docs"] == expected + 1


def test_external_seed_census_heals_composed_replay_drift(
    spark, tmp_path
):
    """r12 verdict item 3: the composed-replay shape on the
    build_corpus_index EXTERNAL-seed lifecycle — two replays of one
    batch admit DIFFERENT verdict sets (each convicted a different
    cross-stream duplicate), the physical corpus holds their UNION,
    but the keyed stats dedupe keeps only one run's summary: the
    census is low by one with NO physical duplicate left to count.
    The plain deep pass heals it: the manifest's census outside the
    corpus (the seed) plus the measured corpus_path."""
    from irio2024_mapreduce_spark.plans.ingest import (
        _stats_row_df,
        corpus_stats,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    # EXTERNAL seed: censused by build_corpus_index, never lives at
    # corpus_path
    build_corpus_index(spark, _docs(spark, range(100, 104)), idx)
    assert corpus_stats(spark, idx)["docs"] == 4
    m = ingest_batch(
        spark, _docs(spark, [200, 201, 202]), idx, out,
        batch_id=3, stream="s",
    )
    assert m["appended"] == 3
    corpus = os.path.join(out, "clean_documents.parquet")

    # composed replay: run B of batch 3 admitted {201, 202, 203} —
    # it convicted 200 against a cross-stream duplicate run A raced
    # past, and admitted 203 which run A had convicted. Physically:
    # 201/202 land twice (same doc_id — replayed publication), 203
    # lands once; the keyed stats dedupe keeps ONE run's summary
    # (docs=3 either way), so the census misses 203 forever.
    art = spark.read.parquet(corpus)
    extra = (
        art.orderBy("doc_id").limit(1)
        .withColumn("doc_id", F.lit(203).cast("long"))
        .withColumn("text", F.lit(_text(203)))
    )
    run_b = art.filter("doc_id in (201, 202)").unionByName(extra)
    run_b.write.mode("append").parquet(corpus)
    _stats_row_df(run_b).select(
        F.lit("s").alias("stream"),
        F.lit(3).cast("long").alias("batch_id"),
        "docs", "tokens", "text_sketch", "token_sketch",
    ).write.mode("append").parquet(os.path.join(idx, "stats"))
    # census still 4 + 3 (keyed dedupe), physical non-dup content is
    # 4 ingested docs + 4 external docs
    assert corpus_stats(spark, idx)["docs"] == 7

    # one deep pass removes the physical copies of 201/202 AND counts
    # 203: census 4 (seed) + 4 (measured)
    rec = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert rec["losers_removed"] == 2, rec
    assert rec["census_delta_docs"] == 1, rec
    assert spark.read.parquet(corpus).count() == 4
    assert corpus_stats(spark, idx)["docs"] == 8

    # idempotent: a second deep pass finds nothing
    rec2 = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus, deep=True
    )["corpus_reconcile"]
    assert not rec2["ran"], rec2
    assert corpus_stats(spark, idx)["docs"] == 8


def test_older_index_format_is_refused_before_any_write(spark, tmp_path):
    """An index written before the manifest recorded where its seed
    lives (format version 2) cannot tell reconciliation what part of
    the census lies outside the corpus. Ingest and the deep pass must
    refuse it with the rebuild error before touching the corpus."""
    import json

    from irio2024_mapreduce_spark.plans.ingest import INDEX_MANIFEST_NAME

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build_corpus_index(spark, _docs(spark, range(100, 104)), idx)
    ingest_batch(
        spark, _docs(spark, [200, 201]), idx, out, batch_id=0, stream="s"
    )
    corpus = os.path.join(out, "clean_documents.parquet")
    # a dup group, so a deep pass that got past the gate would rewrite
    spark.read.parquet(corpus).filter("doc_id = 200").withColumn(
        "doc_id", F.lit(9000).cast("long")
    ).write.mode("append").parquet(corpus)
    path = os.path.join(idx, INDEX_MANIFEST_NAME)
    with open(path) as f:
        manifest = json.load(f)
    manifest["version"] = 2
    manifest.pop("seed_in_corpus", None)
    manifest.pop("census_outside_corpus", None)
    with open(path, "w") as f:
        json.dump(manifest, f)

    def snapshot():
        files = {}
        for root, _, names in os.walk(out):
            for n in names:
                with open(os.path.join(root, n), "rb") as f:
                    files[os.path.join(root, n)] = f.read()
        return files

    before = snapshot()
    with pytest.raises(ValueError, match="version"):
        ingest_batch(
            spark, _docs(spark, [300]), idx, out, batch_id=1, stream="s"
        )
    with pytest.raises(ValueError, match="version"):
        maintain_corpus_index(
            spark, index_dir=idx, corpus_path=corpus, deep=True
        )
    assert snapshot() == before


def test_fold_crash_flag_is_one_shot_sigkill_analog(tmp_path):
    """The chaos soak's fold-crash kill point (VERDICT r13 item 6):
    armed flag -> the process dies with exit 137 at the hook, the
    flag is consumed (one-shot, so the restarted worker's re-fold
    survives), and the consumption is logged with the index kind.
    Unset env / absent flag are no-ops."""
    import subprocess
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    from irio2024_mapreduce_spark.sources.sinks import (
        consume_fold_crash_flag,
    )

    # no env: no-op (also exercised implicitly by every fold test)
    consume_fold_crash_flag("ann")

    flag = str(tmp_path / "flag")
    prog = (
        "from irio2024_mapreduce_spark.sources.sinks import "
        "consume_fold_crash_flag as c; c('ann'); print('survived')"
    )
    env = dict(os.environ, SPARK_GRAFT_FOLD_CRASH_FLAG=flag)

    # armed: dies 137 before reaching the drop (and before print)
    with open(flag, "w") as f:
        f.write("armed\n")
    p = subprocess.run(
        [sys.executable, "-c", prog], env=env, cwd=repo_root,
        capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 137, (p.returncode, p.stderr)
    assert "survived" not in p.stdout
    assert not os.path.exists(flag)  # consumed
    with open(flag + ".log") as f:
        kinds = [ln.split()[0] for ln in f.read().splitlines()]
    assert kinds == ["ann"]

    # disarmed (flag consumed): the restarted worker survives
    p2 = subprocess.run(
        [sys.executable, "-c", prog], env=env, cwd=repo_root,
        capture_output=True, text=True, timeout=60,
    )
    assert p2.returncode == 0 and "survived" in p2.stdout
