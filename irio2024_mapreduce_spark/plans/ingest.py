"""Incremental ingest driver — the DAILY production path that
complements ``plans.corpus_prep``'s one-shot build: admit a new batch
against STORED corpus indexes (the corpus text is never re-scanned),
clean the admitted docs with the same funnel/scrub stages the one-shot
pipeline ships, then append the survivors to the corpus artifact AND
append their index rows — so tomorrow's batch dedups against today's
admissions.

Index layout under ``index_dir`` (both halves append-only, exactly the
production story ``dedup.corpus_index_postings`` documents):

* ``hashes/``   — distinct md5 digests of corpus text (exact-dup half)
* ``postings/`` — banded, ``NGRAM_POSTING_CAP``-capped shingle posting
  rows of the exact-collapse representatives (near-dup half)
* plus the bookkeeping: ``stats/`` (mergeable per-batch counters),
  ``manifests/`` (exactly-once rows keyed by (stream, batch_id)),
  ``_commit_markers/`` (their O(1) existence cache — outside the
  compactor-swapped dirs), ``_stream_checkpoint/`` (Structured
  Streaming offsets), and ``_index_manifest.json`` (family +
  constants, validated on every open)

Scale shape: every step is batch-keyed — the verdict joins probe the
stored index with hash lookups (``dedup._incremental_verdicts``, the
same core the oracle-checked ``dedup_incremental`` runs), the funnel
and scrub are map-only, and the appends are partition-parallel parquet
writes of batch-sized frames. Nothing corpus-sized moves.
``tools/stress_incremental.py`` measures the probe's ~flat cost at
100× corpus.

Durability: ``ingest_batch`` is transactional through the staged-commit
protocol of ``sources.staged_commit``, shared with ``plans.corpus_prep``.
Every part (index halves, corpus docs, stats row, manifest row and the
similarity-index deltas) is staged under ``{index_dir}/_staged/``; one
``_committed`` file is the commit point; publication is then file moves
into the live dirs, rolled forward by ``recover_staged_batches`` after
any crash. A crash before the commit published nothing anywhere, so a
redelivery admits the docs normally. A crash after it rolls forward to
full visibility on the next touch of the index. A maintenance collision
aborts before the commit, under the advisory locks.

Note the index covers SHIPPED docs only: a batch doc killed by the
funnel never enters the index — a future byte-identical doc fails the
same funnel rule, which is the correct (and census-checkable)
attribution for it.
"""

from __future__ import annotations

import errno
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    LSH_BANDS,
    LSH_BUCKET_CAP,
    LSH_ROWS,
    MINHASH_PERMS,
    NGRAM_POSTING_CAP,
    _cap_buckets,
    _incremental_lsh_verdicts,
    _incremental_verdicts,
    corpus_index_bands,
    corpus_index_hashes,
    corpus_index_postings,
    corpus_index_rep_shingles,
    near_dup_kill_ids,
)
from irio2024_mapreduce_spark.operators.llm_prep import (
    DECONTAM_NGRAM,
    _exploded_grams,
    scrub_text,
)
from irio2024_mapreduce_spark.operators import stored_index
from irio2024_mapreduce_spark.operators.text_analysis import funnel_verdict
from irio2024_mapreduce_spark.sources import staged_commit
from irio2024_mapreduce_spark.sources.sinks import (
    SimulatedCrash,
    acquire_compaction_lock_patiently,
    atomic_write_file,
    check_not_compacting,
    fsync_dir,
    recover_swap_crash,
    release_compaction_lock,
    resolve_current,
    reraise_if_vanished_input as _reraise_if_vanished_input,
)

# ----------------------------------------------------------- index manifest
# The index is SELF-DESCRIBING: a small JSON manifest persisted at
# build time records which near-dup family and which constants built
# it; every subsequent open validates against it instead of trusting
# the caller's `family` argument — a build-ngram/probe-lsh confusion
# used to fail only via a missing-path read error deep inside Spark.
# Version 2 is the staged-commit layout; an older index must be
# rebuilt.
INDEX_MANIFEST_NAME = "_index_manifest.json"
INDEX_FORMAT_VERSION = 2


def _index_manifest(family: str, decontaminate: bool) -> dict:
    return {
        "version": INDEX_FORMAT_VERSION,
        "family": family,
        "minhash_perms": MINHASH_PERMS,
        "lsh_rows": LSH_ROWS,
        "lsh_bands": LSH_BANDS,
        "lsh_bucket_cap": LSH_BUCKET_CAP,
        "ngram_posting_cap": NGRAM_POSTING_CAP,
        "decontam_ngram": DECONTAM_NGRAM,
        "decontaminate": decontaminate,
    }


def _write_index_manifest(
    index_dir: str, family: str, decontaminate: bool
) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, INDEX_MANIFEST_NAME), "w") as f:
        json.dump(_index_manifest(family, decontaminate), f, indent=1)


def read_index_manifest(index_dir: str) -> dict:
    """Load and structurally validate the index manifest. Raises a
    clear error for a pre-manifest (or foreign) directory."""
    path = os.path.join(index_dir, INDEX_MANIFEST_NAME)
    if not os.path.exists(path):
        raise ValueError(
            f"{index_dir} has no {INDEX_MANIFEST_NAME}: not a corpus "
            "index built by build_corpus_index/seed_index_from_prepared "
            "(rebuild it, or write the manifest for a legacy index)"
        )
    with open(path) as f:
        return json.load(f)


def validate_index(index_dir: str, family: str) -> dict:
    """Check the stored manifest against the caller's expectation and
    the engine's CURRENT constants — a probe against an index built
    with different banding/cap constants would silently change
    admission semantics. Returns the manifest."""
    m = read_index_manifest(index_dir)
    expected = _index_manifest(family, m.get("decontaminate", False))
    mismatches = {
        k: (m.get(k), v) for k, v in expected.items() if m.get(k) != v
    }
    if mismatches:
        detail = ", ".join(
            f"{k}: index has {a!r}, caller/engine expects {b!r}"
            for k, (a, b) in sorted(mismatches.items())
        )
        raise ValueError(
            f"corpus index at {index_dir} does not match this probe "
            f"({detail}) — pass the family the index was built with "
            "and/or rebuild the index with the current engine constants"
        )
    return m


def _clear_prior_life(index_dir: str) -> None:
    """A (re)build replaces the index WHOLESALE — including the parts
    the data writers don't overwrite: stale ``manifests`` rows +
    ``_commit_markers`` would short-circuit the new life's first
    batches (Structured Streaming numbers batches from 0 per
    checkpoint), a stale ``_stream_checkpoint`` would skip
    redelivering source files the new index has never seen, and stale
    ``stats`` rows would be merged into ``corpus_stats`` for docs the
    new corpus never ingested. Without this the docstring's 'replaces
    the index wholesale' invariant was not actually established.
    Callers must validate their arguments FIRST — this is the
    destructive half of a rebuild."""
    # refuse while a compaction holds the index: the clear would
    # delete the compactor's in-flight dirs mid-swap, and the
    # compactor's later steps could re-create old-life state right
    # after the clear (a crashed holder's flock auto-released, so
    # only a LIVE compaction refuses)
    check_not_compacting(index_dir)
    for part in (
        "manifests",
        "_commit_markers",
        "_stream_checkpoint",
        "stats",
        # staged batches belong to the replaced life too: a committed
        # staging would roll FORWARD into the fresh index otherwise
        staged_commit.STAGED_ROOT,
    ):
        # the ._compact_* variants too: a compaction that crashed
        # mid-swap leaves a ._compact_old snapshot that crash
        # recovery would otherwise RESTORE after the clear,
        # resurrecting the replaced life's exactly-once records or
        # stats rows
        for suffix in ("", "._compact_tmp", "._compact_old"):
            p = os.path.join(index_dir, part + suffix)
            if os.path.exists(p):
                shutil.rmtree(p)


def build_corpus_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    family: str = "ngram",
    benchmark: DataFrame | None = None,
) -> dict[str, int]:
    """One-time ingest-side index build over an existing corpus.

    ``corpus`` must carry PRE-scrub text: ``ingest_batch`` appends
    hashes/postings over the raw bytes tomorrow's duplicates will
    carry, so seeding from scrubbed text (e.g. the shipped
    ``clean_documents.parquet``) would mix conventions — future raw
    duplicates of already-shipped docs would miss the exact-dup md5
    probe and fall through to the weaker near-dup check. Callers
    holding only the shipped artifact should seed via
    ``prepare_corpus(index_dir=...)`` /
    :func:`seed_index_from_prepared`, which receive the pre-scrub
    survivors.

    ``family`` picks the near-dup half: ``"ngram"`` (3-gram posting
    rows — precise on token-level edits) or ``"lsh"`` (MinHash band
    rows + doc_id-keyed rep shingles for the true-Jaccard verify —
    survives edits that shift every 3-gram, the long/paraphrased-doc
    complement). The exact-dup md5 half is shared.

    ``benchmark`` (the held-out eval docs) stores the benchmark's
    {DECONTAM_NGRAM}-gram digest set beside the index, so every
    future ``ingest_batch`` decontaminates its admissions — without
    it, batches appended after the one-shot build could reintroduce
    eval-set contamination that ``prepare_corpus`` stage 4 removed.

    Writes a small JSON manifest recording family + constants; every
    later open validates against it. Returns per-part row counts."""
    counts: dict[str, int] = {}
    parts: dict[str, DataFrame] = {
        "hashes": corpus_index_hashes(corpus)
    }
    if family == "ngram":
        parts["postings"] = corpus_index_postings(corpus)
    elif family == "lsh":
        parts["bands"] = corpus_index_bands(corpus)
        parts["rep_shingles"] = corpus_index_rep_shingles(corpus)
    else:
        raise ValueError(f"unknown index family: {family!r}")
    if benchmark is not None:
        parts["benchmark_ngrams"] = benchmark_ngram_digests(benchmark)
    # destructive clear only AFTER the arguments validated above — a
    # typo'd family must not wipe the live index's exactly-once state
    # while leaving its data in place
    _clear_prior_life(index_dir)
    for name, df in parts.items():
        path = os.path.join(index_dir, name)
        df.write.mode("overwrite").parquet(path)
        counts[f"{name}_rows"] = spark.read.parquet(path).count()
    # a fresh stats row over THIS corpus: the clear removed the prior
    # life's rows (they described a corpus this index no longer
    # serves), and by the 100 TB premise HLL state can't be
    # recomputed later without a rescan — so the rebuild must leave
    # corpus_stats describing exactly what it indexed. Convention
    # note: this path receives the corpus AS IT EXISTS (the contract
    # above says pre-scrub bytes of an already-shipped corpus), so
    # the stats describe those bytes; callers holding the raw/cleaned
    # PAIR should seed via seed_index_from_prepared, whose stats row
    # covers the shipped scrubbed text. Null-text docs are excluded
    # to match the ingest stats convention (cleaned frames carry no
    # nulls).
    _append_stats_row(
        corpus.filter(F.col("text").isNotNull()), index_dir, mode="overwrite"
    )
    _write_index_manifest(index_dir, family, benchmark is not None)
    return counts


def benchmark_ngram_digests(benchmark: DataFrame) -> DataFrame:
    """The held-out benchmark as a distinct {DECONTAM_NGRAM}-gram md5
    digest set — the stored decontamination half of the ingest index.
    Benchmarks are eval-corpus-sized (thousands of docs), so the
    stored set is tiny and every probe broadcasts it."""
    return (
        _exploded_grams(benchmark.filter(F.col("text").isNotNull()))
        .select("g")
        .distinct()
    )


# _reraise_if_vanished_input lives in sources/sinks.py (shared with the
# index-maintenance entry points); plans/corpus_prep imports it from
# here.


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    corpus_dir: str,
    family: str = "ngram",
    batch_id: int | None = None,
    stream: str = "",
    batch_emb: DataFrame | None = None,
    ann_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
    schema_policy: str = "strict",
    _test_crash_after: str | None = None,
) -> dict[str, int]:
    """Retryable-failure boundary around :func:`_ingest_batch_impl`
    (the real pipeline — its docstring is the contract): protocol
    RuntimeErrors pass through untouched; anything else is checked
    against the vanished-input races a concurrent maintenance swap or
    generation flip can inflict on a lock-free reader, and re-raised
    as the documented retryable when it matches.

    Classification covers EVERY root the batch reads lock-free — the
    dedup index, the corpus, and the similarity indexes: a mid-fire
    deep rebuild that flips the IVF version GCs ``centroids_v{N}``
    under the staging's centroid read. Staging is
    pre-commit, so the batch is losslessly retryable against any of
    these roots."""
    try:
        return _ingest_batch_impl(
            spark, batch, index_dir, corpus_dir, family, batch_id,
            stream, batch_emb, ann_index_dir, ivf_index_dir,
            schema_policy, _test_crash_after,
        )
    except RuntimeError:
        raise  # already protocol-classified (incl. LockPatienceExhausted)
    except Exception as e:
        for root_dir in (index_dir, corpus_dir, ann_index_dir,
                         ivf_index_dir):
            if root_dir:
                _reraise_if_vanished_input(e, root_dir)
        raise


def _ingest_batch_impl(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    corpus_dir: str,
    family: str = "ngram",
    batch_id: int | None = None,
    stream: str = "",
    batch_emb: DataFrame | None = None,
    ann_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
    schema_policy: str = "strict",
    _test_crash_after: str | None = None,
) -> dict[str, int]:
    """Admit ``batch`` against the stored index, clean the admitted
    docs, append survivors to ``{corpus_dir}/clean_documents.parquet``
    and their index rows to ``index_dir``. ``family`` must match the
    index build — validated against the stored manifest, not trusted.
    Returns the batch manifest; every batch doc is charged to exactly
    one outcome.

    ``batch_id`` (the Structured Streaming batch id, or any caller
    sequence number) makes the recorded manifest EXACTLY-once: the
    manifest row persisted under ``{index_dir}/manifests`` is keyed by
    (``stream``, ``batch_id``), and a replayed key short-circuits the
    whole call (safe — the manifest is written LAST, so its presence
    proves every earlier append of that batch landed). ``stream``
    namespaces the id: Structured Streaming numbers batches from 0
    PER CHECKPOINT, so a bare id is only unique within one stream —
    a second source dir (fresh checkpoint, ids from 0 again) would
    short-circuit against the first stream's manifests and silently
    drop its batches. ``run_ingest_stream`` passes its checkpoint key;
    direct callers with their own sequence may leave it "". Without
    ``batch_id`` the call is at-least-once with idempotent admission,
    as before.

    ``batch_emb`` + ``ann_index_dir`` / ``ivf_index_dir`` keep the
    STORED similarity indexes consistent with the corpus inside the
    SAME transaction: the admitted survivors' vectors (``batch_emb``:
    ``vec_id`` == ``doc_id``, ``v``) are
    shaped for each index at its live geometry, staged beside the
    other parts, and covered by the one ``_committed`` marker — a
    crash at any point leaves dedup halves, corpus, stats, manifest
    AND similarity indexes consistent (all-or-nothing, the
    reference's all-steps-of-one-job model,
    /root/reference/mapreduce/coordinator/update_loop.py:149-154).
    The indexes must already exist (built once via build_ann_index /
    build_ivf_index); their manifests are validated up front. NOTE:
    the replay short-circuit returns the recorded manifest of the
    first committed delivery — redeliver with the SAME index
    arguments, or vectors of a batch first delivered without them
    stay unindexed until the next backfill.

    ``_test_crash_after`` is FAULT INJECTION for the kill-at-every-step
    tests: naming a publish step raises :class:`SimulatedCrash` right
    after it, leaving exactly the on-disk state a process kill at that
    point would — production callers never pass it."""
    # FIRST: finish any crashed prepare_corpus generation flip over
    # this corpus (its mid-swap window can leave the corpus target
    # missing, and its committed new generation — corpus, packs, AND
    # the reseeded index — supersedes the old lifecycle wholesale;
    # admitting against the half-flipped state would split-brain).
    # Before validate_index, because the flip replaces the manifest
    # this call is about to validate.
    prep_staged = os.path.join(corpus_dir, staged_commit.STAGED_ROOT)
    if os.path.isdir(prep_staged):
        from irio2024_mapreduce_spark.plans.corpus_prep import (  # noqa: PLC0415
            recover_prepared,
        )

        recover_prepared(corpus_dir)
    # validate BEFORE the replay short-circuit: a replayed call with
    # the wrong family must fail as loudly as a fresh one — masking
    # the misconfiguration exactly on the crash-restart path (where
    # operators re-run things by hand) would be the worst place
    manifest_meta = validate_index(index_dir, family)
    if (ann_index_dir or ivf_index_dir) and batch_emb is None:
        raise ValueError(
            "ann_index_dir/ivf_index_dir need batch_emb (the batch "
            "docs' vectors: vec_id == doc_id, v) to index"
        )
    sim_roots = [
        os.path.abspath(p) for p in (ann_index_dir, ivf_index_dir) if p
    ]
    # every publish lock target must be distinct — index dir, both
    # similarity roots, AND the corpus publish target: each is flocked
    # independently at publish, so aliased roots would block the
    # second acquire until LockPatienceExhausted instead of failing
    # fast
    lock_targets = sim_roots + [
        os.path.abspath(index_dir),
        os.path.abspath(os.path.join(corpus_dir, "clean_documents.parquet")),
    ]
    if len(set(lock_targets)) != len(lock_targets):
        raise ValueError(
            "ann_index_dir, ivf_index_dir, index_dir and the corpus "
            "publish target ({corpus_dir}/clean_documents.parquet) "
            "must be distinct directories"
        )
    for kind, root in _similarity_roots(ann_index_dir, ivf_index_dir):
        # fail fast, before compute
        stored_index.read_manifest(stored_index.family(kind), root)
    # roll forward / garbage-collect any crashed predecessor FIRST:
    # a committed-but-unpublished batch must become fully visible
    # before this batch probes the index (its hashes are part of the
    # corpus truth), and a pre-commit leftover must be discarded so
    # the staging key is free. STRICT: if a committed predecessor
    # cannot be published right now (lock patience), this batch must
    # fail loudly rather than probe an index missing committed rows
    recover_staged_batches(index_dir, strict=True)
    if batch_id is not None:
        prior = read_recorded_manifest(
            spark, index_dir, batch_id, stream=stream
        )
        if prior is not None:
            return prior
    # early, advisory fast-fail when maintenance is LIVE right now —
    # purely to avoid wasting the batch's compute. Correctness no
    # longer depends on it: the publish step takes the real locks and
    # a collision there aborts PRE-commit, losslessly.
    check_not_compacting(index_dir)
    check_not_compacting(os.path.join(corpus_dir, "clean_documents.parquet"))
    hashes = spark.read.parquet(os.path.join(index_dir, "hashes"))

    batch_in = batch.count()
    if family == "ngram":
        verdicts = _incremental_verdicts(
            batch,
            hashes,
            spark.read.parquet(os.path.join(index_dir, "postings")),
        )
    elif family == "lsh":
        verdicts = _incremental_lsh_verdicts(
            batch,
            hashes,
            spark.read.parquet(os.path.join(index_dir, "bands")),
            spark.read.parquet(os.path.join(index_dir, "rep_shingles")),
        )
    else:
        raise ValueError(f"unknown index family: {family!r}")
    verdicts = verdicts.localCheckpoint(eager=False)
    by_verdict = {
        r["verdict"]: r["cnt"]
        for r in verdicts.groupBy("verdict")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    admitted = batch.join(
        verdicts.filter(F.col("verdict") == "admitted").select("doc_id"),
        "doc_id",
        "semi",
    )

    # INTRA-batch near dedup: the corpus probe above checks each
    # batch doc against the CORPUS only (exact dups within the batch
    # self-convict via the earlier-doc rule, but two near-dup docs
    # co-arriving in one batch would both admit). The admitted frame
    # is already exact-collapsed, so the one-shot pipeline's
    # keep-first kill set applies directly; kills are charged to
    # near_dups alongside the corpus-probe convictions.
    intra_kills = near_dup_kill_ids(
        admitted, family=family
    ).localCheckpoint(eager=False)
    intra_near = intra_kills.count()
    admitted = admitted.join(intra_kills, "doc_id", "anti")

    # quality funnel over the admitted docs (same first-failing-rule
    # column the one-shot pipeline and the graded query use)
    tagged = admitted.withColumn("_verdict", funnel_verdict())
    kills = {
        r["_verdict"]: r["cnt"]
        for r in tagged.groupBy("_verdict")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    survivors = tagged.filter(F.col("_verdict") == "pass").drop("_verdict")

    # decontamination vs the STORED benchmark digest set (without
    # this, batches appended after the one-shot build would
    # silently reintroduce eval-set 13-gram contamination that
    # prepare_corpus stage 4 removed). Same stage order as the
    # one-shot pipeline — funnel first, decontaminate on raw text
    # before the scrubber rewrites anything. The digest set is
    # eval-corpus-sized, so the probe is a broadcast semi-join; the
    # batch side never shuffles.
    contaminated_removed = 0
    if manifest_meta.get("decontaminate"):
        bench_grams = spark.read.parquet(
            os.path.join(index_dir, "benchmark_ngrams")
        )
        contam_ids = (
            _exploded_grams(survivors, "doc_id")
            .join(F.broadcast(bench_grams), "g", "semi")
            .select("doc_id")
            .distinct()
            .localCheckpoint(eager=False)
        )
        contaminated_removed = contam_ids.count()
        survivors = survivors.join(contam_ids, "doc_id", "anti")

    # survivors feeds the scrub (corpus write) AND the index builders
    # (raw text) — one batch-sized materialization, not 4-5 re-runs of
    # the admit-join + funnel subtree per consumer
    survivors = survivors.localCheckpoint(eager=False)

    # scrub (n_chars recomputed from the shipped bytes, same policy
    # as prepare_corpus); checkpointed once for its three consumers
    # (corpus append, count, stats row)
    cleaned = scrub_text(survivors).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias(
            "n_redactions"
        ),
        F.length("clean_text").cast("long").alias("n_chars"),
        *[
            c
            for c in survivors.columns
            if c not in ("doc_id", "text", "n_chars")
        ],
    ).localCheckpoint(eager=False)

    # SCHEMA GATE: the corpus append is schema-blind at write
    # time — parquet happily lands files of any shape next to the live
    # ones — so a producer that adds/drops a column or changes a type
    # mid-stream would commit a schema-divergent dataset whose damage
    # only surfaces at READ time (mergeSchema turns added/dropped
    # columns into silent NULLs; type drift crashes the read) — after
    # the bad files are already committed and fanned out to packs and
    # stats. Gate the batch's EXACT append shape against the live
    # corpus footer BEFORE anything is staged: a drifted batch fails
    # loudly, nothing lands, and the (stream, batch_id) key is NOT
    # consumed — fix the producer and redeliver.
    widened_authority = _validate_batch_schema(
        spark, cleaned, corpus_dir, schema_policy
    )

    # survivors' vectors for the stored similarity indexes: only
    # ADMITTED docs are indexed (a duplicate's vector must not enter
    # the ANN/IVF corpus — the doc itself never entered the text
    # corpus), via a semi-join against the checkpointed survivor set
    vecs = None
    if batch_emb is not None and (ann_index_dir or ivf_index_dir):
        # the vector DIMENSION gate fires on this frame's first
        # materialization — the n_vecs count in _stage_batch goes
        # through similarity.count_with_dim_check (riding the count,
        # not a per-row guard: raise_error in the projection dropped
        # the stage out of codegen, +0.7-2 s per 4k batch measured)
        vecs = (
            batch_emb.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("v").cast("array<double>").alias("v"),
            )
            .join(
                survivors.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "semi",
            )
            .localCheckpoint(eager=False)
        )

    appended = cleaned.count()
    manifest = {
        "batch_in": batch_in,
        "exact_dups": by_verdict.get("exact_dup", 0),
        "near_dups": by_verdict.get("near_dup", 0) + intra_near,
        "killed_null_text": kills.get("null_text", 0),
        "killed_too_short": kills.get("too_short", 0),
        "killed_too_repetitive": kills.get("too_repetitive", 0),
        "killed_no_stopwords": kills.get("no_stopwords", 0),
        "contaminated_removed": contaminated_removed,
        "appended": appended,
    }

    # TRANSACTIONAL COMMIT (module docstring): stage every part
    # privately, then publish under the advisory locks. A maintenance
    # collision at publish time waits briefly for the lock and then
    # aborts before the commit, which is lossless in both directions.
    # The index covers the survivors' RAW text (the bytes tomorrow's
    # duplicates will carry) while the corpus ships the scrubbed text:
    # dedup on pre-scrub bytes is deliberate.
    try:
        staging, alive = staged_commit.open_staging(
            index_dir, _staging_name(batch_id, stream), _roll_forward,
            _BatchAlreadyCommitted,
        )
    except _BatchAlreadyCommitted:
        prior = read_recorded_manifest(
            spark, index_dir, batch_id, stream=stream
        )
        if prior is None:
            raise RuntimeError(
                "staged batch rolled forward but no manifest row "
                "found — inspect the index's manifests part"
            ) from None
        return prior
    try:
        _stage_batch(
            spark, staging, survivors, cleaned, manifest, family,
            index_dir, corpus_dir, batch_id, stream,
            vecs=vecs, ann_index_dir=ann_index_dir,
            ivf_index_dir=ivf_index_dir,
        )
        _publish_staged(staging, _test_crash_after=_test_crash_after)
    finally:
        # a simulated crash only releases the lock and never cleans
        # up: the leftover staging dir is the state under test
        staged_commit.release(staging, alive, reusable=batch_id is not None)
    if widened_authority is not None:
        # the evolve-admitted batch COMMITTED — only now widen the
        # schema authority (widening at gate time would leave it
        # wider than the data on a pre-commit abort). A crash in the
        # window between the marker and this write heals on the next
        # evolve-policy delivery of the evolved shape (a NEW key — a
        # replay of THIS key short-circuits before the gate), or by
        # deleting the sidecar, which re-primes from the committed
        # mergeSchema union and therefore includes the new columns.
        atomic_write_file(
            os.path.join(
                corpus_dir, "clean_documents.parquet", _SCHEMA_SIDECAR
            ),
            json.dumps(
                {"version": 1, "columns": widened_authority}, indent=1
            ),
        )
    return manifest


# ------------------------------------------------- transactional commit
# A batch is one staged commit (``sources.staged_commit``). What is
# ingest's own: the keyed staging name, the publish by file moves, the
# external commit markers, and the classification of a staging that
# vanished before its publication.

# the ingest schema gate's authority sidecar, beside the corpus's
# clean_documents.parquet (underscore prefix: invisible to every
# pruned dataset walk and to Spark's file index)
_SCHEMA_SIDECAR = "_schema.json"


class _BatchAlreadyCommitted(Exception):
    """The batch's (stream, batch_id) staging was already committed by
    a crashed predecessor that entry recovery could not finish (its
    holder still looked alive). It has been rolled forward; the caller
    returns the recorded manifest instead of publishing a duplicate."""


def _staging_name(batch_id: int | None, stream: str) -> str:
    """A keyed batch stages under its (stream, batch_id) name, which is
    also its commit marker's name; an unkeyed one under a unique name
    that is never staged again."""
    if batch_id is None:
        import uuid  # noqa: PLC0415

        return "nokey_" + uuid.uuid4().hex[:16]
    return f"{hashlib.md5(stream.encode()).hexdigest()[:10]}_{int(batch_id)}"


def _resolve_live_corpus(clean_path: str) -> tuple[str, bool]:
    """(live data dir behind a versioned ``_CURRENT`` pointer — the
    dir the append targets, split-partitioned?) for a corpus's
    ``clean_documents.parquet``."""
    target = clean_path
    if os.path.exists(os.path.join(clean_path, "_CURRENT")):
        target = resolve_current(clean_path)
    is_split = os.path.isdir(target) and any(
        d.startswith("split=") for d in os.listdir(target)
    )
    return target, is_split


def _first_parquet_file(path: str) -> str | None:
    """One committed data file of a dataset (hidden/staging subtrees
    pruned), or None. Early-exit walk: one footer is all the schema
    gate needs, so the cost is bounded regardless of dataset size."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs if not d.startswith(("_", "."))
        )
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _validate_batch_schema(
    spark: SparkSession,
    cleaned: DataFrame,
    corpus_dir: str,
    policy: str = "strict",
) -> dict[str, str] | None:
    """Reject producer schema drift BEFORE staging (nothing written,
    the batch key is not consumed — fully retryable after the fix).
    Returns the WIDENED authority columns when an evolve-admission
    added columns (the caller persists it AFTER the batch commits —
    widening at gate time would leave the authority wider than the
    data if the batch later aborts pre-commit), else None.

    Driver-only: compares the batch's append shape (``cleaned``'s
    lazy schema — no job runs) against ONE live-corpus parquet footer
    (a single-file read, no directory LIST of the full dataset; the
    ``split`` partition column never appears in a single file's
    footer, so split layouts compare data columns by construction).

    ``policy="strict"`` (default): exact column-set + type equality.
    ``policy="evolve"``: NEW columns are admitted — pre-drift rows
    read them back as NULL through the corpus readers' mergeSchema —
    but dropped columns and type changes stay rejected (a dropped
    column is silent data loss for every new row; a retyped column
    makes the merged read crash). An evolve-admission widens the
    authority once its batch COMMITS, so later batches must ship the
    evolved shape.

    The AUTHORITY is ``{clean_path}/_schema.json`` — a self-priming
    sidecar: the first gate on a corpus without one records the
    dataset's mergeSchema-union shape (the union of EVERY committed
    footer — one footer sweep, paid only on this exceptional path, so
    re-priming an evolved corpus can never narrow the authority back
    below committed data), and every later gate is a single sidecar
    GET: no dataset walk, no footer read, object-storage-friendly.
    Sidecar writes are atomic and lockless; the only race (two
    concurrent evolve-admissions, last union wins) is self-healing —
    delete the sidecar to re-prime from the committed union.

    Nullability is deliberately ignored: parquet append does not
    enforce it, so gating on it would reject shapes the storage
    layer accepts identically.
    """
    if policy not in ("strict", "evolve"):
        raise ValueError(
            f"schema_policy must be 'strict' or 'evolve', got {policy!r}"
        )
    clean_path = os.path.join(corpus_dir, "clean_documents.parquet")
    target, is_split = _resolve_live_corpus(clean_path)
    if not os.path.isdir(target):
        return None  # no live corpus yet — the first write defines the shape
    sidecar = os.path.join(clean_path, _SCHEMA_SIDECAR)
    live: dict[str, str] | None = None
    if os.path.exists(sidecar):
        try:
            with open(sidecar) as fh:
                live = json.load(fh)["columns"]
        except (OSError, ValueError, KeyError):
            live = None  # corrupt sidecar → re-prime from the data
    if live is None:
        if _first_parquet_file(target) is None:
            return None  # empty dataset — nothing to drift from
        # re-prime from the mergeSchema UNION of every committed
        # footer, not one arbitrary file: an evolved corpus re-primed
        # from a pre-evolution footer would narrow the authority and
        # silently re-admit the old shape — the exact hole the gate
        # closes. The footer sweep is paid only on this exceptional
        # path (missing/corrupt sidecar).
        live = {
            f.name: f.dataType.simpleString()
            for f in spark.read.option("mergeSchema", "true")
            .parquet(target)
            .schema.fields
            if not (is_split and f.name == "split")
        }
        atomic_write_file(
            sidecar, json.dumps({"version": 1, "columns": live}, indent=1)
        )
    batch = {
        f.name: f.dataType.simpleString()
        for f in cleaned.schema.fields
    }
    added = sorted(set(batch) - set(live))
    dropped = sorted(set(live) - set(batch))
    retyped = sorted(
        f"{n} (corpus {live[n]}, batch {batch[n]})"
        for n in set(live) & set(batch)
        if live[n] != batch[n]
    )
    if policy == "evolve" and added and not (dropped or retyped):
        widened = dict(live)
        widened.update({n: batch[n] for n in added})
        return widened
    if added or dropped or retyped:
        raise RuntimeError(
            "ingest schema gate: batch shape drifts from the live "
            f"corpus at {target} — added={added} dropped={dropped} "
            f"retyped={retyped}. Nothing was staged and the batch key "
            "was not consumed: fix the producer and redeliver (or pass "
            "schema_policy='evolve' to admit additive columns)."
        )


def _stage_batch(
    spark: SparkSession,
    staging: str,
    survivors: DataFrame,
    cleaned: DataFrame,
    manifest: dict,
    family: str,
    index_dir: str,
    corpus_dir: str,
    batch_id: int | None,
    stream: str,
    vecs: DataFrame | None = None,
    ann_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
) -> None:
    """Write every part of the batch into ``staging`` (private — no
    locks, no reader visibility), then the publish plan. The corpus
    part mirrors the LIVE corpus layout (split-partitioned corpora
    stage hive dirs; the move preserves relative paths), so
    publication is pure file renames. Similarity-index parts are
    shaped at each stored index's LIVE geometry (read lock-free — the
    manifest replace is atomic, and publish re-checks the geometry
    under the index's lock), so their publication is pure renames
    too."""
    clean_path = os.path.join(corpus_dir, "clean_documents.parquet")
    parts: dict[str, DataFrame] = {
        "hashes": corpus_index_hashes(survivors)
    }
    if family == "ngram":
        parts["postings"] = corpus_index_postings(survivors)
    else:
        parts["bands"] = corpus_index_bands(survivors)
        parts["rep_shingles"] = corpus_index_rep_shingles(survivors)
    # keyed stats row: a SIGKILLed publication can be replayed
    # wholesale (the marker is the last artifact to land), appending
    # a SECOND stats row for the same batch — unkeyed rows made that
    # census drift permanent. With the (stream, batch_id) key,
    # corpus_stats dedupes replays at read exactly like the manifest
    # rows; seed/correction rows stay unkeyed (null key ⇒ kept as-is)
    parts["stats"] = _stats_row_df(cleaned).select(
        (
            F.lit(stream)
            if batch_id is not None
            else F.lit(None).cast("string")
        ).alias("stream"),
        F.lit(None if batch_id is None else int(batch_id))
        .cast("long")
        .alias("batch_id"),
        "docs", "tokens", "text_sketch", "token_sketch",
    )
    if batch_id is not None:
        row = (
            stream,
            int(batch_id),
            *[int(manifest[k]) for k in _MANIFEST_KEYS],
        )
        parts["manifests"] = spark.createDataFrame([row], _MANIFEST_SCHEMA)
    # every staged part lands in its OWN subdir from frames whose
    # upstream checkpoints are already materialized (the manifest
    # counts forced them), so the writes are independent Spark jobs —
    # submit them CONCURRENTLY (sequential submission made the two
    # similarity-index parts a +33-47% wall-clock overhead on a
    # 4k-doc batch; concurrent submission overlaps their fixed
    # per-job cost with the corpus/index writes on otherwise-idle
    # executor threads). The plan is still written AFTER every part
    # is on disk.
    write_jobs: list = []
    for name, df in parts.items():
        write_jobs.append(
            lambda df=df, name=name: df.write.mode("overwrite").parquet(
                os.path.join(staging, name)
            )
        )
    # corpus: detect the live layout at stage time so the staged
    # write shape matches (the split tag is content-addressed —
    # llm_prep.split_docs — so appended docs land in the SAME split
    # the one-shot build would give them)
    target, is_split_layout = _resolve_live_corpus(clean_path)
    if is_split_layout:
        from irio2024_mapreduce_spark.operators.llm_prep import (  # noqa: PLC0415
            split_docs,
        )

        write_jobs.append(
            lambda: split_docs(cleaned)
            .write.mode("overwrite")
            .partitionBy("split")
            .parquet(os.path.join(staging, "corpus"))
        )
    else:
        write_jobs.append(
            lambda: cleaned.write.mode("overwrite").parquet(
                os.path.join(staging, "corpus")
            )
        )
    # similarity-index parts (ordering is the LOCK ordering at publish:
    # dedup index → corpus → ann → ivf, fixed across all writers).
    # An all-rejected batch stages NO index part: an empty parquet dir
    # (just _SUCCESS) would make the slow-path roll-forward's
    # schema-less read throw and wedge recovery.
    #
    # The base-part writes are SUBMITTED FIRST, so the vecs semi-join
    # count — the one Spark job that must resolve before the sim parts
    # can be shaped (it decides whether to stage them at all and their
    # shuffle width) — runs OVERLAPPED with them on the main thread
    # instead of serializing in front of the whole pool; the centroid
    # read moves inside the IVF job for the same reason. The plan is
    # still written after every part is on disk.
    extras: list[dict] = []
    # Delta tag (shared by the ANN and IVF parts): KEYED batches get
    # the deterministic (stream, batch_id) tag, so a redelivered batch
    # folds idempotently into the same delta dir (exactly-once).
    # UNKEYED batches reuse the staging's unique ``nokey_*`` name, so
    # two of them never share a delta dir (a batch commits whole or
    # not at all only if its dir holds that batch alone).
    if batch_id is not None:
        delta_tag = "b={}.{}".format(
            hashlib.md5(stream.encode()).hexdigest()[:10], int(batch_id)
        )
    else:
        delta_tag = "b=" + os.path.basename(staging)
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(j) for j in write_jobs]
        # the count doubles as the vector DIMENSION gate: one
        # aggregate verifies every admitted vector is EMB_DIM wide
        # before any index part ships it — still pre-commit (no
        # _committed marker yet), so a failed batch is GC'd whole
        if vecs is not None and (ann_index_dir or ivf_index_dir):
            from irio2024_mapreduce_spark.operators.similarity import (  # noqa: PLC0415
                count_with_dim_check,
            )

            n_vecs = count_with_dim_check(vecs, "batch_emb")
        else:
            n_vecs = 0
        # per-batch delta dirs: the layout's per-partition writer setup
        # is paid by the maintenance fold, once per window. Width
        # scales with rows (what remains is the shaping and the sort)
        width = max(1, min(16, -(-n_vecs // 1000)))
        roots = _similarity_roots(ann_index_dir, ivf_index_dir)
        for kind, root in roots if n_vecs else []:
            fam = stored_index.family(kind)
            m = stored_index.read_manifest(fam, root)
            dst = os.path.join(staging, f"{kind}_index")
            futures.append(pool.submit(
                stored_index.stage_delta, fam, spark, vecs, root, m, dst,
                width,
            ))
            extras.append({
                "kind": kind, "root": os.path.abspath(root),
                "staged": f"{kind}_index", "data": m["data"],
                "delta": delta_tag, "rows": n_vecs,
            })
        for fut in futures:
            fut.result()  # first failure propagates, batch aborts
    plan = {
        "stream": stream,
        "batch_id": None if batch_id is None else int(batch_id),
        "index_parts": [p for p in parts],
        "corpus_root": clean_path,
        "similarity_indexes": extras,
    }
    staged_commit.write_plan(staging, plan)


def _move_file(src: str, dst: str) -> str | None:
    """Move one staged file into place (its data was flushed before the
    commit). Returns the destination dir when its fsync is the
    caller's to batch (rename path), or None when durability was
    already settled here (cross-device path)."""
    try:
        # ONLY the rename is in the try: a directory-fsync error must
        # surface as itself, not misroute into the copy fallback
        os.rename(src, dst)
    except OSError as e:
        # the fallback is for CROSS-DEVICE staging only: any other
        # OSError (EACCES, ENOSPC, read-only fs, ...) is a genuine
        # publish failure that must surface as itself
        if e.errno != errno.EXDEV:
            raise
        # copy to a hidden temp name, fsync, atomic-replace, fsync the
        # DEST dir, and only then drop the source: the unlink (source
        # fs) must never become durable before the rename (dest fs),
        # or a power loss would lose the file on both sides and the
        # roll-forward would wrongly classify it as already moved
        tmp = os.path.join(
            os.path.dirname(dst),
            "." + os.path.basename(dst) + "._publish_tmp",
        )
        with open(src, "rb") as fin, open(tmp, "wb") as fout:
            shutil.copyfileobj(fin, fout)
            fout.flush()
            os.fsync(fout.fileno())
        os.replace(tmp, dst)
        fsync_dir(os.path.dirname(dst))
        os.unlink(src)
        return None
    return os.path.dirname(dst)


def _move_staged_files(src: str, dst: str) -> None:
    """Move every staged parquet data file into the live dir,
    preserving hive subdirs. Idempotent: files already moved by an
    earlier crashed attempt are simply absent from ``src``; each
    remaining move is one atomic rename. Destination-dir fsyncs are
    BATCHED — once per touched dir after the moves, not once per file
    (a directory fsync is a real disk barrier, and the only ordering
    that matters is all-dir-fsyncs BEFORE the staging rmtree that
    drops the sources)."""
    if not os.path.isdir(src):
        return  # fully moved by an earlier attempt
    touched: set[str] = set()
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        for name in files:
            if not name.endswith(".parquet"):
                continue  # _SUCCESS / .crc bookkeeping stays behind
            out_dir = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(out_dir, exist_ok=True)
            d = _move_file(
                os.path.join(root, name), os.path.join(out_dir, name)
            )
            if d is not None:
                touched.add(d)
    for d in sorted(touched):
        fsync_dir(d)


def _publish_staged(
    staging: str,
    _test_crash_after: str | None = None,
    known_committed: bool = False,
    plan: dict | None = None,
) -> None:
    """Commit and publish a staged batch, or roll an already-committed
    one forward (recovery path; idempotent). Takes the index and corpus
    advisory locks (in that fixed order, with patience) and runs
    swap-crash recovery on every publish target under them, the
    corpus included for both the compact and z-order suffix pairs
    (appending beside a crashed swap's ``._compact_old`` snapshot
    would split-brain it). Then it commits (flush, ``_committed``),
    moves the staged files into place and touches the keyed batch's
    external commit marker.

    A staging that lost its plan or vanished before publication (a
    generation flip replacing the index takes ``_staged/`` with it, in
    arbitrary file order) is finished only if its batch is accounted
    for: ``known_committed`` (set by recovery, which saw
    ``_committed``), a keyed batch's external marker (touched only
    after every move), or an unkeyed staging seen committed with its
    plan. Otherwise the OWNER raises: returning quietly would report a
    batch as ingested that is in neither index nor corpus."""
    name = os.path.basename(staging)
    index_dir = os.path.dirname(os.path.dirname(staging))
    plan = plan or staged_commit.read_plan(staging)
    # the commit state is snapshotted with the plan, before the lock wait
    was_committed = plan is not None and staged_commit.is_committed(staging)

    def vanished() -> None:
        if name.startswith("nokey_"):
            done = known_committed or was_committed
        else:
            done = known_committed or os.path.exists(
                _commit_marker_for_name(index_dir, name)
            )
        if not done:
            raise RuntimeError(
                f"{staging} was destroyed before publication (a "
                "generation flip replaced the index?) — the batch was "
                "NOT ingested; re-deliver it"
            )

    if plan is None:
        vanished()
        shutil.rmtree(staging, ignore_errors=True)
        return
    clean_path = plan["corpus_root"].rstrip("/")
    locks = []
    try:
        locks.append(staged_commit.acquire_patiently(index_dir))
        os.makedirs(os.path.dirname(clean_path), exist_ok=True)
        locks.append(staged_commit.acquire_patiently(clean_path))
        if not os.path.isdir(staging):
            vanished()
            return
        for part in plan["index_parts"]:
            recover_swap_crash(os.path.join(index_dir, part))
        recover_swap_crash(clean_path)
        recover_swap_crash(clean_path, "._zorder_tmp", "._zorder_old")
        if not staged_commit.is_committed(staging):
            staged_commit.commit(staging, _test_crash_after)
        for part in plan["index_parts"]:
            _move_staged_files(
                os.path.join(staging, part), os.path.join(index_dir, part)
            )
            staged_commit._crash_if(_test_crash_after, f"move:{part}")
        # resolve the corpus target at MOVE time, not plan time: a
        # versioned corpus may have flipped its pointer since the
        # crash, and a roll-forward must land in the CURRENT version
        target = clean_path
        if os.path.exists(os.path.join(clean_path, "_CURRENT")):
            target = resolve_current(clean_path)
        _move_staged_files(os.path.join(staging, "corpus"), target)
        staged_commit._crash_if(_test_crash_after, "move:corpus")
        for ex in plan["similarity_indexes"]:
            _publish_similarity_index(staging, ex)
            staged_commit._crash_if(_test_crash_after, f"move:{ex['staged']}")
        if plan["batch_id"] is not None:
            _touch_marker(index_dir, plan["batch_id"], plan["stream"])
        staged_commit._crash_if(_test_crash_after, "marker")
        # ignore_errors: a sibling's committed-without-plan GC can
        # interleave with this rmtree over the same published dir
        shutil.rmtree(staging, ignore_errors=True)
    finally:
        for lock in reversed(locks):
            release_compaction_lock(lock)


def _roll_forward(staging: str, plan: dict) -> None:
    """Recovery's publish of a staging it saw committed."""
    _publish_staged(staging, known_committed=True, plan=plan)


def _publish_similarity_index(staging: str, ex: dict) -> None:
    """Publish one staged similarity-index part under the index's own
    lock (see ``stored_index.publish_delta``)."""
    stored_index.publish_delta(
        os.path.join(staging, ex["staged"]), ex,
        staged_commit.acquire_patiently,
    )


def _similarity_roots(ann_index_dir, ivf_index_dir):
    """(family kind, index dir) of the given stored indexes, in the
    publish lock order."""
    return [
        (kind, root)
        for kind, root in (("ann", ann_index_dir), ("ivf", ivf_index_dir))
        if root
    ]


def recover_staged_batches(
    index_dir: str, strict: bool = False
) -> dict[str, int]:
    """Roll forward or discard every leftover batch staging under
    ``index_dir`` (``staged_commit.recover``). Run by ``ingest_batch``,
    ``read_recorded_manifest`` and ``compact_corpus_index`` on entry.
    A keyed name whose batch has not committed may be staged again by a
    redelivery, so its lock file is kept.

    Returns {rolled_forward, discarded, in_flight}. ``strict`` makes a
    committed-but-unpublishable staging (lock patience exhausted)
    re-raise instead of counting as in_flight: the ADMISSION path must
    not probe an index missing committed rows (it would re-admit their
    duplicates), while pure readers (manifest replay, compaction
    entry) may proceed."""

    def reusable(name: str) -> bool:
        return not name.startswith("nokey_") and not os.path.exists(
            _commit_marker_for_name(index_dir, name)
        )

    return staged_commit.recover(
        index_dir, _roll_forward, reusable=reusable, strict=strict
    )


# per-batch manifest parquet schema — fixed so replay reads and
# appends agree (a dict-inferred schema could reorder/retype columns)
_MANIFEST_KEYS = [
    "batch_in",
    "exact_dups",
    "near_dups",
    "killed_null_text",
    "killed_too_short",
    "killed_too_repetitive",
    "killed_no_stopwords",
    "contaminated_removed",
    "appended",
]
_MANIFEST_SCHEMA = "stream string, batch_id long, " + ", ".join(
    f"{k} long" for k in _MANIFEST_KEYS
)


def _touch_marker(index_dir: str, batch_id: int, stream: str) -> None:
    """Write the O(1) commit marker (single definition — the writer
    and the cache regenerator must never diverge on location or
    format)."""
    marker = _commit_marker(index_dir, batch_id, stream)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        f.write("committed\n")


def _commit_marker(index_dir: str, batch_id: int, stream: str) -> str:
    """O(1) existence check for a committed (stream, batch_id): a
    marker FILE under ``_commit_markers`` — deliberately OUTSIDE the
    ``manifests`` parquet dir, which ``compact_corpus_index`` swaps
    wholesale (markers living inside it would be deleted with the old
    dir, silently reverting every batch to 'never committed').
    Without the marker every batch — including the common non-replay
    case — paid a full scan of the ever-growing manifests parquet
    before doing any work."""
    return _commit_marker_for_name(index_dir, _staging_name(batch_id, stream))


def _commit_marker_for_name(index_dir: str, name: str) -> str:
    """Marker path from a keyed staging name: the marker and the
    staging share the ``{tag}_{batch_id}`` name (:func:`_staging_name`)."""
    return os.path.join(index_dir, "_commit_markers", name)


def _recover_index_part(index_dir: str, part: str) -> None:
    """Crash recovery for one index part, runnable by any reader or
    writer BEFORE touching the dir — the shared
    ``sinks.recover_swap_crash`` classification under the index's
    advisory lock. Centralizing this (instead of treating
    ``._compact_old`` as an alternate readable location) prevents
    split-brain: a fresh append creating a live dir beside a crashed
    swap's snapshot would make later readers prefer the near-empty
    live dir and the next compaction delete the snapshot as post-swap
    garbage, destroying the pre-crash rows. The lock serializes the
    destructive rename/rmtree against a LIVE compaction and against
    concurrent recoverers; a crashed holder's flock released with its
    process, so the crash that created the leftovers cannot also wedge
    their recovery. Contention waits briefly (a sibling's recovery is
    sub-second); a genuinely long hold (a real compaction) still
    surfaces as the loud error."""
    path = os.path.join(index_dir, part)
    if not (
        os.path.exists(path + "._compact_tmp")
        or os.path.exists(path + "._compact_old")
    ):
        return
    lock = acquire_compaction_lock_patiently(index_dir)
    try:
        recover_swap_crash(path)
    finally:
        release_compaction_lock(lock)


def _manifest_rows_path(index_dir: str) -> str | None:
    """Where the manifest ROWS live, after crash recovery
    (:func:`_recover_index_part`) has run: the live dir or None."""
    _recover_index_part(index_dir, "manifests")
    path = os.path.join(index_dir, "manifests")
    return path if os.path.exists(path) else None


def _read_manifest_rows(spark: SparkSession, index_dir: str):
    """The manifests parquet in its fixed column order."""
    df = spark.read.option("mergeSchema", "true").parquet(
        _manifest_rows_path(index_dir)
    )
    return df.select(
        F.coalesce(F.col("stream"), F.lit("")).alias("stream"),
        "batch_id",
        *_MANIFEST_KEYS,
    )


def _read_stats_rows(spark: SparkSession, index_dir: str) -> DataFrame:
    """The stats parquet in its fixed column order (seed and
    correction rows carry a NULL batch_id)."""
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(index_dir, "stats")
    )
    return df.select(
        "stream", "batch_id", "docs", "tokens",
        "text_sketch", "token_sketch",
    )


def _dedupe_manifest_rows(df: DataFrame) -> DataFrame:
    """One row per (stream, batch_id): the row read_recorded_manifest's
    replay would pick (``appended`` desc, then every counter desc —
    the crash-duplicated re-run row charges everything to exact_dups
    with appended=0, so the original always wins)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("stream", "batch_id").orderBy(
        *[F.col(k).desc() for k in _MANIFEST_KEYS[::-1]]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def regenerate_commit_markers(spark: SparkSession, index_dir: str) -> int:
    """Rebuild the O(1) marker set from the manifest ROWS (the rows
    are the durable record; markers are a cache). Called after
    compaction's manifests swap, and usable as a one-shot backfill
    of lost markers.
    Returns the number of markers present afterwards."""
    if _manifest_rows_path(index_dir) is None:
        return 0
    keys = (
        _read_manifest_rows(spark, index_dir)
        .select("stream", "batch_id")
        .distinct()
        .collect()
    )
    for r in keys:
        _touch_marker(index_dir, r["batch_id"], r["stream"])
    return len(keys)


def record_manifest(
    spark: SparkSession,
    index_dir: str,
    batch_id: int,
    manifest: dict,
    stream: str = "",
) -> None:
    """Persist one batch's manifest row keyed by (``stream``,
    ``batch_id``) — the exactly-once commit record for
    :func:`ingest_batch` — then touch the O(1) commit marker. A crash
    between the row append and the marker touch means the replay
    reprocesses the batch (admission is idempotent; the duplicate
    manifest row is audit noise, not corpus corruption)."""
    # crash recovery BEFORE appending: creating a fresh live dir
    # beside a swap-crashed snapshot would split-brain the record
    # (readers prefer the near-empty live dir; the next compaction
    # deletes the snapshot as post-swap garbage)
    _recover_index_part(index_dir, "manifests")
    row = (
        stream,
        int(batch_id),
        *[int(manifest[k]) for k in _MANIFEST_KEYS],
    )
    spark.createDataFrame([row], _MANIFEST_SCHEMA).write.mode(
        "append"
    ).parquet(os.path.join(index_dir, "manifests"))
    _touch_marker(index_dir, batch_id, stream)


def read_recorded_manifest(
    spark: SparkSession,
    index_dir: str,
    batch_id: int,
    stream: str = "",
) -> dict | None:
    """The recorded manifest for (``stream``, ``batch_id``), or None
    if the batch never committed (crashed before its manifest write ⇒
    replay re-runs it; admission is idempotent so the corpus stays
    clean and the re-run's manifest charges the docs to exact_dups).
    The marker file makes the no-replay fast path O(1); the parquet
    rows are read only when the marker says a prior commit exists."""
    # a committed-but-unpublished batch must roll forward before the
    # replay check (its marker and manifest rows land during the
    # roll-forward); cheap when no staging exists (one listdir)
    recover_staged_batches(index_dir)
    if not os.path.exists(_commit_marker(index_dir, batch_id, stream)):
        return None
    if _manifest_rows_path(index_dir) is None:
        # stale marker without any manifest rows (manual deletion) —
        # treat as never committed rather than crashing the replay
        return None
    rows = (
        _read_manifest_rows(spark, index_dir)
        .filter(
            (F.col("batch_id") == int(batch_id))
            & (F.col("stream") == stream)
        )
        .collect()
    )
    if not rows:
        return None
    # a crash between the row append and the marker touch leaves TWO
    # rows for the key (the original and the re-run's all-exact-dups
    # row); an unordered collect would replay a nondeterministic one.
    # Pick the row with the most appended docs (the original), with
    # the full counter tuple as a deterministic tie-break.
    r = max(
        rows, key=lambda r: tuple(int(r[k]) for k in _MANIFEST_KEYS[::-1])
    ).asDict()
    r.pop("batch_id")
    r.pop("stream")
    return {k: int(v) for k, v in r.items()}


def _append_stats_row(
    cleaned: DataFrame, index_dir: str, mode: str = "append"
) -> None:
    """One MERGEABLE stats row per corpus increment: exact counters
    plus HLL sketches (Apache DataSketches via ``hll_sketch_agg``) of
    the distinct texts and distinct tokens contributed. Corpus-wide
    stats then come from merging the rows (:func:`corpus_stats`) —
    the 100 TB primitive: distinct counts over the whole corpus
    WITHOUT ever rescanning it, at a few KB of state per batch. (The
    crossJoin is two 1-row aggregates — bounded by construction.)

    Recovery-first like the manifests path: stats is the other part
    appended WITHOUT a prior read, so appending beside a crashed
    swap's ``._compact_old`` snapshot would split-brain it and the
    next compaction would delete every historical row — HLL state
    that by the 100 TB premise can't be recomputed."""
    _recover_index_part(index_dir, "stats")
    _stats_row_df(cleaned).write.mode(mode).parquet(
        os.path.join(index_dir, "stats")
    )


def _stats_row_df(cleaned: DataFrame) -> DataFrame:
    """One mergeable stats row, in the FULL six-column schema (null
    (stream, batch_id) key — the unkeyed class: seed and correction
    rows; ingest staging overrides the key columns). One schema per
    writer keeps the part read-normalizable (:func:`_read_stats_rows`)."""
    doc_stats = cleaned.agg(
        F.count("*").alias("docs"),
        F.coalesce(
            F.sum(F.size(F.split("text", " "))).cast("long"), F.lit(0)
        ).alias("tokens"),
        F.hll_sketch_agg(F.md5("text")).alias("text_sketch"),
    )
    tok_stats = (
        cleaned.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .agg(F.hll_sketch_agg("t").alias("token_sketch"))
    )
    return doc_stats.crossJoin(tok_stats).select(
        F.lit(None).cast("string").alias("stream"),
        F.lit(None).cast("long").alias("batch_id"),
        "docs", "tokens", "text_sketch", "token_sketch",
    )


def seed_index_from_prepared(
    spark: SparkSession,
    raw_survivors: DataFrame,
    cleaned: DataFrame,
    index_dir: str,
    family: str = "ngram",
    benchmark: DataFrame | None = None,
) -> None:
    """Bridge from the one-shot build to the daily pipeline: write
    the shipped corpus's ingest indexes (md5 hashes + the ``family``
    near-dup half over ``raw_survivors`` — the PRE-scrub text,
    ingest's dedup convention) and its stats row, so ``ingest_batch``
    continues the corpus from day one. ``benchmark`` (the held-out
    eval stripe) additionally stores its n-gram digest set so every
    future batch decontaminates — ``prepare_corpus`` passes it
    automatically. EVERY part is overwrite — seeding is day-zero, so
    a re-run of the build replaces the index wholesale (an appended
    stats row here would double-count corpus_stats on every build
    retry) — including the exactly-once manifests and the stream
    checkpoint, which belong to the replaced life
    (:func:`_clear_prior_life`).

    Quarantine lifecycle: docs tagged
    ``split='quarantined'`` stay IN the dedup index (``raw_survivors``
    carries them — they were admitted, and they must keep convicting
    tomorrow's redelivered duplicates) but are EXCLUDED from the
    stats census — ``corpus_stats`` drives training-size accounting,
    and a quarantined doc is shipped for review, not trainable."""
    if family not in ("ngram", "lsh"):
        # validate BEFORE the destructive clear — a typo'd family must
        # not wipe the live index's exactly-once state
        raise ValueError(f"unknown index family: {family!r}")
    if "split" in cleaned.columns:
        # null-safe, matching reconcile_corpus_duplicates' census
        # modes: a NULL split is not quarantined and belongs in the
        # census — a plain != here would seed a census the measured
        # true-up (which includes NULL splits) later "corrects"
        cleaned = cleaned.filter(
            ~F.col("split").eqNullSafe("quarantined")
        )
    _clear_prior_life(index_dir)
    corpus_index_hashes(raw_survivors).write.mode("overwrite").parquet(
        os.path.join(index_dir, "hashes")
    )
    if family == "ngram":
        corpus_index_postings(raw_survivors).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, "postings"))
    else:  # "lsh" — the only other family the entry guard admits
        corpus_index_bands(raw_survivors).write.mode("overwrite").parquet(
            os.path.join(index_dir, "bands")
        )
        corpus_index_rep_shingles(raw_survivors).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, "rep_shingles"))
    if benchmark is not None:
        benchmark_ngram_digests(benchmark).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, "benchmark_ngrams"))
    _append_stats_row(cleaned, index_dir, mode="overwrite")
    _write_index_manifest(index_dir, family, benchmark is not None)


def corpus_stats(spark: SparkSession, index_dir: str) -> dict[str, int]:
    """Corpus-wide statistics from the per-batch stats rows alone —
    exact counters sum, HLL sketches merge (``hll_union_agg``); the
    shipped corpus is never rescanned. At 100 TB this is the only
    affordable way to keep live distinct-token / distinct-text
    counts over a growing corpus.

    Keyed rows (ingest batches) dedupe here the way manifest
    rows dedupe in their replay read: a SIGKILLed publication
    replayed wholesale appends a second stats row for the same
    (stream, batch_id), and without the dedupe the census drifted by
    one batch per replay, permanently. Docs-desc picks the original
    full admission over a re-run that re-convicted some docs; null
    keys (seed rows, reconciliation corrections) are kept as-is."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    stats = _read_stats_rows(spark, index_dir)
    keyed = stats.filter(F.col("batch_id").isNotNull())
    unkeyed = stats.filter(F.col("batch_id").isNull())
    w = Window.partitionBy("stream", "batch_id").orderBy(
        F.col("docs").desc(), F.col("tokens").desc()
    )
    keyed = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    stats = unkeyed.unionByName(keyed)
    row = stats.agg(
        F.sum("docs").alias("docs"),
        F.sum("tokens").alias("tokens"),
        F.hll_sketch_estimate(
            F.hll_union_agg("text_sketch")
        ).alias("approx_distinct_texts"),
        F.hll_sketch_estimate(
            F.hll_union_agg("token_sketch")
        ).alias("approx_distinct_tokens"),
    ).collect()[0]
    return {
        "docs": int(row["docs"] or 0),
        "tokens": int(row["tokens"] or 0),
        "approx_distinct_texts": int(row["approx_distinct_texts"] or 0),
        "approx_distinct_tokens": int(row["approx_distinct_tokens"] or 0),
    }


def reconcile_corpus_duplicates(
    spark: SparkSession,
    index_dir: str,
    corpus_path: str,
    census_from_corpus: bool | str = False,
) -> dict:
    """Deep-maintenance reconciliation of the TWO corpus anomalies
    optimistic multi-writer ingest can leave (both caught by the
    4-stream chaos soak):

    * cross-writer race — two concurrent ``ingest_batch`` calls
      carrying the same text both probe the dedup index BEFORE
      either's rows publish (verdicts are computed lock-free; only
      publication serializes), so both copies land under different
      doc_ids;
    * replayed publication — a SIGKILL between a publish's corpus
      move and its external marker touch, composed with the staging
      lost to a racing GC/flip, re-runs the whole batch: the same
      doc_ids land physically twice (the index parts' copies are the
      crash-replay duplicates maintenance already compacts; the
      corpus had no analog).

    Serializing admission would kill writer concurrency (wrong at
    100 TB); the lakehouse answer is optimistic ingest +
    reconciliation at the quiesced deep pass, which this implements
    in two idempotent phases under the index→corpus locks (the
    publish lock order):

    1. duplicate removal — group the live corpus by ``sha2(text)``;
       each >1 group keeps its LOWEST doc_id (ingest's earlier-doc
       rule) and the rest are dropped in one filtered rewrite. Flat
       corpora swap through the compactor's own ``._compact_tmp`` /
       ``._compact_old`` suffix pair, so every existing
       ``recover_swap_crash`` call already recovers a crash here;
       versioned corpora write version N+1 and flip the pointer.
    2. census correction — one stats row negating the non-quarantined
       docs that lost ENTIRELY (one subtraction per distinct lost
       doc_id; replay copies of a surviving doc subtract nothing —
       their duplicated keyed stats rows already dedupe out of
       ``corpus_stats``; quarantined docs never entered the census),
       carrying the losers' own HLL sketches: union is
       idempotent and the surviving copy contributes the identical
       text/token values, so distinct estimates are untouched while
       the exact sums true up. Loser-arithmetic by DEFAULT, not a
       global corpus-vs-census measurement: ``corpus_stats`` may
       legitimately cover docs that live outside ``corpus_path``
       (``build_corpus_index`` seeds the index+census over an
       existing corpus held elsewhere), so only what this pass itself
       removed is its to subtract. A crash between the swap commit
       and the correction append leaves the census high by that
       pass's losers — advisory drift, bounded, erased wholesale by
       the next ``prepare_corpus`` regeneration (which rewrites the
       stats part) and never self-repeating (the rerun finds no dups
       and appends nothing).

    ``census_from_corpus=True`` — for SELF-CONTAINED corpora (the
    ``prepare_corpus``/``seed_index_from_prepared`` lifecycle, where
    every censused doc lives in ``corpus_path``) — replaces phase 2
    with a MEASURED true-up: append one correction row making the
    census equal the post-rewrite non-quarantined corpus exactly.
    ``census_from_corpus="external"`` — for the ``build_corpus_index``
    EXTERNAL-seed lifecycle (the seed docs are censused but live
    outside ``corpus_path``, so neither pure
    measurement nor loser arithmetic covers composed-replay drift
    there) — trues the census up to seed-rows + measured
    non-quarantined ``corpus_path``: the seed subtotal is the sum of
    the UNTAGGED unkeyed stats rows (seed rows carry NULL
    stream/batch_id; correction rows are tagged
    stream=``__correction__`` precisely so this
    decomposition is well-defined), and the keyed + correction
    accounting of the corpus_path domain is replaced wholesale by the
    measurement. The external corpus is NEVER rescanned — its census
    is the immutable seed row, which no ingest path can drift.
    Arithmetic alone can go off by one under composed replay races
    (two replays of one batch can
    admit DIFFERENT verdict sets — one convicting a cross-stream
    duplicate the other raced past — while the keyed stats dedupe
    keeps only one run's summary, so no per-row accounting of the
    kept summary matches the physical union). Measurement heals
    every such shape idempotently; it is opt-in because it is only
    CORRECT when the census's whole domain is the corpus dir.

    Dedup-index rows of removed docs stay (conviction needs only
    SOME row per digest, and the survivor shares it); stored
    similarity-index rows of removed docs stay until the next deep
    index pass (probes answer by corpus doc ids, which no longer
    include the losers)."""
    from irio2024_mapreduce_spark.sources.sinks import (  # noqa: PLC0415
        _flip_pointer,
    )

    corpus_path = corpus_path.rstrip("/")
    locks = []
    try:
        locks.append(staged_commit.acquire_patiently(index_dir))
        locks.append(staged_commit.acquire_patiently(corpus_path))
        # recovery-first, mirroring _publish_staged: this pass runs
        # FIRST in the deep order, so it is
        # the reader that trips over a predecessor's crashed flat swap
        # — a leftover ._compact_old beside a live dir would make this
        # pass's own os.rename(corpus, old) fail ENOTEMPTY, and an old
        # WITHOUT a live dir (crash between the two renames) means
        # corpus_path itself is absent until restored
        recover_swap_crash(corpus_path)
        recover_swap_crash(corpus_path, "._zorder_tmp", "._zorder_old")
        versioned = os.path.exists(
            os.path.join(corpus_path, "_CURRENT")
        )
        target = (
            resolve_current(corpus_path) if versioned else corpus_path
        )
        art = spark.read.parquet(target)
        has_split = "split" in art.columns
        art_d = art.withColumn("_d", F.sha2("text", 256))
        winners = (
            art_d.groupBy("_d")
            .agg(
                F.min("doc_id").alias("_keep"),
                F.count("*").alias("_n"),
            )
            .filter(F.col("_n") > 1)
            .localCheckpoint(eager=True)
        )
        dup_groups = winners.count()
        losers_removed = 0
        d_docs = d_tokens = 0
        if dup_groups:
            from pyspark.sql.window import Window  # noqa: PLC0415

            # row_number, not a doc_id filter: a replayed publication
            # leaves two PHYSICAL copies of the SAME doc_id, which an
            # equality
            # filter would keep both of. One row survives per digest
            # — the min-doc_id one; extra copies of any doc_id
            # collapse with it. Both frames materialized BEFORE the
            # swap deletes the source files.
            wd = Window.partitionBy("_d").orderBy("doc_id")
            ranked = art_d.withColumn(
                "_keep", F.min("doc_id").over(Window.partitionBy("_d"))
            ).withColumn("_rn", F.row_number().over(wd))
            losers = (
                ranked.filter(F.col("_rn") > 1)
                .localCheckpoint(eager=True)
            )
            losers_removed = losers.count()
            survivors = (
                ranked.filter(F.col("_rn") == 1)
                .drop("_d", "_keep", "_rn")
                .localCheckpoint(eager=True)
            )
            writer = survivors.write.mode("overwrite")
            if has_split:
                writer = writer.partitionBy("split")
            if versioned:
                cur_n = int(os.path.basename(target)[1:])
                new_dir = os.path.join(corpus_path, f"v{cur_n + 1}")
                if os.path.exists(new_dir):
                    shutil.rmtree(new_dir)
                writer.parquet(new_dir)
                _flip_pointer(corpus_path, cur_n + 1)  # commit point
                target = new_dir
            else:
                tmp = corpus_path + "._compact_tmp"
                old = corpus_path + "._compact_old"
                if os.path.exists(tmp):
                    shutil.rmtree(tmp)
                writer.parquet(tmp)
                os.rename(corpus_path, old)
                os.rename(tmp, corpus_path)
                shutil.rmtree(old)
            if not census_from_corpus:
                # phase 2 (ledger mode): census correction for the
                # non-quarantined DOCS that lost entirely — one
                # subtraction per distinct lost doc_id (a doc_id
                # never spans digests: same id ⇒ same text). Replay
                # copies of a SURVIVING doc_id subtract nothing:
                # their duplicated stats rows carry the same
                # (stream, batch_id) key and dedupe out of
                # corpus_stats at read, so the census already counts
                # that doc exactly once. Quarantined docs never
                # entered the census.
                non_q = losers.filter(
                    F.col("doc_id") != F.col("_keep")
                ).dropDuplicates(["doc_id"])
                if has_split:
                    # null-safe: a plain != also drops NULL splits,
                    # silently excluding
                    # such rows from loser subtraction
                    non_q = non_q.filter(
                        ~F.col("split").eqNullSafe("quarantined")
                    )
                loss = non_q.agg(
                    F.count("*").alias("docs"),
                    F.coalesce(
                        F.sum(F.size(F.split("text", " ")))
                        .cast("long"),
                        F.lit(0),
                    ).alias("tokens"),
                ).collect()[0]
                d_docs = -int(loss["docs"])
                d_tokens = -int(loss["tokens"])
                if d_docs or d_tokens:
                    # tagged: corrections must be separable
                    # from seed rows for the external measured mode;
                    # batch_id stays NULL so the census's unkeyed
                    # class still sums them as-is
                    correction = _stats_row_df(non_q).select(
                        F.lit("__correction__").alias("stream"),
                        "batch_id",
                        F.lit(d_docs).cast("long").alias("docs"),
                        F.lit(d_tokens).cast("long").alias("tokens"),
                        "text_sketch",
                        "token_sketch",
                    )
                    correction.write.mode("append").parquet(
                        os.path.join(index_dir, "stats")
                    )
        if census_from_corpus:
            # phase 2 (measured mode): make the census equal the
            # measured truth exactly — runs even with zero dup
            # groups, since replay races can drift the ledger without
            # leaving physical duplicates (see the docstring). Truth =
            # measured corpus_path for self-contained corpora; seed
            # rows + measured corpus_path for the external-seed
            # lifecycle ("external").
            live = spark.read.parquet(target)
            # null-safe: a NULL split is not quarantined and must stay
            # in the measured census
            non_q_live = (
                live.filter(~F.col("split").eqNullSafe("quarantined"))
                if has_split
                else live
            )
            actual = non_q_live.agg(
                F.count("*").alias("docs"),
                F.coalesce(
                    F.sum(F.size(F.split("text", " "))).cast("long"),
                    F.lit(0),
                ).alias("tokens"),
            ).collect()[0]
            census = corpus_stats(spark, index_dir)
            base_docs = base_tokens = 0
            if census_from_corpus == "external":
                # Seed subtotal = the UNTAGGED unkeyed rows. Correction
                # rows written before the `__correction__` tagging
                # carry the same NULL/NULL key; counting them as seed
                # mass would true the census up to a permanently wrong
                # total on a ledger with such reconciliations. Untagged
                # corrections are ledger-mode
                # LOSER SUBTRACTIONS — always non-positive, while a
                # seed row is a real census contribution (docs ≥ 0 and
                # tokens ≥ 0) — so the sign separates the classes
                # exactly; no migration write needed.
                seed = (
                    _read_stats_rows(spark, index_dir)
                    .filter(
                        F.col("batch_id").isNull()
                        & F.col("stream").isNull()
                        & (F.col("docs") >= 0)
                        & (F.col("tokens") >= 0)
                    )
                    .agg(
                        F.coalesce(F.sum("docs"), F.lit(0)).alias("d"),
                        F.coalesce(F.sum("tokens"), F.lit(0)).alias("t"),
                    )
                    .collect()[0]
                )
                base_docs, base_tokens = int(seed["d"]), int(seed["t"])
            d_docs = base_docs + int(actual["docs"]) - census["docs"]
            d_tokens = (
                base_tokens + int(actual["tokens"]) - census["tokens"]
            )
            if d_docs or d_tokens:
                correction = _stats_row_df(non_q_live).select(
                    F.lit("__correction__").alias("stream"),
                    "batch_id",
                    F.lit(d_docs).cast("long").alias("docs"),
                    F.lit(d_tokens).cast("long").alias("tokens"),
                    "text_sketch",
                    "token_sketch",
                )
                correction.write.mode("append").parquet(
                    os.path.join(index_dir, "stats")
                )
        ran = bool(dup_groups or d_docs or d_tokens)
        return {
            "ran": ran,
            "reason": (
                f"{dup_groups} duplicate text groups; removed "
                f"{losers_removed} late copies (census {d_docs:+d} "
                f"docs {d_tokens:+d} tokens)"
                if ran
                else "no duplicate texts"
            ),
            "dup_groups": dup_groups,
            "losers_removed": losers_removed,
            "census_delta_docs": d_docs,
            "census_delta_tokens": d_tokens,
        }
    finally:
        for lock in reversed(locks):
            release_compaction_lock(lock)


def compact_corpus_index(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, dict[str, int]]:
    """Periodic maintenance over an append-grown ingest index — the
    amortized complement to the probes' ``recap_stored`` guard.

    A year of daily appends leaves the index with (a) one small file
    set per batch per part, (b) md5/posting rows duplicated by
    crash-replayed batches (the admission path is idempotent, the
    index appends are at-least-once — module docstring), and (c) hot
    (len_band, sh) / (band, band_hash) buckets grown past their cap
    ACROSS appends (each append only caps its own contribution). The
    probe-time re-cap keeps admission correct regardless, at a
    per-batch cost; this pass pays once instead:

    * ``hashes`` / ``benchmark_ngrams`` → ``distinct`` (replay dups);
    * ``postings`` → full-row dedupe, then a corpus-wide
      ``_cap_buckets`` drop over the RETAINED rows — an over-cap
      bucket is physically removed. Honest limit (same as the
      probe-time guard): per-append capping already dropped any
      single append's over-cap contribution wholesale, so this equals
      a fresh-from-raw rebuild only when no individual append
      overflowed the cap; otherwise the stored bucket under-counts
      and the divergence is one-sided in the cap's own direction
      (hot buckets lose more rows, never gain);
    * ``bands`` → full-row dedupe + ``LSH_BUCKET_CAP`` re-cap;
      ``rep_shingles`` → dedupe by doc_id;
    * ``stats`` → rows preserved verbatim (the mergeable counters);
      ``manifests`` → one row per (stream, batch_id), then the O(1)
      commit markers are REGENERATED from the retained rows — they
      live outside the swapped dir, and rebuilding them here also
      backfills lost markers.
      Files collapsed to the byte target in both.

    Buckets regrow from post-compaction appends (their count restarts,
    as it would after any rebuild), so ``recap_stored`` stays the
    default for stored-index probes; compaction bounds how much work
    that guard does. Swap per part is the flat compactor's
    tmp/old double-rename with the same crash signatures and
    recovery; the advisory lock is taken on ``index_dir`` and
    ``ingest_batch`` honors it, so a scheduled compaction and a
    late-running ingest fail loudly instead of losing appends.
    Returns per-part {rows_before, rows_after, files_before,
    files_after}."""
    import glob as _glob
    import shutil as _shutil

    from irio2024_mapreduce_spark.sources.sinks import (  # noqa: PLC0415
        acquire_compaction_lock,
    )

    meta = read_index_manifest(index_dir)
    # roll forward / GC crashed staged batches BEFORE snapshotting the
    # parts (recovery takes and releases the locks itself): a
    # committed batch's unpublished files must be in the snapshot,
    # not silently orphaned in staging while the parts they target
    # get swapped under them
    recover_staged_batches(index_dir)
    transforms = {
        "hashes": lambda df: df.distinct(),
        "benchmark_ngrams": lambda df: df.distinct(),
        "postings": lambda df: _cap_buckets(
            df.dropDuplicates(), ["len_band", "sh"], NGRAM_POSTING_CAP
        ),
        "bands": lambda df: _cap_buckets(
            df.dropDuplicates(), ["band", "band_hash"], LSH_BUCKET_CAP
        ),
        "rep_shingles": lambda df: df.dropDuplicates(["doc_id"]),
        # rows preserved verbatim in the fixed column order — the
        # replay dedupe happens at corpus_stats read time, where the
        # winner rule lives
        "stats": lambda _df: _read_stats_rows(spark, index_dir),
        # deduped to ONE row per (stream, batch_id) with the same
        # winner rule read_recorded_manifest replays (appended desc,
        # full counter tuple as tie-break) — crash-duplicated keys
        # stop being a nondeterministic replay hazard after the pass
        "manifests": lambda _df: _dedupe_manifest_rows(
            _read_manifest_rows(spark, index_dir)
        ),
    }
    assert meta["family"] in ("ngram", "lsh")

    def _files(path: str) -> list[str]:
        return [
            f
            for f in _glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isfile(f)
        ]

    report: dict[str, dict[str, int]] = {}
    lock = acquire_compaction_lock(index_dir)
    try:
        for name, transform in transforms.items():
            path = os.path.join(index_dir, name)
            tmp, old = path + "._compact_tmp", path + "._compact_old"
            # crash recovery — THE shared classification (held lock
            # satisfies recover_swap_crash's exclusion contract)
            recover_swap_crash(path)
            if not os.path.exists(path):
                continue
            before_files = _files(path)
            total_bytes = sum(os.path.getsize(f) for f in before_files)
            n_out = max(1, -(-total_bytes // target_file_bytes))
            df = spark.read.parquet(path)
            rows_before = df.count()
            out = transform(df)
            out.repartition(n_out).write.mode("overwrite").parquet(tmp)
            os.rename(path, old)
            os.rename(tmp, path)
            _shutil.rmtree(old)
            report[name] = {
                "rows_before": rows_before,
                "rows_after": spark.read.parquet(path).count(),
                "files_before": len(before_files),
                "files_after": len(_files(path)),
            }
        # markers are a CACHE of the manifest rows — regenerate them
        # after the manifests swap (this also backfills lost markers)
        regenerate_commit_markers(spark, index_dir)
    finally:
        release_compaction_lock(lock)
    return report
