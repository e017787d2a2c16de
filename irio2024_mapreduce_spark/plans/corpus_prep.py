"""End-to-end corpus preparation — the materializing pipeline a
training-data team actually runs, composed from the oracle-checked
operator stages (each stage reuses the same column helpers its report
query is hash-verified with):

0. **benchmark holdout** — the eval stripe (doc_id % 10 == 8, the
   same fixture role ``decontaminate`` is hash-checked with) is
   carved out of the training pool up front. It is never trainable —
   and decontaminating a pool that still CONTAINS the benchmark
   would convict every benchmark doc of matching itself.
1. **exact dedup** — one representative (min doc_id) per distinct
   sha2 digest via ``dedup._collapse_reps``, the collapse every dedup
   family shares: winner ids from a groupBy over (digest, doc_id),
   rows attached by semi-join — NOT a window partitioned by the
   digest, which would buffer a heavily-duplicated text's whole
   group inside one WindowExec task; see dedup._cap_buckets.
   NULL-text rows pass through untouched (the funnel owns them) so
   every kill is attributed to exactly one stage.
2-5. **the cleaning chain** shared with the daily ``plans.ingest``
   (``plans.cleaning``): keep-first near dedup → quality funnel →
   decontamination against the stripe's 13-gram digests → PII scrub.
6. **sequence packing** — `pack_docs` two-phase distributed prefix
   sum over the CLEANED text's token counts.

Outputs: ``clean_documents.parquet`` (scrubbed survivors) and
``packs.parquet`` (doc → pack assignment), plus a manifest dict of
per-stage attrition — the numbers every run must ship with. The
manifest tiles ``docs_in`` exactly: every input doc is held out,
killed by exactly one stage, or shipped.

Scale shape: stages 0-1 are map-only filters plus one agg on 32-byte
digests; stages 2-5 are the chain's (see ``plans.cleaning``); stage 6
is the pinned two-phase scan. Nothing here collects to the driver
except the manifest's counts.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    NEAR_FAMILIES,
    _collapse_reps,
)
from irio2024_mapreduce_spark.operators.llm_prep import (
    benchmark_ngram_digests,
    pack_docs,
    pack_docs_bpe,
    quarantine_split_docs,
    split_docs,
)
from irio2024_mapreduce_spark.plans.cleaning import clean_docs
from irio2024_mapreduce_spark.plans.ingest import _trainable, _write_index
from irio2024_mapreduce_spark.sources import staged_commit
from irio2024_mapreduce_spark.sources.sinks import (
    SimulatedCrash,
    mark_swap_ready,
    release_compaction_lock,
    replace_dataset,
    reraise_if_vanished_input,
)
from irio2024_mapreduce_spark.sources.tables import load_table

# the eval-benchmark stripe — the fixture role decontaminate's driver
# oracle is hash-checked with
BENCHMARK_STRIPE = 8

# ---------------------------------------------- transactional publish
# prepare_corpus's three artifacts (corpus, packs, and the seeded ingest
# index) are one staged commit (``sources.staged_commit``) under
# ``{out_dir}/_staged/prep_{uuid}/``. What is prep's own: the target
# list, and publication by moving each staged part into place with
# ``sinks.replace_dataset``. The moves are directory renames, so out_dir
# and index_dir must live on one filesystem (EXDEV surfaces loudly; a
# committed generation retries after the operator moves the target).


def _commit_and_publish(
    staging: str,
    clean_path: str,
    packs_path: str,
    index_dir: str | None,
    _test_crash_after: str | None = None,
) -> None:
    targets = [
        ["corpus", os.path.abspath(clean_path)],
        ["packs", os.path.abspath(packs_path)],
    ]
    if index_dir is not None:
        targets.append(["index", os.path.abspath(index_dir)])
    plan = {"targets": targets}
    staged_commit.write_plan(staging, plan)
    staged_commit.commit(staging, _test_crash_after)
    _publish_prepared(staging, plan, _test_crash_after)


def _publish_prepared(
    staging: str, plan: dict, _test_crash_after: str | None = None
) -> None:
    """Swap every staged artifact into place with
    ``sinks.replace_dataset`` — idempotent, so a crash at any step
    resumes here on the next roll-forward. Each target's fill moves the
    committed staged part in as the new contents (:func:`_move_in`).

    Locking is two-level: ONE whole-publication lock on ``out_dir``
    serializes concurrent generation flips (per-target locks alone
    could interleave two publications into corpus-of-A + packs-of-B),
    and each target's swap also takes that target's advisory
    compaction lock, so a concurrent ingest append or compaction of
    the same corpus fails loudly instead of interleaving with the
    flip. Lock order (out_dir → target) is acyclic with every other
    writer: nothing else takes the out_dir lock."""
    out_dir = os.path.dirname(os.path.dirname(staging))
    pub_lock = staged_commit.acquire_patiently(out_dir)
    try:
        for name, target in plan["targets"]:
            src = os.path.join(staging, name)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            lock = staged_commit.acquire_patiently(target)
            try:
                replace_dataset(target, functools.partial(_move_in, src))
            finally:
                release_compaction_lock(lock)
            staged_commit._crash_if(_test_crash_after, f"swap:{name}")
    finally:
        release_compaction_lock(pub_lock)
    shutil.rmtree(staging, ignore_errors=True)


def _move_in(src: str, tmp: str) -> None:
    """The fill of a prep swap: the committed staged part ``src``
    becomes ``tmp``. It is marked ready before it moves, so any
    process's swap recovery rolls a crashed generation's part forward
    instead of dropping it. A part already moved is absent."""
    if os.path.isdir(src):
        mark_swap_ready(src)
        os.rename(src, tmp)


def recover_prepared(out_dir: str) -> dict[str, int]:
    """Roll forward or discard every leftover prepare_corpus staging
    under ``{out_dir}/_staged`` (``staged_commit.recover``; a prep name
    is never staged again). A committed generation that cannot take its
    locks in time raises ``LockPatienceExhausted``. Returns
    {rolled_forward, discarded, in_flight}."""
    return staged_commit.recover(
        out_dir, _publish_prepared, prefix="prep_", strict=True
    )


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tokenizer_merges=None,
    index_dir: str | None = None,
    near_family: str = "ngram",
    holdout_split: bool = False,
    quarantine_leaks: bool = False,
    _test_crash_after: str | None = None,
) -> dict[str, int]:
    """Retryable-failure boundary around :func:`_prepare_corpus_impl`
    (the real pipeline — its docstring is the contract): protocol
    RuntimeErrors pass through; a Spark-job failure whose root cause
    is files vanishing under ``out_dir`` or ``index_dir`` mid-scan —
    a maintenance compaction swapping the live corpus/index beneath a
    lock-free read (a prep scan of ``clean_documents.parquet``
    racing the corpus compaction) — is
    re-raised as the documented retryable (the regeneration is
    all-staged: nothing published before the commit marker, so a
    retry is lossless)."""
    try:
        return _prepare_corpus_impl(
            spark, sf_dir, out_dir, tokenizer_merges, index_dir,
            near_family, holdout_split, quarantine_leaks,
            _test_crash_after,
        )
    except RuntimeError:
        raise  # already protocol-classified
    except Exception as e:
        reraise_if_vanished_input(e, out_dir)
        if index_dir is not None:
            reraise_if_vanished_input(e, index_dir)
        raise


def _prepare_corpus_impl(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tokenizer_merges=None,
    index_dir: str | None = None,
    near_family: str = "ngram",
    holdout_split: bool = False,
    quarantine_leaks: bool = False,
    _test_crash_after: str | None = None,
) -> dict[str, int]:
    """Run the cleaning pipeline over ``{sf_dir}/documents.parquet``
    and write the cleaned + packed corpus under ``out_dir``. Returns
    the attrition manifest.

    ``tokenizer_merges`` (a trained BPE merge table from
    ``bpe.train_bpe_from_corpus``) switches stage 6 to
    ``pack_docs_bpe``: packs sized by what the model actually
    consumes instead of whitespace counts. Same layout key, same
    two-phase scan — only ``n_tokens``/offsets change.

    ``near_family`` picks stage 2's pair machinery: ``"ngram"``
    (posting join — the census-checkable default) or ``"lsh"`` (the
    graded ``dedup_near`` MinHash pipeline — robust to edits that
    shift every 3-gram; S-curve recall, so the DuckDB census only
    covers the default).

    ``holdout_split`` adds the train/val/test stage after the scrub:
    every shipped doc is tagged by ``llm_prep.split_docs`` (content-
    addressed md5(doc_id) with per-lang thresholds — append-stable,
    so tomorrow's ingested docs land in the same split they'd get
    today), ``clean_documents.parquet`` is written
    ``partitionBy("split")`` so a trainer's reader prunes the eval
    splits at the directory level, and stage 6 packs ONLY the train
    split (packing an eval doc into a training pack would leak it
    into the token stream). Off by default: the artifact layout and
    manifest are byte-identical to prior rounds unless requested.

    ``quarantine_leaks`` (requires ``holdout_split``) adds the acting
    half of the ``split_leakage`` audit: train-side members of
    duplicate groups that straddle a train↔eval boundary are re-tagged
    ``split='quarantined'`` (``llm_prep.quarantine_split_docs``) —
    shipped for review, excluded from training packs — so the shipped
    artifact's train↔eval leakage cells read ZERO by construction.
    Mostly relevant under ``near_family='lsh'``: the n-gram family's
    stage-2 kill set already removes what the n-gram audit would find,
    but the LSH family's recall curve and the audit's pair machinery
    differ, so straddlers can survive stage 2.

    ``index_dir`` seeds the DAILY pipeline: the shipped corpus's
    ingest indexes (md5 hashes + capped postings over the PRE-scrub
    text — the bytes tomorrow's duplicates will carry) plus the
    mergeable stats row are written there, so ``plans.ingest`` can
    continue this corpus batch-by-batch from day one.

    PUBLICATION IS TRANSACTIONAL (``sources.staged_commit``): the
    cleaned corpus, the packs, and the seeded index are all written
    to a private staging dir under ``{out_dir}/_staged/``, ONE atomic
    ``_committed`` marker is the commit point, and publication swaps
    each target into place with roll-forwardable renames. A crash at
    ANY point leaves the output dirs either the complete OLD
    generation (pre-commit; the staging is discarded) or — after
    :func:`recover_prepared` runs, which every ``prepare_corpus``
    call does on entry — the complete NEW one. Never mixed (the old
    behavior: three independent ``overwrite`` calls, a crash between
    them shipping new packs beside old docs).

    ``_test_crash_after`` is fault injection for the
    kill-at-every-step test — production callers never pass it."""
    # argument checks before any recovery or Spark action: a typo'd
    # family would otherwise run the default family (or fail only at
    # index seeding, after the corpus and packs are staged)
    if near_family not in NEAR_FAMILIES:
        raise ValueError(f"unknown near_family: {near_family!r}")
    if quarantine_leaks and not holdout_split:
        raise ValueError("quarantine_leaks requires holdout_split=True")
    if index_dir is not None:
        # the index swap renames whole directories: an index_dir that
        # IS out_dir (or nests either way) would carry the
        # just-published corpus/packs away with the rename and rmtree
        # them as the old generation
        # BOTH the literal and the symlink-resolved pairs must be
        # disjoint: a symlinked index_dir physically inside out_dir
        # evades a literal-only check (the swap would rename the
        # symlink and rmtree would refuse it mid-publish), and a
        # literally-nested symlink pointing elsewhere evades a
        # resolved-only check (the post-commit rmtree-on-symlink
        # would wedge every roll-forward)

        def _nested(x: str, y: str) -> bool:
            return (
                x == y
                or x.startswith(y + os.sep)
                or y.startswith(x + os.sep)
            )

        if _nested(
            os.path.abspath(out_dir), os.path.abspath(index_dir)
        ) or _nested(
            os.path.realpath(out_dir), os.path.realpath(index_dir)
        ):
            raise ValueError(
                "index_dir must be a directory disjoint from out_dir "
                f"(got out_dir={out_dir!r}, index_dir={index_dir!r})"
            )
    recover_prepared(out_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs_in = docs.count()

    # stage 0: benchmark holdout
    benchmark = docs.filter(F.col("doc_id") % 10 == BENCHMARK_STRIPE)
    pool = docs.filter(F.col("doc_id") % 10 != BENCHMARK_STRIPE)
    pool_n = pool.count()

    # stage 1: exact dedup (NULL texts exempt — the funnel kills and
    # counts them; exempting keeps stage attribution disjoint)
    non_null = pool.filter(F.col("text").isNotNull())
    deduped = (
        _collapse_reps(non_null, F.sha2("text", 256))
        .drop("_h")
        .unionByName(pool.filter(F.col("text").isNull()))
    )
    after_dedup = deduped.count()

    # stages 2-5: the shared cleaning chain. The benchmark digest set
    # is built once, for its probe and for the seeded index.
    bench_grams = benchmark_ngram_digests(benchmark).localCheckpoint(
        eager=False
    )
    survivors, cleaned, counts = clean_docs(
        deduped, near_family, bench_grams
    )
    clean_path = os.path.join(out_dir, "clean_documents.parquet")
    # every artifact goes to PRIVATE staging first (no reader sees a
    # partial generation); the downstream stages read the STAGED
    # artifacts, exactly as they used to read the live ones
    staging, alive = staged_commit.open_staging(
        out_dir, "prep_" + uuid.uuid4().hex[:16], _publish_prepared
    )
    staged_corpus = os.path.join(staging, "corpus")
    try:
        if holdout_split:
            # stage 5.5: append-stable train/val/test tag; the
            # partitioned layout lets a trainer's scan prune val/test
            # without reading a row of them. With quarantine_leaks,
            # train-side straddlers are re-tagged 'quarantined' before
            # the write.
            tag = (
                quarantine_split_docs(cleaned)
                if quarantine_leaks
                else split_docs(cleaned)
            )
            tag.write.mode("overwrite").partitionBy(
                "split"
            ).parquet(staged_corpus)
        else:
            cleaned.write.mode("overwrite").parquet(staged_corpus)
        cleaned = spark.read.parquet(staged_corpus)  # packing reads it

        # stage 6: pack the cleaned corpus (by tokenizer output when a
        # merge table is supplied). Under holdout_split only the train
        # split is packed — eval docs must never enter the token
        # stream.
        pack_input = (
            cleaned.filter(F.col("split") == "train")
            if holdout_split
            else cleaned
        )
        if tokenizer_merges is not None:
            packs = pack_docs_bpe(spark, pack_input, tokenizer_merges)
        else:
            packs = pack_docs(spark, pack_input)
        packs.write.mode("overwrite").parquet(
            os.path.join(staging, "packs")
        )
        packs = spark.read.parquet(os.path.join(staging, "packs"))

        if index_dir is not None:
            # seed the ingest index from the SHIPPED corpus: dedup
            # keys over the pre-scrub survivors (ingest's convention),
            # stats row over the shipped bytes — seeded into STAGING
            # as a complete index dir, swapped in with the others.
            # The benchmark digest set rides along so the DAILY
            # pipeline keeps the decontamination guarantee.
            _write_index(
                os.path.join(staging, "index"),
                near_family,
                survivors,
                _trainable(cleaned),
                bench_grams,
                seed_in_corpus=True,
            )

        _commit_and_publish(
            staging, clean_path,
            os.path.join(out_dir, "packs.parquet"),
            index_dir, _test_crash_after,
        )
        # the staged frames were just renamed away — rebind the two
        # frames the manifest aggregation below reads to the LIVE
        # artifacts
        cleaned = spark.read.parquet(clean_path)
        packs = spark.read.parquet(os.path.join(out_dir, "packs.parquet"))
    finally:
        staged_commit.release(staging, alive)

    agg = packs.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.countDistinct("pack_id").alias("n_packs"),
    ).collect()[0]
    n_redactions = cleaned.agg(
        F.sum("n_redactions").alias("s")
    ).collect()[0]["s"]

    split_counts: dict[str, int] = {}
    if holdout_split:
        split_counts = {
            f"{r['split']}_docs": r["cnt"]
            for r in cleaned.groupBy("split")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        # docs_out stays "shipped clean docs" (all splits); the packs
        # aggregate below covers the train split only
        docs_out = sum(split_counts.values())
    else:
        docs_out = int(agg["docs"] or 0)

    return {
        **{
            k: int(split_counts.get(k, 0))
            for k in ("train_docs", "val_docs", "test_docs")
            if holdout_split
        },
        **(
            {"quarantined_docs": int(split_counts.get("quarantined_docs", 0))}
            if quarantine_leaks
            else {}
        ),
        "docs_in": docs_in,
        "benchmark_held_out": docs_in - pool_n,
        "exact_dups_removed": pool_n - after_dedup,
        # near_dups, the four killed_* and contaminated_removed, in
        # that order
        "near_dups_removed": counts.pop("near_dups"),
        **counts,
        # `or 0` on tokens below: F.sum is NULL over an empty packed
        # frame (count/countDistinct return 0) — reachable under
        # holdout_split when every shipped doc hashed into val/test
        # (tiny corpora), previously only with an empty corpus
        "docs_out": int(docs_out),
        "pii_redactions": int(n_redactions or 0),
        "total_tokens": int(agg["tokens"] or 0),
        "n_packs": int(agg["n_packs"] or 0),
    }
