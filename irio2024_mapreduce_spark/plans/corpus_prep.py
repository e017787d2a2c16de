"""End-to-end corpus preparation — the materializing pipeline a
training-data team actually runs, composed from the oracle-checked
operator stages (single source of truth: each stage reuses the same
column helpers its report query is hash-verified with):

0. **benchmark holdout** — the eval stripe (doc_id % 10 == 8, the
   same fixture role ``decontaminate`` is hash-checked with) is
   carved out of the training pool up front. It is never trainable —
   and decontaminating a pool that still CONTAINS the benchmark
   would convict every benchmark doc of matching itself.
1. **exact dedup** — one representative (min doc_id) per distinct
   text via groupBy(sha2)+min + semi-join (the same groupBy-agg
   shape ``dedup_exact`` uses — NOT a window partitioned by the
   digest, which would buffer a heavily-duplicated text's whole
   group inside one WindowExec task; see dedup._cap_buckets).
   NULL-text rows pass through untouched (the funnel owns them) so
   every kill is attributed to exactly one stage.
2. **near dedup** — keep-first 3-gram-Jaccard ≥ 0.5 kill set from
   ``dedup.near_dup_kill_ids`` (the incremental machinery's banded,
   posting-capped corpus index; no band cap, so it stays live at
   corpus scale).
3. **quality funnel** — `funnel_verdict` first-failing-rule tagging;
   only 'pass' docs survive.
4. **decontamination** — ``llm_prep.contaminated_ids`` against the
   held-out benchmark stripe: any surviving doc sharing one 13-token
   n-gram with the benchmark is removed. Runs on RAW text (the same
   bytes the benchmark side grams over), before the scrubber
   rewrites anything.
5. **PII scrub** — `scrub_text`'s chained JVM regexp_replace;
   ``n_chars`` is RECOMPUTED from the scrubbed text so the shipped
   length column describes the shipped bytes.
6. **sequence packing** — `pack_docs` two-phase distributed prefix
   sum over the CLEANED text's token counts.

Outputs: ``clean_documents.parquet`` (scrubbed survivors) and
``packs.parquet`` (doc → pack assignment), plus a manifest dict of
per-stage attrition — the numbers every run must ship with. The
manifest tiles ``docs_in`` exactly: every input doc is held out,
killed by exactly one stage, or shipped.

Scale shape: stages 0-1 are map-only filters plus one agg on 32-byte
digests; stage 2 is the capped posting self-join (the measured
dedup_ngram_jaccard/incremental surface); stage 3 is map-only; stage
4 is a broadcast semi-join probe (training side never shuffles);
stage 5 is map-only; stage 6 is the pinned two-phase scan. Nothing
here collects to the driver except the manifest's counts.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import near_dup_kill_ids
from irio2024_mapreduce_spark.operators.llm_prep import (
    contaminated_ids,
    pack_docs,
    pack_docs_bpe,
    quarantine_split_docs,
    scrub_text,
    split_docs,
)
from irio2024_mapreduce_spark.operators.text_analysis import funnel_verdict
from irio2024_mapreduce_spark.sources import staged_commit
from irio2024_mapreduce_spark.sources.sinks import (
    SimulatedCrash,
    fsync_dir,
    release_compaction_lock,
)
from irio2024_mapreduce_spark.sources.tables import load_table

# the eval-benchmark stripe — the fixture role decontaminate's driver
# oracle is hash-checked with
BENCHMARK_STRIPE = 8

# ---------------------------------------------- transactional publish
# prepare_corpus's three artifacts (corpus, packs, and the seeded ingest
# index) are one staged commit (``sources.staged_commit``) under
# ``{out_dir}/_staged/prep_{uuid}/``. What is prep's own: the target
# list, and publication by swapping each target into place with
# roll-forwardable directory renames (tmp/old suffixes). The swaps are
# directory renames, so out_dir and index_dir must live on one
# filesystem (EXDEV surfaces loudly; a committed generation retries
# after the operator moves the target).
_PREP_TMP = "._prep_tmp"
_PREP_OLD = "._prep_old"


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
    """Swap every staged artifact into place — idempotent, so a crash
    at any rename resumes here on the next roll-forward. Per-target
    protocol (deterministic state classification):

      rename(staged → target._prep_tmp)     # skipped if already done
      rename(target → target._prep_old)     # skipped for gen 1 / done
      rename(target._prep_tmp → target)
      rmtree(target._prep_old)

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
            tmp, old = target + _PREP_TMP, target + _PREP_OLD
            os.makedirs(os.path.dirname(target), exist_ok=True)
            lock = staged_commit.acquire_patiently(target)
            try:
                if os.path.isdir(src) and not os.path.exists(tmp):
                    os.rename(src, tmp)
                if os.path.exists(tmp):
                    if os.path.exists(target):
                        if os.path.exists(old):  # defensive; unreachable
                            shutil.rmtree(old)
                        os.rename(target, old)
                    os.rename(tmp, target)
                    fsync_dir(os.path.dirname(target))
                if os.path.exists(old):
                    shutil.rmtree(old)
            finally:
                release_compaction_lock(lock)
            staged_commit._crash_if(_test_crash_after, f"swap:{name}")
    finally:
        release_compaction_lock(pub_lock)
    shutil.rmtree(staging, ignore_errors=True)


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
    from irio2024_mapreduce_spark.plans.ingest import (  # noqa: PLC0415
        _reraise_if_vanished_input,
    )

    try:
        return _prepare_corpus_impl(
            spark, sf_dir, out_dir, tokenizer_merges, index_dir,
            near_family, holdout_split, quarantine_leaks,
            _test_crash_after,
        )
    except RuntimeError:
        raise  # already protocol-classified
    except Exception as e:
        _reraise_if_vanished_input(e, out_dir)
        if index_dir is not None:
            _reraise_if_vanished_input(e, index_dir)
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
    keep_ids = (
        non_null.groupBy(F.sha2("text", 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = non_null.join(keep_ids, "doc_id", "semi").unionByName(
        pool.filter(F.col("text").isNull())
    )
    after_dedup = deduped.count()

    # stage 2: near dedup over the exact-collapse survivors. The kill
    # set is materialized once (lazily) — it is batch-small relative
    # to the corpus, and the anti-join's build side.
    near_kills = near_dup_kill_ids(
        deduped, family=near_family
    ).localCheckpoint(eager=False)
    near_deduped = deduped.join(near_kills, "doc_id", "anti")
    after_near = near_deduped.count()

    # stage 3: quality funnel
    tagged = near_deduped.withColumn("_verdict", funnel_verdict())
    kills = {
        r["_verdict"]: r["cnt"]
        for r in tagged.groupBy("_verdict").agg(F.count("*").alias("cnt")).collect()
    }
    survivors = tagged.filter(F.col("_verdict") == "pass").drop("_verdict")
    after_funnel = survivors.count()

    # stage 4: decontamination vs the held-out benchmark (raw text on
    # both sides — the scrubber hasn't rewritten anything yet)
    contam_ids = contaminated_ids(survivors, benchmark).localCheckpoint(
        eager=False
    )
    decontaminated = survivors.join(contam_ids, "doc_id", "anti")
    after_decontam = decontaminated.count()

    # stage 5: PII scrub — text replaced by clean_text, n_chars
    # recomputed from the scrubbed bytes (a carried-forward n_chars
    # would describe text the artifact no longer contains)
    cleaned = scrub_text(decontaminated).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias(
            "n_redactions"
        ),
        F.length("clean_text").cast("long").alias("n_chars"),
        *[
            c
            for c in decontaminated.columns
            if c not in ("doc_id", "text", "n_chars")
        ],
    )
    clean_path = os.path.join(out_dir, "clean_documents.parquet")
    if quarantine_leaks and not holdout_split:
        raise ValueError("quarantine_leaks requires holdout_split=True")
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
            # keys over the pre-scrub text (ingest's convention),
            # stats row over the shipped bytes — seeded into STAGING
            # as a complete index dir, swapped in with the others.
            # Import here to keep the one-shot driver importable
            # without the ingest module.
            from irio2024_mapreduce_spark.plans.ingest import (  # noqa: PLC0415
                seed_index_from_prepared,
            )

            seed_index_from_prepared(
                spark,
                decontaminated,
                cleaned,
                os.path.join(staging, "index"),
                family=near_family,
                # the held-out eval stripe's digest set rides along so
                # the DAILY pipeline keeps the decontamination
                # guarantee — without it, ingested batches could
                # reintroduce eval-set 13-grams that stage 4 just
                # removed
                benchmark=benchmark,
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
        "near_dups_removed": after_dedup - after_near,
        "killed_null_text": kills.get("null_text", 0),
        "killed_too_short": kills.get("too_short", 0),
        "killed_too_repetitive": kills.get("too_repetitive", 0),
        "killed_no_stopwords": kills.get("no_stopwords", 0),
        "contaminated_removed": after_funnel - after_decontam,
        # `or 0` on tokens below: F.sum is NULL over an empty packed
        # frame (count/countDistinct return 0) — reachable under
        # holdout_split when every shipped doc hashed into val/test
        # (tiny corpora), previously only with an empty corpus
        "docs_out": int(docs_out),
        "pii_redactions": int(n_redactions or 0),
        "total_tokens": int(agg["tokens"] or 0),
        "n_packs": int(agg["n_packs"] or 0),
    }
