"""Continuous corpus construction: the incremental ingest driver
(``plans.ingest.ingest_batch``) mounted on a Structured Streaming
file source via ``foreachBatch`` — document batches land in a
directory, every micro-batch is admitted against the STORED corpus
indexes, cleaned, and appended (corpus + index), exactly the daily
path but event-driven.

Why ``foreachBatch`` and not a stateful streaming operator: the
admission decision needs joins against an append-only on-disk index
whose rows this very stream produces — that is batch-relational work
over durable state, not watermark-bounded per-key state.
``foreachBatch`` hands each micro-batch over as a normal DataFrame,
the driver runs the identical (test-covered, verdict-parity-checked)
batch logic, and Spark's checkpoint replays batches in file order.
Micro-batches execute sequentially, so batch N+1 always sees batch
N's index appends — the property ``tests/test_ingest.py``'s two-day
scenario pins for the batch form and
``tests/test_streaming_ingest.py`` re-pins through the stream.

Delivery is at-least-once at the TRANSPORT level (foreachBatch commits
the checkpoint AFTER the handler returns, so a crash between
``ingest_batch``'s appends and the commit re-delivers that batch on
restart) but EXACTLY-once at the RECORD level: the handler
passes the Structured Streaming ``batch_id`` through to
``ingest_batch`` together with the checkpoint path as the stream
identity, and each batch's manifest row is persisted keyed by
(stream, batch_id) as the LAST write — batch ids are only unique per
checkpoint, so the bare id would collide across source dirs. A
replayed key whose manifest already exists
short-circuits the whole batch (the manifest's presence proves every
earlier append landed), so neither the corpus, the index, the stats
rows, nor the manifest gain duplicate rows across a kill-and-restart.
A crash BEFORE the manifest write re-runs the batch; admission is
idempotent (the docs self-convict against the index rows that already
landed — see plans/ingest.py's durability note) so the corpus still
never gains duplicates, and only that batch's stats/manifest rows are
rewritten by the re-run.

Scale shape: unchanged from the batch driver — every join is
batch-keyed, index reads are hash probes, appends are batch-sized.
The stream adds only the file-source bookkeeping.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

from irio2024_mapreduce_spark.plans.ingest import ingest_batch


def default_checkpoint_dir(index_dir: str, source_dir: str) -> str:
    """Deterministic per-(index, source) checkpoint location, beside
    the index it feeds. A fresh tempdir default (the earlier form) made every
    invocation a NEW stream that re-delivered all of ``source_dir``;
    the docs self-convicted (no duplicate admissions) but each rerun
    appended another full set of duplicate md5/posting index rows and
    zero-doc stats rows. With a stable location, reruns RESUME."""
    key = hashlib.md5(os.path.abspath(source_dir).encode()).hexdigest()[:12]
    return os.path.join(index_dir, "_stream_checkpoint", key)


def run_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_dir: str,
    corpus_dir: str,
    files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    family: str = "ngram",
    emb_col: str | None = None,
    ann_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
    schema_policy: str = "strict",
) -> list[dict]:
    """Drain ``source_dir`` (availableNow) through the ingest driver,
    one ``ingest_batch`` call per micro-batch; ``family`` must match
    the index build (validated against the stored index manifest).
    The checkpoint defaults to a deterministic location under
    ``index_dir`` (:func:`default_checkpoint_dir`) so a rerun resumes
    instead of re-delivering every file. Returns the per-batch
    manifests in processing order (replayed batches return their
    recorded manifest).

    ``emb_col`` names the batch schema's embedding column
    (``array<float/double>``); with ``ann_index_dir`` /
    ``ivf_index_dir`` each micro-batch's admitted vectors join the
    stored similarity indexes inside the batch's own transactional
    commit — the stream keeps corpus AND indexes consistent with
    no separate backfill job.

    ``schema_policy`` is handed to every ``ingest_batch`` call: a
    micro-batch whose shape drifts from the live corpus fails the
    ingest schema gate BEFORE staging (``"strict"`` rejects any
    drift; ``"evolve"`` admits additive columns). The failure aborts
    the stream query loudly; the batch key is not consumed, so fixing
    the producer and rerunning resumes at the failed batch."""
    manifests: list[dict] = []
    ckpt = checkpoint_dir or default_checkpoint_dir(index_dir, source_dir)
    # Structured Streaming numbers batches from 0 PER CHECKPOINT —
    # the exactly-once manifest key must carry the stream identity,
    # or a second source dir's batch 0 would short-circuit against
    # the first stream's recorded batch 0 and be silently dropped
    stream_key = os.path.abspath(ckpt)

    def handle(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_emb = None
        docs = batch_df
        if emb_col is not None:
            import pyspark.sql.functions as F  # noqa: PLC0415

            batch_emb = batch_df.select(
                F.col("doc_id").alias("vec_id"),
                F.col(emb_col).alias("v"),
            )
            docs = batch_df.drop(emb_col)
        m = ingest_batch(
            spark,
            docs,
            index_dir,
            corpus_dir,
            family=family,
            batch_id=int(batch_id),
            stream=stream_key,
            batch_emb=batch_emb,
            ann_index_dir=ann_index_dir,
            ivf_index_dir=ivf_index_dir,
            schema_policy=schema_policy,
        )
        m["batch_id"] = int(batch_id)
        manifests.append(m)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return manifests
