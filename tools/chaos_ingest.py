"""Multi-process chaos soak of the full day-2 loop (r11 verdict item
1; extended r13 with the two compositions the r12 verdict named): N
REAL OS processes — not threads — concurrently run ``ingest_batch``
streams (with the ingest-integrated ANN/IVF index appends), ONE real
Structured Streaming ``run_ingest_stream`` worker (r12 verdict item
1: SIGKILLed mid-``foreachBatch`` and restarted against the SAME
checkpoint, composing Spark's checkpoint replay with the
(stream, batch_id) exactly-once manifests), ``maintain_corpus_index``
— which now fires ``deep=True`` reconciliation passes randomly DURING
the kill phase (r12 verdict item 2), not only at quiesce — and ONE
``prepare_corpus`` regeneration over a SHARED corpus, while the
orchestrator SIGKILLs publishers at random points and restarts them,
for ≥ K kills. This is
the engine's analog of the reference's pod-kill chaos suite
(/root/reference/mapreduce/tests/whitebox_tests/tests.py:31-33,45-47):
the single-process kill matrices pin every crash POINT; this soak
pins the COMPOSITION — real flocks across processes, real kernel
lock release on SIGKILL, publishers racing maintenance racing a
generation flip.

Invariants asserted at the end (each the multi-process form of an
invariant a single-process test already pins):

* exactly-once manifests — every (stream, batch_id) delivered has a
  recorded manifest in the FINAL generation, and the corpus holds no
  duplicate doc_id; AFTER the documented deep reconciliation pass, no
  duplicate text either (planted cross-stream duplicate texts convict
  down to one survivor). Concurrent same-text ingests can BOTH admit
  — verdicts are computed lock-free before publication serializes
  (optimistic multi-writer ingest; the first 4-stream soak caught two
  survivors) — and ``maintain_corpus_index(deep=True)``'s
  reconciliation converges the corpus, so the asserted invariant is
  post-deep-pass;
* census excludes quarantined — ``corpus_stats`` equals the shipped
  artifact's non-quarantined row count (restored by the same deep
  pass's measured true-up when a race or crash drifted it);
* train↔eval leakage cells ZERO over the final artifact (exact and
  near, both boundary pairs);
* stored similarity indexes — after the documented post-regeneration
  ``deep`` maintenance pass: no duplicate ``vec_id``, physical ==
  manifest count, and every final-corpus batch doc self-probes at
  top-1 cosine 1.0 through BOTH stored indexes. (A generation flip
  supersedes the corpus + dedup index wholesale but the similarity
  indexes keep the prior generation's appends until that deep pass —
  probes stay correct throughout via keep-one on ``vec_id``.)

Workers tolerate exactly the exceptions the protocol DEFINES as
retryable — ``LockPatienceExhausted``, the "re-deliver it" flip
supersede, and the "being compacted" advisory backoff. Anything else
is recorded as a violation with its traceback and fails the soak.

Usage:
  python tools/chaos_ingest.py [--kills 20] [--streams 3]
      [--batches 6] [--docs 24] [--deep-fires-min 3]
      [--out chaos_ingest.json]

Internal (spawned by the orchestrator):
  python tools/chaos_ingest.py --role {ingest,stream,maint,prep}
      --root DIR [--stream w0] [--batches B] [--docs D]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORDS = (
    "river stone bridge meadow lantern harbor forest signal copper "
    "window letter march quiet garden motor saddle timber anchor "
    "valley summit ferry orchard mill tower"
).split()

# the planted train↔eval straddler (the quarantine lifecycle fixture):
# a near pair the n-gram audit catches but LSH banding misses, so it
# survives prep stage 2 under family='lsh' and must be QUARANTINED
BASE = ("quiet rivers carry old stories past sleeping farms toward "
        "the wide grey sea every single morning")
NEAR = ("quiet rivers carry old lantern past sleeping farms toward "
        "the wide grey sea every single morning")

EMB_DIM = 64


# ------------------------------------------------------------ fixtures
def _paths(root: str) -> tuple[str, str, str, str]:
    return (
        os.path.join(root, "idx"),
        os.path.join(root, "out"),
        os.path.join(root, "ann"),
        os.path.join(root, "ivf"),
    )


def _stop_flag(root: str) -> str:
    return os.path.join(root, "stop")


def _text(seed: int) -> str:
    rng = random.Random(seed)
    body = " ".join(
        f"{rng.choice(WORDS)}{rng.randint(0, 99999)}" for _ in range(30)
    )
    return "the quick note and " + body


def _vec(seed: int) -> list[float]:
    rng = random.Random(seed)
    return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


def _batch_rows(stream_i: int, b: int, n: int) -> list[tuple[int, str]]:
    """Batch docs for stream i / batch b: doc 0 carries a CROSS-STREAM
    duplicate text (same for every stream at the same b — exactly one
    survivor must remain corpus-wide); the rest are unique."""
    rows = []
    for i in range(n):
        doc_id = 1_000_000 + stream_i * 100_000 + b * 1_000 + i
        if i == 0:
            rows.append((doc_id, _text(777_000 + b)))  # shared text
        else:
            rows.append((doc_id, _text(doc_id)))
    return rows


def _spark(app: str):
    from irio2024_mapreduce_spark.session import get_spark

    return get_spark(
        app,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


def _emb_df(spark, ids):
    return spark.createDataFrame(
        [(int(i), _vec(i)) for i in ids], "vec_id long, v array<double>"
    )


def _record_violation(root: str, role: str, exc: BaseException) -> None:
    vdir = os.path.join(root, "violations")
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, f"{role}-{os.getpid()}.json"), "w") as f:
        json.dump(
            {
                "role": role,
                "pid": os.getpid(),
                "error": repr(exc),
                "traceback": traceback.format_exc(),
            },
            f,
            indent=1,
        )


def _tolerated(e: BaseException) -> bool:
    """The protocol-DEFINED retryable conditions, and only those."""
    s = str(e)
    return (
        "re-deliver" in s
        or "being compacted" in s
        or "retry after the maintenance window" in s
    )


def _stream_tolerated(e: BaseException) -> bool:
    """The streaming worker's additional retryable class: a
    ``prepare_corpus`` generation flip deletes the stream checkpoint
    (it belongs to the replaced life — ``_clear_prior_life``) while a
    query may be LIVE on it; Spark surfaces that as checkpoint-path
    FileNotFound / rename failures from the offset log. The next
    ``run_ingest_stream`` call starts a fresh stream over the same
    source dir and re-delivers — the documented supersede semantics."""
    s = str(e)
    return _tolerated(e) or (
        "_stream_checkpoint" in s
        and (
            "FileNotFoundException" in s
            or "No such file or directory" in s
            or "does not exist" in s
            or "Failed to rename" in s
            or "Error reading" in s
        )
    )


# ------------------------------------------------------------- workers
def run_ingest_worker(root: str, stream: str, batches: int, docs: int):
    from irio2024_mapreduce_spark.plans.ingest import (
        ingest_batch,
        read_recorded_manifest,
    )
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
    )

    spark = _spark(f"chaos-{stream}")
    idx, out, ann, ivf = _paths(root)
    stream_i = int(stream.lstrip("w"))
    while True:
        clean_pass = True
        for b in range(batches):
            rows = _batch_rows(stream_i, b, docs)
            for attempt in range(400):
                try:
                    ingest_batch(
                        spark, _docs_df(spark, rows), idx, out,
                        family="lsh", batch_id=b, stream=stream,
                        batch_emb=_emb_df(spark, [i for i, _ in rows]),
                        ann_index_dir=ann, ivf_index_dir=ivf,
                    )
                    break
                except LockPatienceExhausted:
                    clean_pass = False
                    time.sleep(0.3)
                except RuntimeError as e:
                    if not _tolerated(e):
                        raise
                    clean_pass = False
                    time.sleep(0.2)
            else:
                raise RuntimeError(
                    f"{stream} batch {b}: retry budget exhausted"
                )
        if clean_pass and os.path.exists(_stop_flag(root)):
            # final pass under no kills: every batch must be recorded
            # in the CURRENT (post-flip) generation
            missing = [
                b
                for b in range(batches)
                if read_recorded_manifest(spark, idx, b, stream=stream)
                is None
            ]
            if not missing:
                return
        time.sleep(0.1)


STREAM_SRC = "stream_src"
STREAM_DONE = "stream_done"
DEEP_FIRE_LOG = "deep_fires"
FOLD_CRASH_FLAG = "fold_crash_flag"


def _write_source_file(spark, src: str, b: int, rows) -> None:
    """One parquet FILE per batch in the stream source dir, made
    visible atomically: Spark writes a dot-prefixed temp dir (hidden
    from the file source's listing), then the part file renames in."""
    import glob
    import shutil

    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t), _vec(i)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, emb array<double>",
    )
    tmp = os.path.join(src, f".tmp_b{b}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.rename(part, os.path.join(src, f"batch_{b}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def run_stream_worker(root: str, batches: int, docs: int):
    """r12 verdict item 1: a REAL ``run_ingest_stream`` process — the
    one entry point the r12 soak bypassed. The orchestrator SIGKILLs
    it mid-``foreachBatch`` and restarts it against the SAME
    checkpoint; Spark replays the uncommitted micro-batch and the
    (stream, batch_id) manifest short-circuit (or idempotent re-run)
    must keep the corpus and indexes exactly-once. Stream docs use
    the shared ``_batch_rows`` id space (stream index 9), so batch
    doc 0 ALSO participates in the cross-stream duplicate-text
    invariant."""
    from irio2024_mapreduce_spark.plans.ingest import (
        read_recorded_manifest,
    )
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
    )
    from irio2024_mapreduce_spark.streaming.ingest_stream import (
        default_checkpoint_dir,
        run_ingest_stream,
    )

    spark = _spark("chaos-stream")
    idx, out, ann, ivf = _paths(root)
    src = os.path.join(root, STREAM_SRC)
    os.makedirs(src, exist_ok=True)
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, emb array<double>"
    )
    key = os.path.abspath(default_checkpoint_dir(idx, src))
    with open(os.path.join(root, "stream_key"), "w") as f:
        f.write(key + "\n")
    while True:
        for b in range(batches):
            if not os.path.exists(
                os.path.join(src, f"batch_{b}.parquet")
            ):
                _write_source_file(
                    spark, src, b, _batch_rows(9, b, docs)
                )
        try:
            run_ingest_stream(
                spark, src, schema, idx, out,
                files_per_trigger=1, family="lsh", emb_col="emb",
                ann_index_dir=ann, ivf_index_dir=ivf,
            )
        except LockPatienceExhausted:
            time.sleep(0.3)
            continue
        except Exception as e:  # noqa: BLE001 — tolerance gate below
            if not _stream_tolerated(e):
                raise
            time.sleep(0.3)
            continue
        if os.path.exists(_stop_flag(root)):
            # post-stop the prep worker has exited (the orchestrator
            # orders it so), so no flip can clear these again: every
            # micro-batch must be recorded under the CURRENT
            # checkpoint identity
            missing = [
                b
                for b in range(batches)
                if read_recorded_manifest(spark, idx, b, stream=key)
                is None
            ]
            if not missing:
                with open(os.path.join(root, STREAM_DONE), "w") as f:
                    f.write("done\n")
                return
        time.sleep(0.2)


def run_maint_worker(root: str, deep_fire: bool = False):
    """The scheduled maintenance loop; with ``deep_fire`` (r12
    verdict item 2) roughly every third pass runs the DEEP
    reconciliation (duplicate removal + measured census true-up)
    DURING the kill phase — racing live publishes and eating SIGKILLs
    mid-swap — instead of deep passes existing only in the quiesced
    verifier. Each attempt and completion appends to the fire log
    the orchestrator gates on."""
    import random as _random

    from irio2024_mapreduce_spark.plans.maintenance import (
        maintain_corpus_index,
    )
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
    )

    spark = _spark("chaos-maint")
    idx, out, ann, ivf = _paths(root)
    corpus = os.path.join(out, "clean_documents.parquet")
    rng = _random.Random()
    log = os.path.join(root, DEEP_FIRE_LOG)
    while not os.path.exists(_stop_flag(root)):
        deep = deep_fire and rng.random() < 0.34
        try:
            if deep:
                with open(log, "a") as f:
                    f.write(f"start {os.getpid()} {time.time()}\n")
            maintain_corpus_index(
                spark, index_dir=idx, corpus_path=corpus,
                partition_by=["split"],
                ann_index_dir=ann, ivf_index_dir=ivf,
                max_files_per_part=8, frag_ratio=2.0,
                deep=deep,
            )
            if deep:
                with open(log, "a") as f:
                    f.write(f"done {os.getpid()} {time.time()}\n")
        except LockPatienceExhausted:
            pass
        except RuntimeError as e:
            if not _tolerated(e):
                raise
        time.sleep(1.5)


def run_prep_worker(root: str):
    from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus
    from irio2024_mapreduce_spark.sources.sinks import (
        LockPatienceExhausted,
    )

    spark = _spark("chaos-prep")
    idx, out, _ann, _ivf = _paths(root)
    sf = os.path.join(root, "sf")
    # let the ingest streams age the first generation a little before
    # the regeneration lands on top of them
    time.sleep(8)
    while True:
        try:
            prepare_corpus(
                spark, sf, out, holdout_split=True, near_family="lsh",
                quarantine_leaks=True, index_dir=idx,
            )
            with open(os.path.join(root, "prep_done"), "w") as f:
                f.write("done\n")
            return
        except LockPatienceExhausted:
            time.sleep(1.0)
        except RuntimeError as e:
            if not _tolerated(e):
                raise
            time.sleep(1.0)


# -------------------------------------------------------- orchestrator
def _spawn(role: str, root: str, **kw) -> subprocess.Popen:
    argv = [sys.executable, os.path.abspath(__file__), "--role", role,
            "--root", root]
    for k, v in kw.items():
        argv += [f"--{k}", str(v)]
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_GRAFT_CPUS="6",
        SPARK_GRAFT_SHUFFLE_PARTITIONS="8",
    )
    if role == "maint":
        # fold-crash fault injection (VERDICT r13 item 6): the worker
        # dies SIGKILL-style between a fold's append and its delta
        # drop whenever the orchestrator has armed the flag file
        env["SPARK_GRAFT_FOLD_CRASH_FLAG"] = os.path.join(
            root, FOLD_CRASH_FLAG
        )
    return subprocess.Popen(
        argv, env=env, cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def _seed_fixture(root: str, streams: int) -> None:
    """Generation 1: prep input docs (with the planted straddler),
    the prepared corpus + seeded dedup index, and the stored ANN/IVF
    indexes over a few seed vectors."""
    from pyspark.sql import SparkSession  # noqa: F401

    from irio2024_mapreduce_spark.operators.ann_index import (
        build_ann_index,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        build_ivf_index,
    )
    from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus

    spark = _spark("chaos-seed")
    sf = os.path.join(root, "sf")
    os.makedirs(sf, exist_ok=True)
    rows = [(1, BASE), (27, NEAR)] + [
        (i, _text(555_000 + i)) for i in range(2, 26) if i != 27
    ]
    _docs_df(spark, rows).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    idx, out, ann, ivf = _paths(root)
    prepare_corpus(
        spark, sf, out, holdout_split=True, near_family="lsh",
        quarantine_leaks=True, index_dir=idx,
    )
    seed_vec_ids = list(range(500_000, 500_016))
    build_ann_index(spark, _emb_df(spark, seed_vec_ids), ann)
    build_ivf_index(spark, _emb_df(spark, seed_vec_ids), ivf)
    spark.stop()


def _verify(root: str, streams: int, batches: int, docs: int) -> dict:
    """Fresh session, no kills: assert every invariant. Returns the
    measured facts; raises AssertionError on any violation."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.ann_index import (
        probe_ann_index,
        read_ann_manifest,
    )
    from irio2024_mapreduce_spark.operators.dedup import (
        ngram_jaccard_pairs_docs,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        probe_ivf_index,
        read_ivf_manifest,
    )
    from irio2024_mapreduce_spark.operators.llm_prep import leakage_report
    from irio2024_mapreduce_spark.plans.ingest import (
        corpus_stats,
        read_recorded_manifest,
        recover_staged_batches,
    )
    from irio2024_mapreduce_spark.plans.maintenance import (
        maintain_corpus_index,
    )

    spark = _spark("chaos-verify")
    idx, out, ann, ivf = _paths(root)
    corpus = os.path.join(out, "clean_documents.parquet")
    recover_staged_batches(idx, strict=True)

    # 1. exactly-once manifests, final generation — batch streams AND
    # the Structured Streaming worker (its stream identity is the
    # checkpoint path it wrote to root/stream_key)
    missing = [
        (w, b)
        for w in range(streams)
        for b in range(batches)
        if read_recorded_manifest(spark, idx, b, stream=f"w{w}") is None
    ]
    assert not missing, f"missing recorded manifests: {missing}"
    skey_path = os.path.join(root, "stream_key")
    stream_key = open(skey_path).read().strip()
    assert os.path.exists(os.path.join(root, STREAM_DONE)), (
        "stream worker never reached its clean recorded state"
    )
    s_missing = [
        b
        for b in range(batches)
        if read_recorded_manifest(spark, idx, b, stream=stream_key)
        is None
    ]
    assert not s_missing, f"missing stream manifests: {s_missing}"

    # the documented deep pass FIRST: reconciles late cross-writer
    # duplicates (optimistic ingest can admit both copies of a text
    # whose two carriers probed before either published), trues up
    # the census to the measured corpus (prepare_corpus seeded it in
    # place, so its manifest keeps no census outside the corpus), and
    # compacts the similarity indexes' redelivery
    # duplicates — every corpus assertion below is a post-deep-pass
    # invariant
    maint = maintain_corpus_index(
        spark, index_dir=idx, corpus_path=corpus,
        partition_by=["split"],
        ann_index_dir=ann, ivf_index_dir=ivf, deep=True,
    )

    art = spark.read.parquet(corpus)
    n_rows = art.count()
    assert art.select("doc_id").distinct().count() == n_rows, (
        "duplicate doc_id in corpus"
    )
    dup_texts = (
        art.groupBy(F.sha2("text", 256)).count().filter("count > 1").count()
    )
    assert dup_texts == 0, f"{dup_texts} duplicate texts in corpus"

    # every planted cross-stream duplicate text: exactly ONE survivor
    # (scrubbing is a no-op on these synthetic texts). The streaming
    # worker's batch doc 0 carries the SAME shared text (stream index
    # 9 in _batch_rows), so the invariant spans batch + streaming
    # writers.
    shared = {_text(777_000 + b) for b in range(batches)}
    n_shared = art.filter(F.col("text").isin(list(shared))).count()
    assert n_shared == len(shared), (
        f"shared texts: {n_shared} present, want {len(shared)}"
    )

    # streaming worker's NON-shared docs: all present exactly once
    # (checkpoint replay + manifests composed exactly-once; the
    # duplicate checks above already exclude double admission)
    stream_base = 1_000_000 + 9 * 100_000
    n_stream = art.filter(
        (F.col("doc_id") >= stream_base)
        & (F.col("doc_id") < stream_base + 100_000)
        & (F.col("doc_id") % 1_000 != 0)
    ).count()
    assert n_stream == batches * (docs - 1), (
        n_stream, batches * (docs - 1),
    )

    # 2. census excludes quarantined
    stats_docs = corpus_stats(spark, idx)["docs"]
    non_q = art.filter(F.col("split") != "quarantined").count()
    assert stats_docs == non_q, (stats_docs, non_q)

    # 3. train↔eval leakage cells zero (exact and near, both pairs)
    cells = {
        (r["kind"], r["split_pair"]): r["n_pairs"]
        for r in leakage_report(
            art,
            ngram_jaccard_pairs_docs(art).select("doc_a", "doc_b"),
        ).collect()
    }
    for kind in ("exact", "near"):
        assert cells[(kind, "test|train")] == 0, cells
        assert cells[(kind, "train|val")] == 0, cells

    # 4. stored indexes: the deep pass (run above) trued physical
    # state up (flip-redelivered duplicates), so physical == distinct
    # == manifest, and every final-corpus batch doc self-probes at
    # top-1 cosine 1.0
    am = read_ann_manifest(ann)
    ann_rows = spark.read.parquet(os.path.join(ann, am["data"])).filter(
        F.col("tbl") == 0
    )
    ann_phys = ann_rows.count()
    ann_distinct = ann_rows.select("neighbor_id").distinct().count()
    assert ann_phys == ann_distinct == am["rows"], (
        ann_phys, ann_distinct, am["rows"],
    )
    im = read_ivf_manifest(ivf)
    ivf_rows = spark.read.parquet(
        os.path.join(ivf, f"cells_v{im['data_version']}")
    )
    ivf_phys = ivf_rows.count()
    ivf_distinct = ivf_rows.select("vec_id").distinct().count()
    assert ivf_phys == ivf_distinct == im["rows"], (
        ivf_phys, ivf_distinct, im["rows"],
    )

    batch_doc_ids = [
        r["doc_id"]
        for r in art.filter(F.col("doc_id") >= 1_000_000)
        .select("doc_id")
        .collect()
    ]
    sample = sorted(batch_doc_ids)[:: max(1, len(batch_doc_ids) // 12)]
    for probe_fn, d in ((probe_ann_index, ann), (probe_ivf_index, ivf)):
        for doc_id in sample:
            q = spark.createDataFrame(
                [(0, _vec(doc_id))], "vec_id long, v array<double>"
            )
            top = (
                probe_fn(spark, q, d).filter(F.col("rank") == 1).collect()
            )
            assert top and top[0]["neighbor_id"] == doc_id, (
                probe_fn.__name__, doc_id, top,
            )
            assert abs(top[0]["cosine"] - 1.0) < 1e-6

    facts = {
        "corpus_rows": n_rows,
        "stream_docs_in_corpus": n_stream,
        "batch_docs_in_corpus": len(batch_doc_ids),
        "census_docs": stats_docs,
        "ann_rows": ann_phys,
        "ivf_rows": ivf_phys,
        "deep_maint_ann_rewrote": bool(maint["ann_resize"].get("resized")),
        "deep_maint_ivf_rewrote": bool(
            maint["ivf_rebuild"].get("rebuilt")
        ),
        "reconcile": maint["corpus_reconcile"],
        "self_probe_sample": len(sample),
    }
    spark.stop()
    return facts


def orchestrate(args) -> None:
    import tempfile

    t_start = time.time()
    root = tempfile.mkdtemp(prefix="chaos_ingest_")
    print(f"chaos root: {root}", file=sys.stderr)
    _seed_fixture(root, args.streams)

    procs: dict[str, subprocess.Popen] = {}
    born: dict[str, float] = {}
    restarts = {"ingest": 0, "stream": 0, "maint": 0, "prep": 0}

    def start(name: str):
        if name.startswith("w"):
            procs[name] = _spawn(
                "ingest", root, stream=name,
                batches=args.batches, docs=args.docs,
            )
        elif name == "s0":
            procs[name] = _spawn(
                "stream", root,
                batches=args.batches, docs=args.docs,
            )
        elif name == "maint":
            procs[name] = _spawn("maint", root, **{"deep-fire": 1})
        else:
            procs[name] = _spawn("prep", root)
        born[name] = time.time()

    for w in range(args.streams):
        start(f"w{w}")
    start("s0")
    start("maint")
    start("prep")

    kills = 0
    stream_kills = 0
    rng = random.Random()  # wall-clock seeded: this is a soak, not a test
    deadline = time.time() + args.max_minutes * 60
    prep_done = os.path.join(root, "prep_done")
    fire_log = os.path.join(root, DEEP_FIRE_LOG)
    fold_flag = os.path.join(root, FOLD_CRASH_FLAG)
    fold_log = fold_flag + ".log"

    def fold_crash_kinds() -> list[str]:
        if not os.path.exists(fold_log):
            return []
        with open(fold_log) as f:
            return [ln.split()[0] for ln in f.read().splitlines() if ln]

    def deep_fire_counts() -> tuple[int, int]:
        if not os.path.exists(fire_log):
            return 0, 0
        with open(fire_log) as f:
            lines = f.read().splitlines()
        return (
            sum(1 for ln in lines if ln.startswith("start")),
            sum(1 for ln in lines if ln.startswith("done")),
        )

    worker_rcs: dict = {}
    try:
        while True:
            fires, fire_dones = deep_fire_counts()
            fold_crashes = len(fold_crash_kinds())
            if (
                kills >= args.kills
                and os.path.exists(prep_done)
                and fires >= args.deep_fires_min
                and fire_dones >= 1
                and stream_kills >= args.stream_kills_min
                and fold_crashes >= args.fold_crashes_min
            ):
                break
            # arm the fold-crash kill point (one-shot per arming; the
            # maint worker consumes the flag and dies between a fold's
            # append and its delta drop — VERDICT r13 item 6)
            if fold_crashes < args.fold_crashes_min and not os.path.exists(
                fold_flag
            ):
                kinds = fold_crash_kinds()
                # kind-selective re-arm: the ANN fold runs first each
                # maintenance pass, so after it has eaten one crash,
                # aim the next at the IVF fold's identical window
                want = (
                    "ivf"
                    if ("ann" in kinds and "ivf" not in kinds)
                    else "any"
                )
                with open(fold_flag, "w") as f:
                    f.write(want + "\n")
            if time.time() > deadline:
                raise RuntimeError("soak wall-clock budget exhausted")
            time.sleep(rng.uniform(1.5, 4.0))
            # restart anything that DIED on its own (a violation exits
            # nonzero — recorded; a finished prep exits 0)
            for name, p in list(procs.items()):
                rc = p.poll()
                if rc is None:
                    continue
                if name == "prep" and rc == 0:
                    continue  # prep finished; leave it finished
                role = (
                    "ingest" if name.startswith("w")
                    else "stream" if name.startswith("s")
                    else name
                )
                restarts[role] += 1
                start(name)
            if kills >= args.kills and stream_kills >= args.stream_kills_min:
                # kill budget spent — stop shooting and let the prep
                # regeneration finish (with ~14 s between kills and a
                # 1-in-5 victim draw, an unconditional kill loop never
                # lets a >60 s prep run complete: the first soak run
                # hit 84 kills and the wall-clock budget with prep
                # still dead). Deep fires keep accruing kill-free.
                continue
            # pick a victim that has lived long enough to be mid-work
            candidates = [
                n
                for n, p in procs.items()
                if p.poll() is None and time.time() - born[n] > 5.0
            ]
            if not candidates:
                continue
            if kills >= args.kills:
                # only the stream-kill quota is outstanding — aim
                candidates = [n for n in candidates if n.startswith("s")]
                if not candidates:
                    continue
            victim = rng.choice(candidates)
            procs[victim].send_signal(signal.SIGKILL)
            procs[victim].wait()
            kills += 1
            if victim.startswith("s"):
                stream_kills += 1
            role = (
                "ingest" if victim.startswith("w")
                else "stream" if victim.startswith("s")
                else victim
            )
            restarts[role] += 1
            if not (victim == "prep" and os.path.exists(prep_done)):
                start(victim)
            print(
                f"kill #{kills}: {victim} (restarted)", file=sys.stderr
            )

        # quiesce: no more kills; workers finish their final pass
        # (disarm the fold-crash point first — the final maintenance
        # pass and the verifier must run crash-free)
        try:
            os.unlink(fold_flag)
        except FileNotFoundError:
            pass  # unarmed, or a fold consumed it this instant
        with open(_stop_flag(root), "w") as f:
            f.write("stop\n")
        worker_rcs = {}
        for name, p in procs.items():
            if name == "maint":
                continue
            if name == "prep" and p.poll() is not None:
                worker_rcs[name] = p.poll()
                continue
            try:
                worker_rcs[name] = p.wait(timeout=420)
            except subprocess.TimeoutExpired:
                p.kill()
                worker_rcs[name] = "timeout"
        procs["maint"].wait(timeout=60)
    finally:
        for p in procs.values():
            if p.poll() is None:
                p.kill()

    vdir = os.path.join(root, "violations")
    violations = []
    if os.path.isdir(vdir):
        for n in sorted(os.listdir(vdir)):
            with open(os.path.join(vdir, n)) as f:
                violations.append(json.load(f))

    bad_rcs = {
        n: rc for n, rc in worker_rcs.items() if rc not in (0,)
    }
    fires, fire_dones = deep_fire_counts()
    result = {
        "kills": kills,
        "stream_kills": stream_kills,
        "fold_crashes": fold_crash_kinds(),
        "deep_fires_started_under_fire": fires,
        "deep_fires_completed": fire_dones,
        "streams": args.streams,
        "batches_per_stream": args.batches,
        "docs_per_batch": args.docs,
        "restarts": restarts,
        "worker_exit_codes": worker_rcs,
        "violations": violations,
        "wall_sec": round(time.time() - t_start, 1),
    }
    if violations or bad_rcs:
        result["ok"] = False
    else:
        result.update(
            _verify(root, args.streams, args.batches, args.docs)
        )
        result["ok"] = True
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({k: result[k] for k in ("ok", "kills", "wall_sec")}))
    if not result["ok"]:
        sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", default="orchestrate")
    ap.add_argument("--root")
    ap.add_argument("--stream", default="w0")
    ap.add_argument("--streams", type=int, default=3)
    ap.add_argument("--batches", type=int, default=6)
    ap.add_argument("--docs", type=int, default=24)
    ap.add_argument("--kills", type=int, default=20)
    ap.add_argument("--deep-fires-min", type=int, default=3)
    ap.add_argument("--stream-kills-min", type=int, default=3)
    ap.add_argument("--fold-crashes-min", type=int, default=1)
    ap.add_argument("--deep-fire", type=int, default=0)
    ap.add_argument("--max-minutes", type=float, default=30.0)
    ap.add_argument("--out", default="chaos_ingest.json")
    args = ap.parse_args()
    if args.role == "orchestrate":
        orchestrate(args)
        return
    try:
        if args.role == "ingest":
            run_ingest_worker(
                args.root, args.stream, args.batches, args.docs
            )
        elif args.role == "stream":
            run_stream_worker(args.root, args.batches, args.docs)
        elif args.role == "maint":
            run_maint_worker(args.root, deep_fire=bool(args.deep_fire))
        elif args.role == "prep":
            run_prep_worker(args.root)
        else:
            raise SystemExit(f"unknown role {args.role}")
    except BaseException as e:  # noqa: BLE001 — the soak's evidence trail
        if isinstance(e, (KeyboardInterrupt, SystemExit)):
            raise
        _record_violation(args.root, f"{args.role}-{args.stream}", e)
        sys.exit(3)


if __name__ == "__main__":
    main()
