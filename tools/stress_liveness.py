"""Measure worst-case advisory-lock hold times (r11 verdict item 6).

The liveness claim behind ``maintain_corpus_index`` racing
``ingest_batch`` is arithmetic: every maintenance pass's lock hold at
a given scale must stay under ingest's publish patience (~10 s), and
ingest's own publish holds must be pure renames (milliseconds). The
pinned test (tests/test_liveness.py) asserts both at fixture scale;
this tool RECORDS them at a larger scale — per-pass, per-lock — so
the bound is a measured artifact, not a docstring claim.

Writes stress_liveness.json (``--out``) in the working dir:
  {"phases": {phase: {"locks": {basename: max_hold_s}, "wall_s": ..},
   "patience_budget_s": 10.0, "ingest_publish_bound_s": 2.0,
   "ok": bool}

Usage: python tools/stress_liveness.py [--batches 8] [--docs 500]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = (
    "river stone bridge meadow lantern harbor forest signal copper "
    "window letter march quiet garden motor saddle timber anchor"
).split()

EMB_DIM = 64

PATIENCE_S = 40 * 0.25  # sources/staged_commit.py::acquire_patiently defaults
INGEST_PUBLISH_BOUND_S = 2.0


def _text(seed: int) -> str:
    rng = random.Random(seed)
    body = " ".join(
        f"{rng.choice(WORDS)}{rng.randint(0, 9999)}" for _ in range(30)
    )
    return "the quick note and " + body


def _vec(seed: int) -> list[float]:
    rng = random.Random(seed)
    return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


class Recorder:
    """Same instrumentation as tests/test_liveness.py's
    LockHoldRecorder, standalone: wraps acquire/release in sinks
    (module globals — covers the lazy importers and the patient
    wrapper) + stored_index."""

    def __init__(self):
        self.holds: list[tuple[str, float]] = []
        self._t0: dict[str, float] = {}
        self._mu = threading.Lock()

    def install(self):
        from irio2024_mapreduce_spark.operators import stored_index
        from irio2024_mapreduce_spark.sources import sinks

        real_acquire = sinks.acquire_compaction_lock
        real_release = sinks.release_compaction_lock

        def acquire(path, *a, **kw):
            lock = real_acquire(path, *a, **kw)
            with self._mu:
                self._t0[lock] = time.perf_counter()
            return lock

        def release(lock):
            with self._mu:
                t0 = self._t0.pop(lock, None)
                if t0 is not None:
                    self.holds.append((lock, time.perf_counter() - t0))
            real_release(lock)

        for mod in (sinks, stored_index):
            mod.acquire_compaction_lock = acquire
            mod.release_compaction_lock = release

    def drain(self) -> dict[str, float]:
        """Max hold per lock-file basename since the last drain (the
        basename names the locked target: ``idx._compact.lock``,
        ``ivf.rebuild._compact.lock``, ...)."""
        with self._mu:
            holds, self.holds = self.holds, []
        out: dict[str, float] = {}
        for path, s in holds:
            key = os.path.basename(path)
            out[key] = round(max(out.get(key, 0.0), s), 4)
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--out", default="stress_liveness.json")
    args = ap.parse_args()

    import tempfile

    from irio2024_mapreduce_spark.operators.ann_index import (
        append_ann_index,
        build_ann_index,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
    )
    from irio2024_mapreduce_spark.plans.ingest import (
        build_corpus_index,
        ingest_batch,
    )
    from irio2024_mapreduce_spark.plans.maintenance import (
        maintain_corpus_index,
    )
    from irio2024_mapreduce_spark.session import get_spark

    spark = get_spark(
        "stress-liveness",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="liveness_")
    idx, out_dir = os.path.join(root, "idx"), os.path.join(root, "out")
    ann, ivf = os.path.join(root, "ann"), os.path.join(root, "ivf")
    corpus = os.path.join(out_dir, "clean_documents.parquet")

    def docs_df(ids):
        rows = [(i, _text(i)) for i in ids]
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    def emb_df(ids):
        return spark.createDataFrame(
            [(int(i), _vec(i)) for i in ids],
            "vec_id long, v array<double>",
        )

    rec = Recorder()
    rec.install()
    phases: dict[str, dict] = {}

    def phase(name: str, fn):
        t0 = time.perf_counter()
        result = fn()
        phases[name] = {
            "locks": rec.drain(),
            "wall_s": round(time.perf_counter() - t0, 2),
        }
        if result is not None:
            phases[name]["report"] = result
        print(f"{name}: {phases[name]}", file=sys.stderr)

    seed_ids = list(range(1000, 1000 + args.docs))
    build_corpus_index(spark, docs_df(seed_ids), idx)
    build_ann_index(spark, emb_df(seed_ids), ann)
    build_ivf_index(spark, emb_df(seed_ids), ivf)
    for b in range(args.batches):
        ids = [10_000 + b * args.docs + i for i in range(args.docs)]
        ingest_batch(
            spark, docs_df(ids), idx, out_dir,
            batch_id=b, stream="s",
            batch_emb=emb_df(ids),
            ann_index_dir=ann, ivf_index_dir=ivf,
        )
    rec.drain()  # fixture holds are not the measurement

    # ingest publish holds: one more batch, claimed rename-only
    ids = [900_000 + i for i in range(args.docs)]
    phase(
        "ingest_publish",
        lambda: ingest_batch(
            spark, docs_df(ids), idx, out_dir,
            batch_id=999, stream="s",
            batch_emb=emb_df(ids),
            ann_index_dir=ann, ivf_index_dir=ivf,
        )
        and None,
    )

    # duplicate appends: the footer-invisible deep-compaction shape
    append_ann_index(spark, emb_df(seed_ids), ann)
    append_ivf_index(spark, emb_df(seed_ids), ivf)
    rec.drain()

    # each maintenance pass separately, every threshold tripped
    phase(
        "index_compaction",
        lambda: maintain_corpus_index(
            spark, index_dir=idx, max_files_per_part=1, frag_ratio=1.0
        )["index_compaction"],
    )
    phase(
        "corpus_compaction",
        lambda: maintain_corpus_index(
            spark, corpus_path=corpus, max_files_per_part=1,
            frag_ratio=1.0,
        )["corpus_compaction"],
    )
    phase(
        "ann_resize",
        lambda: maintain_corpus_index(
            spark, ann_index_dir=ann, deep=True
        )["ann_resize"],
    )
    phase(
        "ivf_rebuild",
        lambda: maintain_corpus_index(
            spark, ivf_index_dir=ivf, deep=True
        )["ivf_rebuild"],
    )

    # the liveness criterion covers the locks INGEST takes (index,
    # corpus, ann, ivf) — the sibling ``.rebuild`` guard serializes
    # rebuilds against each other and is held for the whole re-train
    # BY DESIGN (that's what moves the training outside the locks
    # ingest waits on); report it separately, never against patience
    maint_max = max(
        (
            s
            for name, ph in phases.items()
            if name != "ingest_publish"
            for key, s in ph["locks"].items()
            if ".rebuild." not in key
        ),
        default=0.0,
    )
    guard_max = max(
        (
            s
            for ph in phases.values()
            for key, s in ph["locks"].items()
            if ".rebuild." in key
        ),
        default=0.0,
    )
    ingest_max = max(
        phases["ingest_publish"]["locks"].values(), default=0.0
    )
    for name in ("index_compaction", "corpus_compaction", "ann_resize",
                 "ivf_rebuild"):
        rep = phases[name].get("report", {})
        assert rep.get("ran"), (name, rep)
    result = {
        "batches": args.batches,
        "docs_per_batch": args.docs,
        "phases": phases,
        "rebuild_guard_max_hold_s": round(guard_max, 3),
        "maintenance_max_hold_s": round(maint_max, 3),
        "ingest_publish_max_hold_s": round(ingest_max, 3),
        "patience_budget_s": PATIENCE_S,
        "ingest_publish_bound_s": INGEST_PUBLISH_BOUND_S,
        "ok": maint_max < PATIENCE_S
        and ingest_max < INGEST_PUBLISH_BOUND_S,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({k: result[k] for k in (
        "ok", "maintenance_max_hold_s", "ingest_publish_max_hold_s"
    )}))
    spark.stop()
    if not result["ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
