"""The benchmark's two workloads.

Both run one closed-loop client over an sf directory: the engine's
star-schema fixture (``perfbench/data/sf*``, copied unchanged) plus a
generated ``documents`` / ``embeddings`` pair. Each query is built (time
inside the registry query function) and executed into the ``noop``
sink; outputs are checked once against the DuckDB oracle.

``relational``
    The reference surface (word count and a user-supplied Python step)
    and an analyst battery: shuffle join, time rollup, conditional
    aggregation, event sessions, JSON extraction and text analysis, over
    a corpus without duplicates. No dedup or similarity code runs. The
    traced run adds the streaming word count and sessionizer to each
    pass.

``dupheavy``
    The dedup/chunking/similarity family and the stateful streaming
    sessionizer over a corpus with an exact-duplicate factor near 3 and planted near
    copies, where candidate pairs, the ``localCheckpoint`` jobs inside
    query build and shuffle dominate. No relational operator runs. The
    traced run then drives the write path once, untimed (see
    :class:`IngestCycle`), so the pipeline layers get per-layer metrics.
"""

from __future__ import annotations

import os
import random

import numpy as np

import gen

PKG = "irio2024_mapreduce_spark"
MB = 1e6
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# per-layer fields of every query layer, totals per timed pass
QUERY_LAYER_FIELDS = (
    ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
    ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)
COMMON_LAYER_METRICS = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.tables.input_mb", "MB"),
    ("sources.tables.input_rows", "count"),
    ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("python.driver_cpu_s", "s"),
    ("python.worker_cpu_s", "s"),
    ("trace.overhead_s", "s"),
)
# write-path layers, one untimed day-0/day-N cycle per traced dupheavy run
INGEST_LAYER_METRICS = (
    ("plans.corpus_prep.prepare_s", "s"),
    ("plans.corpus_prep.jobs", "count"),
    ("plans.corpus_prep.executor_cpu_s", "s"),
    ("plans.corpus_prep.bytes_written_mb", "MB"),
    ("plans.corpus_prep.docs_out_ratio", "ratio"),
    ("plans.corpus_prep.dup_recall", "ratio"),
    ("operators.ann_index.build_s", "s"),
    ("operators.ann_index.probe_ms", "ms"),
    ("operators.ann_index.bytes_written_mb", "MB"),
    ("operators.ann_index.recall_at_k", "ratio"),
    ("operators.ivf_index.build_s", "s"),
    ("operators.ivf_index.probe_ms", "ms"),
    ("operators.ivf_index.bytes_written_mb", "MB"),
    ("operators.ivf_index.recall_at_k", "ratio"),
    ("plans.ingest.batch_s", "s"),
    ("plans.ingest.jobs_per_batch", "count"),
    ("plans.ingest.executor_cpu_s", "s"),
    ("plans.ingest.files_written_per_batch", "count"),
    ("plans.ingest.bytes_written_mb", "MB"),
    ("plans.ingest.appended_ratio", "ratio"),
    ("plans.ingest.dup_recall", "ratio"),
    ("plans.maintenance.maintain_s", "s"),
    ("plans.maintenance.passes_ran", "count"),
    ("plans.maintenance.bytes_rewritten_mb", "MB"),
    ("plans.maintenance.stored_bytes_per_input_byte", "ratio"),
)


def _layer(fn) -> str:
    return fn.__module__.removeprefix(PKG + ".")


class QueryBattery:
    """A fixed list of registry queries over one sf directory."""

    name: str
    ops: tuple[str, ...]
    # run in the traced run only: their layers get per-layer metrics
    # without making every untraced run longer
    traced_ops: tuple[str, ...] = ()
    layers: tuple[str, ...]  # the query functions' modules, in report order
    dup_factor: float
    near_share: float  # share of the distinct texts that are near copies
    passes: int  # a fixed count keeps the timed work equal across commits
    # star-schema fixture and generated corpus docs per --size
    sizes = {"full": ("sf0.01", 1200), "smoke": ("sf0.001", 300)}

    def __init__(self, run):
        from irio2024_mapreduce_spark import registry
        from irio2024_mapreduce_spark.sources.tables import TABLE_NAMES

        self.run = run
        tables, n_docs = self.sizes[run.size]
        self.sf_dir = os.path.join(run.work_dir, "sf")
        self.corpus = gen.make_corpus(run.seed, n_docs, self.dup_factor, self.near_share)
        gen.write_sf_dir(self.sf_dir, os.path.join(DATA, tables), run.seed, self.corpus)
        qs = registry.queries()
        self.fns = {n: qs[n] for n in self.ops + self.traced_ops}
        assert {_layer(f) for f in self.fns.values()} == set(self.layers)
        self.oracle_sql = registry.oracle_sql_for(self.sf_dir)
        self.table_names = TABLE_NAMES
        self.rng = random.Random(run.seed)

    def _order(self) -> list[str]:
        names = list(self.ops + (self.traced_ops if self.run.traced else ()))
        self.rng.shuffle(names)
        return names

    def warmup(self) -> None:
        """One untimed pass; each result is collected for the oracle."""
        self.results = {}
        for name in self._order():
            with self.run.op(name, _layer(self.fns[name]), timed=False) as op:
                df = self.fns[name](self.run.spark, self.sf_dir)
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                op.ok = True
        self.run.spark.range(10).write.mode("overwrite").format("noop").save()

    def check(self) -> None:
        from oracle import Oracle

        orc = Oracle(self.sf_dir, self.table_names, self.oracle_sql)
        try:
            for name, (cols, rows) in self.results.items():
                why = orc.check(name, cols, rows)
                if why:
                    self.run.fail(name, f"oracle: {why}")
        finally:
            orc.close()
        self.results = {}

    def measure(self, seconds: float) -> None:
        """Closed loop of whole passes, each in a seeded order: ``passes``
        passes, then more until ``seconds`` have been spent in passes."""
        spent = 0.0
        while len(self.run.passes) < self.passes or spent < seconds:
            with self.run.pass_window():
                for name in self._order():
                    fn = self.fns[name]
                    with self.run.op(name, _layer(fn)) as op:
                        with self.run.phase(op, "build"):
                            t0 = self.run.clock()
                            df = fn(self.run.spark, self.sf_dir)
                            op.build_s = self.run.clock() - t0
                        with self.run.phase(op, "exec"):
                            df.write.mode("overwrite").format("noop").save()
                        op.ok = True
            spent += self.run.passes[-1]["wall_s"]

    def after_measure(self) -> None:
        """Untimed work of the traced run after the timed passes."""

    def layer_metrics(self, stats: dict) -> dict[str, float]:
        out = {}
        recs = [r for r in self.run.records if r["timed"]]
        n_pass = max(1, len(self.run.passes))
        for layer in self.layers:
            tot = dict.fromkeys((k for k, _ in QUERY_LAYER_FIELDS), 0.0)
            for r in recs:
                if r["layer"] != layer:
                    continue
                b = stats.get(r["groups"].get("build"), {})
                e = stats.get(r["groups"].get("exec"), {})
                tot["build_s"] += r["build_s"]
                tot["exec_s"] += r["wall_s"] - r["build_s"]
                tot["build_jobs"] += b.get("jobs", 0)
                for st in (b, e):
                    tot["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    tot["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
                    tot["spill_mb"] += (st.get("memoryBytesSpilled", 0)
                                        + st.get("diskBytesSpilled", 0)) / MB
            for k, v in tot.items():
                out[f"{layer}.{k}"] = v / n_pass
        return out


class Relational(QueryBattery):
    name = "relational"
    dup_factor, near_share = 1.0, 0.0
    passes = 2
    ops = (
        "wordcount",
        "custom_step_udf",
        "join_shuffle",
        "time_rollup",
        "conditional_agg",
        "event_session",
        "json_extract",
        "text_analysis",
    )
    traced_ops = ("streaming_wordcount", "streaming_sessionize")
    layers = (
        "registry",
        "streaming.jobs",
        "streaming.stateful",
        "operators.pipeline_queries",
        "operators.relational",
        "operators.advanced",
        "operators.misc",
        "operators.events",
        "operators.json_array",
        "operators.text_analysis",
    )


class DupHeavy(QueryBattery):
    name = "dupheavy"
    dup_factor, near_share = 3.0, 0.2
    passes = 2
    sizes = {"full": ("sf0.01", 600), "smoke": ("sf0.001", 300)}
    ops = (
        "dedup_near_md5",
        "doc_chunk",
        "decontaminate",
        "similarity_topk",
    )
    traced_ops = ("dedup_clusters",)
    layers = (
        "operators.dedup",
        "operators.chunking",
        "operators.llm_prep",
        "operators.similarity",
    )

    def after_measure(self) -> None:
        if self.run.traced:
            self.ingest = IngestCycle(self.run, self.corpus)
            self.ingest.drive()

    def layer_metrics(self, stats: dict) -> dict[str, float]:
        out = super().layer_metrics(stats)
        if self.run.traced:
            out.update(self.ingest.layer_metrics(stats))
        return out


class _Abort(Exception):
    """A cycle step failed (and was counted); skip the rest."""


def _dir_stats(*roots: str) -> tuple[int, int]:
    """(bytes, files) under ``roots``."""
    size = files = 0
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files


class IngestCycle:
    """One day-0 / day-N cycle of the write path, untimed.

    Day 0: ``prepare_corpus`` over a generated dup-heavy corpus, then
    ``build_ann_index`` and ``build_ivf_index`` over the survivors'
    vectors. Day N: ``batches`` batches through ``ingest_batch``, each a
    mix of fresh docs and exact/near copies of corpus docs, one after
    the other. Then the default ``maintain_corpus_index`` and stored
    probes with fixed query vectors. Output checks: a non-empty corpus,
    docs appended by every batch, every batch doc charged to exactly one
    outcome, no duplicate ``doc_id`` or text after maintenance, and an
    exact-vector probe returning its own vector at rank 1.
    """

    sizes = {"full": (600, 100), "smoke": (300, 50)}  # day-0 docs, batch docs
    batches = 1
    n_probes = 8

    def __init__(self, run, corpus: gen.Corpus):
        self.run = run
        n0, self.batch_docs = self.sizes[run.size]
        self.root = os.path.join(run.work_dir, "ingest")
        self.sf_dir = os.path.join(self.root, "sf")
        self.day0 = gen.make_corpus(run.seed + 7919, n0, 3.0, 0.2)
        tables, _ = DupHeavy.sizes[run.size]
        gen.write_sf_dir(self.sf_dir, os.path.join(DATA, tables), run.seed, self.day0)
        self.corpus_dir = os.path.join(self.root, "corpus")
        self.index_dir = os.path.join(self.root, "index")
        self.ann_dir = os.path.join(self.root, "ann")
        self.ivf_dir = os.path.join(self.root, "ivf")
        self.m: dict[str, float] = {}
        self.groups: dict[str, list[str]] = {}
        self.vec = dict(zip(self.day0.doc_id, self.day0.vec))
        self.input_bytes = 0

    # ---- helpers ----------------------------------------------------
    def _emb(self, ids):
        return self.run.spark.createDataFrame(
            [(int(i), [float(x) for x in self.vec[i]]) for i in ids],
            "vec_id long, v array<double>")

    def _corpus_rows(self):
        path = os.path.join(self.corpus_dir, "clean_documents.parquet")
        return [tuple(r) for r in
                self.run.spark.read.parquet(path).select("doc_id", "text").collect()]

    def _step(self, name: str, layer: str, fn):
        """Run ``fn`` as one traced operation; returns (result, wall_s)."""
        out = None
        with self.run.op(name, layer, timed=False) as op:
            with self.run.phase(op, "call"):
                t0 = self.run.clock()
                out = fn()
                wall = self.run.clock() - t0
            self.groups.setdefault(layer, []).append(op.groups.get("call"))
            op.ok = True
        if out is None:  # the failure is already counted
            raise _Abort(name)
        return out, wall

    @staticmethod
    def _recall(planted, kept_ids: set, removed) -> float:
        """Share of planted copies (whose original was kept) that are
        gone; ``removed(copy_id)`` says whether one is."""
        live = [(c, o) for c, o in planted if o in kept_ids]
        return sum(1 for c, _ in live if removed(c)) / len(live) if live else 1.0

    # ---- the cycle ---------------------------------------------------
    def drive(self) -> None:
        try:
            self._drive()
        except _Abort:
            pass
        except Exception as e:  # noqa: BLE001
            self.run.fail("ingest_cycle", f"raised {type(e).__name__}: {str(e)[:300]}")

    def _drive(self) -> None:
        from irio2024_mapreduce_spark.operators.ann_index import build_ann_index
        from irio2024_mapreduce_spark.operators.ivf_index import build_ivf_index
        from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus
        from irio2024_mapreduce_spark.plans.ingest import ingest_batch
        from irio2024_mapreduce_spark.plans.maintenance import maintain_corpus_index

        spark, m = self.run.spark, self.m
        self.input_bytes = sum(len(t.encode()) for t in self.day0.text)

        man, m["plans.corpus_prep.prepare_s"] = self._step(
            "prepare_corpus", "plans.corpus_prep",
            lambda: prepare_corpus(spark, self.sf_dir, self.corpus_dir,
                                   index_dir=self.index_dir))
        m["plans.corpus_prep.bytes_written_mb"] = _dir_stats(
            self.corpus_dir, self.index_dir)[0] / MB
        m["plans.corpus_prep.docs_out_ratio"] = man["docs_out"] / man["docs_in"]
        if man["docs_out"] == 0:
            self.run.fail("prepare_corpus", "docs_out == 0")
            return
        kept = {d for d, _ in self._corpus_rows()}
        m["plans.corpus_prep.dup_recall"] = self._recall(
            self.day0.exact_pairs + self.day0.near_pairs, kept, lambda c: c not in kept)

        for layer, build, d in (("operators.ann_index", build_ann_index, self.ann_dir),
                                ("operators.ivf_index", build_ivf_index, self.ivf_dir)):
            _, m[f"{layer}.build_s"] = self._step(
                build.__name__, layer, lambda b=build, d=d: b(spark, self._emb(sorted(kept)), d))
            m[f"{layer}.bytes_written_mb"] = _dir_stats(d)[0] / MB

        # day N
        offered = appended = 0
        planted, batch_s, files = [], [], 0
        bytes0, files0 = _dir_stats(self.corpus_dir, self.index_dir, self.ann_dir, self.ivf_dir)
        day0_ids = sorted(kept)
        day0_text = dict(self._corpus_rows())
        src = gen.Corpus(doc_id=day0_ids, text=[day0_text[i] for i in day0_ids],
                         vec=np.stack([self.vec[i] for i in day0_ids]))
        for b in range(self.batches):
            batch = gen.make_batch(self.run.seed * 100 + b + 1, src, self.batch_docs,
                                   first_id=10_000_000 * (b + 1))
            self.vec.update(zip(batch.doc_id, batch.vec))
            self.input_bytes += sum(len(t.encode()) for t in batch.text)
            planted += batch.exact_pairs + batch.near_pairs
            docs = spark.createDataFrame(
                [(i, t, "en", "src0", len(t)) for i, t in zip(batch.doc_id, batch.text)],
                "doc_id long, text string, lang string, source string, n_chars long")
            bm, wall = self._step(
                "ingest_batch", "plans.ingest",
                lambda: ingest_batch(spark, docs, self.index_dir, self.corpus_dir,
                                     batch_id=b, stream="perfbench",
                                     batch_emb=self._emb(batch.doc_id),
                                     ann_index_dir=self.ann_dir,
                                     ivf_index_dir=self.ivf_dir))
            batch_s.append(wall)
            offered += bm["batch_in"]
            appended += bm["appended"]
            charged = sum(v for k, v in bm.items() if k != "batch_in")
            if charged != bm["batch_in"]:
                self.run.fail("ingest_batch", f"batch {b}: {charged} outcomes for "
                                              f"{bm['batch_in']} docs: {bm}")
            if bm["appended"] == 0:
                self.run.fail("ingest_batch", f"batch {b}: appended == 0")
        bytes1, files1 = _dir_stats(self.corpus_dir, self.index_dir, self.ann_dir, self.ivf_dir)
        m["plans.ingest.batch_s"] = sum(batch_s) / len(batch_s)
        m["plans.ingest.files_written_per_batch"] = max(0, files1 - files0) / self.batches
        m["plans.ingest.bytes_written_mb"] = max(0, bytes1 - bytes0) / MB
        m["plans.ingest.appended_ratio"] = appended / offered
        rows = self._corpus_rows()
        now = {d for d, _ in rows}
        m["plans.ingest.dup_recall"] = self._recall(planted, kept, lambda c: c not in now)

        mm, m["plans.maintenance.maintain_s"] = self._step(
            "maintain_corpus_index", "plans.maintenance",
            lambda: maintain_corpus_index(
                spark, index_dir=self.index_dir,
                corpus_path=os.path.join(self.corpus_dir, "clean_documents.parquet"),
                ann_index_dir=self.ann_dir, ivf_index_dir=self.ivf_dir))
        m["plans.maintenance.passes_ran"] = sum(
            1 for v in mm.values() if isinstance(v, dict) and v.get("ran"))
        rows = self._corpus_rows()
        ids = [d for d, _ in rows]
        if len(set(ids)) != len(ids) or len({t for _, t in rows}) != len(rows):
            self.run.fail("maintain_corpus_index", "duplicate doc_id or text in the corpus")
        m["plans.maintenance.stored_bytes_per_input_byte"] = _dir_stats(
            self.corpus_dir, self.index_dir, self.ann_dir, self.ivf_dir)[0] / self.input_bytes
        self._probe(sorted(set(ids)))

    def _probe(self, ids: list[int]) -> None:
        """Stored probes with fixed query vectors: the first ``n_probes``
        // 2 are stored vectors (exact probes), the rest perturbed ones."""
        from irio2024_mapreduce_spark.operators.ann_index import probe_ann_index
        from irio2024_mapreduce_spark.operators.ivf_index import probe_ivf_index
        from irio2024_mapreduce_spark.operators.similarity import TOP_K

        rng = np.random.default_rng(self.run.seed)
        pick = [ids[i] for i in rng.choice(len(ids), self.n_probes, replace=False)]
        n_exact = self.n_probes // 2
        qv = np.stack([self.vec[i] for i in pick]).astype(np.float64)
        qv[n_exact:] += 0.3 * rng.normal(size=qv[n_exact:].shape)
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        qid = [-(k + 1) for k in range(self.n_probes)]
        qid[:n_exact] = pick[:n_exact]
        queries = self.run.spark.createDataFrame(
            [(q, [float(x) for x in v]) for q, v in zip(qid, qv)],
            "vec_id long, v array<double>")
        base = np.stack([self.vec[i] for i in ids]).astype(np.float64)
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        truth = {q: {ids[j] for j in np.argsort(-(base @ v), kind="stable")[:TOP_K]}
                 for q, v in zip(qid, qv)}
        for layer, probe, d in (("operators.ann_index", probe_ann_index, self.ann_dir),
                                ("operators.ivf_index", probe_ivf_index, self.ivf_dir)):
            res, wall = self._step(
                probe.__name__, layer,
                lambda p=probe, d=d: [tuple(r) for r in p(self.run.spark, queries, d)
                                      .select("query_id", "neighbor_id", "rank").collect()])
            self.m[f"{layer}.probe_ms"] = wall * 1000
            got: dict[int, set] = {}
            for q, n, _ in res:
                got.setdefault(q, set()).add(n)
            self.m[f"{layer}.recall_at_k"] = sum(
                len(got.get(q, set()) & truth[q]) / TOP_K for q in qid) / len(qid)
            top1 = {q: n for q, n, r in res if r == 1}
            for q in qid[:n_exact]:
                if top1.get(q) != q:
                    self.run.fail(probe.__name__, f"exact probe {q} ranked {top1.get(q)} first")

    def layer_metrics(self, stats: dict) -> dict[str, float]:
        out = dict(self.m)
        for layer, key in (("plans.corpus_prep", "jobs"), ("plans.ingest", "jobs_per_batch")):
            groups = self.groups.get(layer, [])
            jobs = sum(stats.get(g, {}).get("jobs", 0) for g in groups)
            out[f"{layer}.{key}"] = jobs / max(1, len(groups))
            out[f"{layer}.executor_cpu_s"] = sum(
                stats.get(g, {}).get("executorCpuTime", 0) for g in groups) / 1e9
        out["plans.maintenance.bytes_rewritten_mb"] = sum(
            stats.get(g, {}).get("outputBytes", 0)
            for g in self.groups.get("plans.maintenance", [])) / MB
        return out


WORKLOADS = {w.name: w for w in (Relational, DupHeavy)}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = dict(COMMON_LAYER_METRICS)
    for w in WORKLOADS.values():
        for layer in w.layers:
            out.update({f"{layer}.{k}": u for k, u in QUERY_LAYER_FIELDS})
    out.update(INGEST_LAYER_METRICS)
    return out
