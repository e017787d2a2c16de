"""Scaling probe: run the text/dedup operator family at 1× and N×
corpus size and report the observed time scaling.

The N× corpus is the sf0.1 documents table replicated with shifted
doc_ids and written as MULTI-FILE parquet (real splits, unlike the
single-row-group fixtures) — every original doc gains N-1 exact
duplicates, which is the realistic shape of crawl data and the worst
case for near-dup candidate generation (every group is an N-clique in
the LSH band graph).

Usage: python tools/stress_scale.py [N]    (default 10)
Prints one JSON line with per-query seconds at 1x and Nx.

`python tools/stress_scale.py --relational [N]` probes the
relational/event family instead: the FACT tables (lineitem, orders,
events) are replicated N× — orderkeys shift consistently across
lineitem+orders so the join relationships survive; events shift
event_id+user_id so the user population grows rather than per-user
burst — while the dimension tables stay 1× (the 100 TB model: facts
grow, dims don't). Queries: join_shuffle (TPC-H-Q5-shaped 6-table
join), window_running (per-customer running sums over N× orders per
customer), event_session (gap sessionization over N× users),
stats_pack (full-scan statistical aggregates), agg_rollup
(hierarchical rollup over the grown fact).

`python tools/stress_scale.py --adversarial` instead probes the
ngram-Jaccard posting-list join with a stop-word corpus: every doc
shares a dense set of stop-word 3-grams (one length band, hot posting
lists), which is the worst case for a posting join — each shingle
shared by m docs contributes m² join rows. The probe reports the
posting-join row count with the per-(band, shingle) posting cap
enabled vs disabled.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.operators.similarity import N_QUERIES
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark

# dedup_ngram_jaccard rides the same exact-dup collapse as dedup_near
# (replicated docs collapse to the same reps) and its length-band
# blocks are additionally bounded by PAIRWISE_BLOCK_CAP — the probe
# verifies the measured ratio stays ~linear. dedup_clusters stresses
# the exact-edge path (every replica adds a rep↔dup edge: ~N·docs
# edges) and label propagation over N× members; similarity_ann /
# similarity_ivf run over the N×-replicated embeddings table
# (replicas carry shifted vec_ids ≥ N_QUERIES, so the query set stays
# the original 10 and the corpus grows N×).
QUERIES = [
    "wordcount",
    "dedup_exact",
    "dedup_near",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "similarity_ann",
    "similarity_ivf",
    "text_analysis",
    "doc_chunk",
]


def adversarial_postings() -> None:
    """Stop-word corpus: n_docs docs, each = the same 40 stop words
    (shuffled deterministically per doc) + a few unique tokens. All
    docs land in one length band and every stop-word 3-gram's posting
    list is ~corpus-sized. Measures the posting-join row count (the
    candidate volume the cap exists to bound) capped vs uncapped."""
    import irio2024_mapreduce_spark.operators.dedup as dd

    spark = get_spark("stress-adversarial")
    spark.sparkContext.setLogLevel("ERROR")
    # 800 < PAIRWISE_BLOCK_CAP so the length band is ADMITTED — the
    # posting cap must be the guard that bounds the join, not the
    # block cap one level up
    n_docs = 800
    stop = [f"the{i}" for i in range(40)]
    rows = []
    for i in range(n_docs):
        toks = stop[i % 7 :] + stop[: i % 7] + [f"uniq{i}a", f"uniq{i}b"]
        rows.append((i, " ".join(toks), "en", "s", 1))
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    stage = tempfile.mkdtemp(prefix="stress_adv_")
    df.repartition(8).write.mode("overwrite").parquet(
        os.path.join(stage, "documents.parquet")
    )

    out = {}
    for label, cap in [("capped", dd.NGRAM_POSTING_CAP), ("uncapped", 10**9)]:
        joined = dd._ngram_posting_join(spark, stage, posting_cap=cap)
        t0 = time.perf_counter()
        cnt = joined.count()
        out[label] = {
            "posting_join_rows": cnt,
            "sec": round(time.perf_counter() - t0, 2),
        }
    print(json.dumps({"adversarial_postings": out, "n_docs": n_docs}))


RELATIONAL_QUERIES = [
    "join_shuffle",
    "window_running",
    "event_session",
    "stats_pack",
    "agg_rollup",
]


def build_scaled_relational(spark, base: str, n: int) -> str:
    """Replicate the fact tables (lineitem, orders, events) n× into a
    temp dir; dimension tables are written through 1× so every query's
    full table set resolves. Orderkeys shift in lockstep across
    lineitem and orders (join relationships survive; each customer
    accumulates n× orders — dims fixed, facts grow). Events shift
    event_id AND user_id so sessionization sees n× distinct users,
    not n identical events per session."""
    stage = tempfile.mkdtemp(prefix="stress_rel_")
    shift = 100_000_000

    def replicate(table: str, key_cols: list[str]) -> None:
        df = spark.read.parquet(os.path.join(base, f"{table}.parquet"))
        scaled = None
        for k in range(n):
            part = df
            for c in key_cols:
                part = part.withColumn(c, F.col(c) + F.lit(k * shift))
            scaled = part if scaled is None else scaled.unionByName(part)
        scaled.repartition(32).write.mode("overwrite").parquet(
            os.path.join(stage, f"{table}.parquet")
        )

    replicate("lineitem", ["l_orderkey"])
    replicate("orders", ["o_orderkey"])
    replicate("events", ["event_id", "user_id"])
    for dim in ("customer", "supplier", "nation", "region", "part"):
        spark.read.parquet(
            os.path.join(base, f"{dim}.parquet")
        ).write.mode("overwrite").parquet(
            os.path.join(stage, f"{dim}.parquet")
        )
    return stage


def build_scaled_corpus(spark, base: str, n: int) -> str:
    """Replicate sf-dir documents+embeddings n× into a temp dir and
    return its path (multi-file parquet, real splits). Doc replicas
    shift doc_id; embedding replicas shift vec_id past the query
    range so the query set stays the original N_QUERIES vectors while
    the corpus grows n× (duplicate vectors = worst case for bucketed
    ANN: every replica group lands in identical buckets)."""
    stage = tempfile.mkdtemp(prefix="stress_")
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    scaled = None
    for k in range(n):
        part = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10_000_000)
        )
        scaled = part if scaled is None else scaled.unionByName(part)
    scaled.repartition(32).write.mode("overwrite").parquet(
        os.path.join(stage, "documents.parquet")
    )
    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    scaled_emb = None
    for k in range(n):
        part = emb if k == 0 else emb.filter(
            F.col("vec_id") >= N_QUERIES  # replicas never become queries
        ).withColumn("vec_id", F.col("vec_id") + F.lit(k * 10_000_000))
        scaled_emb = (
            part if scaled_emb is None else scaled_emb.unionByName(part)
        )
    scaled_emb.repartition(32).write.mode("overwrite").parquet(
        os.path.join(stage, "embeddings.parquet")
    )
    return stage




# ------------------------------------------------- r14 scaling curve
# VERDICT r13 item 4: the banded/bucketed linearity claims, measured
# as a CURVE instead of design prose. Synthesized corpora (seeds
# pinned below) at 5k/15k/50k docs+vectors; per point: the graded
# dedup family's walls, the stored probes' build-vs-probe
# decomposition, candidate-pair counts, and cap-hit rates.
# override with SPARK_GRAFT_CURVE_POINTS="150000" to extend the curve
# one point at a time (the runner merges points across invocations)
CURVE_POINTS = tuple(
    sorted(
        int(x)
        for x in os.environ.get(
            "SPARK_GRAFT_CURVE_POINTS", "5000,15000,50000"
        ).split(",")
        if x.strip()
    )
)
CURVE_SEED = 14
CURVE_QUERIES = [
    "dedup_near_md5",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "probe_ann_index",
    "probe_ivf_index",
]


def synth_curve_corpus(spark, n_docs: int, seed: int = CURVE_SEED) -> str:
    """Deterministic synthetic corpus: ~65% unique base docs (zipf-ish
    vocabulary draws), the rest exact (45%) / near (55%, ~8% token
    mutations) copies of random base docs — the crawl-data shape the
    dedup family exists for. Embeddings: 32 gaussian cluster centers
    + per-vector noise (vec_id 0..9 double as the probe query set,
    like the driver's testdata)."""
    import itertools
    import random as _random

    import numpy as np
    import pandas as pd

    rng = _random.Random(seed * 1_000_003 + n_docs)
    vocab = [f"w{i:04d}" for i in range(4000)]
    cum = list(
        itertools.accumulate(1.0 / (i + 10) for i in range(len(vocab)))
    )

    def _length() -> int:
        # heavy-tailed doc lengths (~200 distinct len_bands at scale):
        # a uniform 30-120 gave only ~12 bands, so past ~12k docs
        # EVERY band blew PAIRWISE_BLOCK_CAP and the ngram walls
        # measured cap-dropping, not scaling
        return min(30 + rng.randrange(90) + int(rng.expovariate(0.008)), 1600)

    def _mutate(text: str, every: int) -> str:
        toks = text.split()
        for _ in range(max(1, len(toks) // every)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        return " ".join(toks)

    n_base = int(n_docs * 0.65)
    texts = [
        " ".join(rng.choices(vocab, cum_weights=cum, k=_length()))
        for _ in range(n_base)
    ]
    docs = list(texts)
    # hot boilerplate families (2% of the corpus over 2 templates):
    # crawl-shaped adversarial mass for the LSH hot-bucket cap — each
    # family member is a light mutation of one template, so the
    # family shares band buckets; at 5k docs a family is ~50 members
    # (admitted), at 50k ~500 (over LSH_BUCKET_CAP=256 -> capped) —
    # the curve shows the guard ENGAGING as the corpus grows
    boiler = [
        " ".join(rng.choices(vocab, cum_weights=cum, k=k))
        for k in (56, 72)  # two DISTINCT len_bands, so each family
        # stays under the coarse PAIRWISE_BLOCK_CAP and the
        # LSH hot-bucket cap is what engages at 50k (the ngram
        # posting cap's engagement is measured separately by
        # --adversarial, whose stop-word corpus is built for it)
    ]
    for i in range(max(2, n_docs // 50)):
        docs.append(_mutate(boiler[i % 2], every=40))
    while len(docs) < n_docs:
        src = texts[rng.randrange(n_base)]
        if rng.random() < 0.45:
            docs.append(src)  # exact duplicate
        else:
            docs.append(_mutate(src, every=12))  # near duplicate
    del docs[n_docs:]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": docs,
            "lang": "en",
            "source": [f"src{i % 7}" for i in range(n_docs)],
        }
    )
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    stage = tempfile.mkdtemp(prefix=f"curve_{n_docs}_")
    spark.createDataFrame(pdf).repartition(32).write.mode(
        "overwrite"
    ).parquet(os.path.join(stage, "documents.parquet"))

    from irio2024_mapreduce_spark.operators.similarity import EMB_DIM as _D

    nrng = np.random.default_rng(seed * 7 + n_docs)
    centers = nrng.normal(size=(32, _D))
    assign = nrng.integers(0, 32, size=n_docs)
    vecs = centers[assign] + 0.05 * nrng.normal(size=(n_docs, _D))
    epdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype="int64"),
            "embedding": list(vecs.astype("float32")),
            "label": assign.astype("int32"),
        }
    )
    spark.createDataFrame(
        epdf, "vec_id long, embedding array<float>, label int"
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(stage, "embeddings.parquet")
    )
    return stage


def _curve_diagnostics(spark, stage: str) -> dict:
    """Candidate-pair counts and cap-hit rates for the two candidate
    generators, from ONE uncapped bucket/posting size aggregate each
    (sum m*(m-1)/2 over admitted buckets IS the banded candidate-pair
    volume the caps bound)."""
    import irio2024_mapreduce_spark.operators.dedup as dd
    from irio2024_mapreduce_spark.sources.tables import load_table

    par = spark.sparkContext.defaultParallelism
    pair_mass = F.sum(
        (F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2)).cast("double")
    )

    docs = (
        load_table(spark, stage, "documents")
        .filter(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(par)
        .select("doc_id", dd._shingles().alias("shingles"))
    )
    bsz = (
        dd._band_rows(docs, bucket_cap=1 << 60, family="md5")
        .groupBy("band", "band_hash")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    total_b = bsz.count()
    hot_b = bsz.filter(F.col("n") > dd.LSH_BUCKET_CAP).count()
    pot = bsz.agg(pair_mass).first()[0] or 0.0
    adm = (
        bsz.filter(F.col("n") <= dd.LSH_BUCKET_CAP).agg(pair_mass).first()[0]
        or 0.0
    )
    minhash = {
        "buckets": total_b,
        "buckets_over_cap": hot_b,
        "cap_hit_rate": round(hot_b / max(total_b, 1), 6),
        "candidate_pairs_uncapped": int(pot),
        "candidate_pairs_admitted": int(adm),
    }

    raw = load_table(spark, stage, "documents")
    ndocs = (
        raw.groupBy(F.sha2("text", 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(par)
        .select(
            "doc_id",
            dd._shingles().alias("shingles"),
            (F.size(dd._tokens()) / 8).cast("long").alias("len_band"),
        )
    )
    ndocs = dd._cap_blocks_lowcard(
        ndocs, ["len_band"], dd.PAIRWISE_BLOCK_CAP
    )
    psz = (
        ndocs.select("len_band", F.explode("shingles").alias("sh"))
        .groupBy("len_band", "sh")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    total_p = psz.count()
    hot_p = psz.filter(F.col("n") > dd.NGRAM_POSTING_CAP).count()
    potp = psz.agg(pair_mass).first()[0] or 0.0
    admp = (
        psz.filter(F.col("n") <= dd.NGRAM_POSTING_CAP)
        .agg(pair_mass)
        .first()[0]
        or 0.0
    )
    ngram = {
        "postings": total_p,
        "postings_over_cap": hot_p,
        "cap_hit_rate": round(hot_p / max(total_p, 1), 6),
        "posting_join_rows_uncapped": int(potp),
        "posting_join_rows_admitted": int(admp),
    }
    return {"minhash_lsh": minhash, "ngram_postings": ngram}


def curve(out_path: str) -> None:
    import math

    from irio2024_mapreduce_spark.operators import ann_index as _ann_ix
    from irio2024_mapreduce_spark.operators import ivf_index as _ivf_ix

    spark = get_spark("stress-curve")
    spark.sparkContext.setLogLevel("ERROR")
    fx_logs = {
        "probe_ann_index": _ann_ix.FIXTURE_BUILD_LOG,
        "probe_ivf_index": _ivf_ix.FIXTURE_BUILD_LOG,
    }
    qs = dict(registry.queries())
    points = []
    for n in CURVE_POINTS:
        stage = synth_curve_corpus(spark, n)
        rec = {
            "n_docs": n,
            "walls_sec": {},
            "result_rows": {},
            "probe_decomp": {},
        }
        for name in CURVE_QUERIES:
            log = fx_logs.get(name)
            if log is not None:
                log.clear()
            # warm run (counts rows; absorbs the one-time fixture
            # build for the stored probes — recorded as build_sec)
            rec["result_rows"][name] = qs[name](spark, stage).count()
            if log is not None:
                rec["probe_decomp"][name] = {
                    "build_sec": round(sum(log), 3)
                }
                log.clear()
            drain_driver_backlog(spark)
            t0 = time.perf_counter()
            qs[name](spark, stage).write.mode("overwrite").format(
                "noop"
            ).save()
            wall = time.perf_counter() - t0
            rec["walls_sec"][name] = round(wall, 3)
            if log is not None:
                rec["probe_decomp"][name]["probe_sec"] = round(
                    wall - sum(log), 3
                )
                log.clear()
        rec.update(_curve_diagnostics(spark, stage))
        points.append(rec)
        print(json.dumps({"point_done": n}), file=sys.stderr)

    lo, hi = points[0], points[-1]
    span = math.log(hi["n_docs"] / lo["n_docs"])
    if span == 0.0:
        # single-point extension run: the merger recomputes slopes
        # over the merged series — don't lose the measured point to a
        # zero-span division
        span = float("inf")
    slopes = {
        q: round(
            math.log(
                max(hi["walls_sec"][q], 1e-3)
                / max(lo["walls_sec"][q], 1e-3)
            )
            / span,
            3,
        )
        for q in CURVE_QUERIES
    }
    probe_slopes = {
        q: round(
            math.log(
                max(hi["probe_decomp"][q]["probe_sec"], 1e-3)
                / max(lo["probe_decomp"][q]["probe_sec"], 1e-3)
            )
            / span,
            3,
        )
        for q in ("probe_ann_index", "probe_ivf_index")
    }
    result = {
        "seed": CURVE_SEED,
        "points": points,
        "wall_slope_vs_docs": slopes,  # 1.0 == linear, <1 sub-linear
        "probe_sec_slope_vs_docs": probe_slopes,
        "caps": {
            "LSH_BUCKET_CAP": 256,
            "NGRAM_POSTING_CAP": 256,
            "PAIRWISE_BLOCK_CAP": 1024,
        },
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({"out": out_path, "wall_slope_vs_docs": slopes,
                      "probe_sec_slope_vs_docs": probe_slopes}))


def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "--adversarial":
        adversarial_postings()
        return
    if argv and argv[0] == "--curve":
        curve(argv[1] if len(argv) > 1 else os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "stress_scale_r14.json"))
        return
    relational = bool(argv) and argv[0] == "--relational"
    if relational:
        argv = argv[1:]
    n = int(argv[0]) if argv else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    if relational:
        stage = build_scaled_relational(spark, base, n)
        probe_queries = RELATIONAL_QUERIES
    else:
        stage = build_scaled_corpus(spark, base, n)
        probe_queries = QUERIES

    # ungraded queries (dedup_near, dedup_simhash) keep their scale
    # series; a registered name wins
    qs = {**registry.retired_queries(), **registry.queries()}
    out: dict[str, dict[str, float]] = {}
    for name in probe_queries:
        times = {}
        for label, d in [("1x", base), (f"{n}x", stage)]:
            qs[name](spark, d).write.mode("overwrite").format("noop").save()
            # drain the py4j ref backlog + nudge ContextCleaner
            # outside the timed window (SCALE.md round-5)
            drain_driver_backlog(spark)
            t0 = time.perf_counter()
            qs[name](spark, d).write.mode("overwrite").format("noop").save()
            times[label] = round(time.perf_counter() - t0, 2)
        times["ratio"] = round(times[f"{n}x"] / max(times["1x"], 0.01), 1)
        out[name] = times
    print(json.dumps({"scale": n, "results": out}))


if __name__ == "__main__":
    main()
