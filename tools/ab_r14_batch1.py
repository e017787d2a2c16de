"""Interleaved in-session A/B of the r14 optimization batch 1 shapes.

The host drifts 1.5-2x between runs (judge r13 + this session's canary
series), so cross-run bench comparisons are polluted. This tool times
the OLD (HEAD-committed) pipeline shape against the NEW (working-tree)
shape for every query family batch 1 touches, ALTERNATING old/new
within one Spark session (3 rounds each, min reported) — host drift
hits both variants equally. Old bodies are reconstructed inline from
`git show HEAD` (the helpers they use are still exported); new bodies
are the registry implementations. A result-hash parity check (sorted
collect over sf0.01) guards that A and B compute identical rows.

Old variants run with spark.sql.optimizer.excludedRules cleared (the
committed behavior); new variants run with InferFiltersFromGenerate
excluded (what ensure_session_confs now pins).

Usage: python tools/ab_r14_batch1.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from irio2024_mapreduce_spark.operators import dedup as D
from irio2024_mapreduce_spark.operators import llm_prep as L
from irio2024_mapreduce_spark.session import (
    EXCLUDED_RULES,
    drain_driver_backlog,
    get_spark,
)
from irio2024_mapreduce_spark.sources.tables import load_table


# ----------------------------------------------------------- old shapes
def old_near_docs(spark, sf, hash_fn, notnull):
    raw = load_table(spark, sf, "documents")
    if notnull:
        raw = raw.filter(F.col("text").isNotNull())
    return (
        raw.groupBy(hash_fn.alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", D._shingles().alias("shingles"))
    )


def old_verify_pairs(pairs: DataFrame, raw: DataFrame) -> DataFrame:
    melted = pairs.select(
        F.struct("doc_a", "doc_b").alias("pair"),
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("role"), F.col("doc_a").alias("doc_id")),
                F.struct(F.lit("b").alias("role"), F.col("doc_b").alias("doc_id")),
            )
        ).alias("m"),
    ).select("pair", "m.role", "m.doc_id")
    with_sh = melted.join(raw, "doc_id").select(
        "pair", "role", D._shingles().alias("sh")
    )
    return (
        with_sh.groupBy("pair")
        .agg(
            F.first(F.when(F.col("role") == "a", F.col("sh")), ignorenulls=True)
            .alias("sh_a"),
            F.first(F.when(F.col("role") == "b", F.col("sh")), ignorenulls=True)
            .alias("sh_b"),
        )
        .select(
            F.col("pair.doc_a").alias("doc_a"),
            F.col("pair.doc_b").alias("doc_b"),
            F.round(D._jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def old_dedup_near(spark, sf):
    docs = old_near_docs(spark, sf, F.sha2("text", 256), False)
    pairs = D._minhash_candidates(docs)
    raw = load_table(spark, sf, "documents").select("doc_id", "text")
    return old_verify_pairs(pairs, raw)


def old_dedup_near_md5(spark, sf):
    docs = old_near_docs(spark, sf, F.md5("text"), True)
    pairs = D._minhash_candidates(docs, family="md5")
    raw = load_table(spark, sf, "documents").select("doc_id", "text")
    return old_verify_pairs(pairs, raw)


def old_dedup_simhash(spark, sf):
    docs = (
        load_table(spark, sf, "documents")
        .groupBy(F.sha2("text", 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cand = D._simhash_candidates(docs)
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"),
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def old_ngram_docs(raw):
    spark = raw.sparkSession
    docs = (
        raw.groupBy(F.sha2("text", 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            D._shingles().alias("shingles"),
            (F.size(D._tokens()) / 8).cast("long").alias("len_band"),
        )
    )
    return D._cap_blocks_lowcard(docs, ["len_band"], D.PAIRWISE_BLOCK_CAP)


def old_dedup_ngram_jaccard(spark, sf):
    raw = load_table(spark, sf, "documents")
    docs = old_ngram_docs(raw)
    posting = docs.select(
        "doc_id",
        "len_band",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )
    posting = D._cap_buckets(posting, ["len_band", "sh"], D.NGRAM_POSTING_CAP)
    posting = posting.localCheckpoint(eager=False)
    l, r = posting.alias("l"), posting.alias("r")
    joined = l.join(
        r,
        (F.col("l.len_band") == F.col("r.len_band"))
        & (F.col("l.sh") == F.col("r.sh"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    shared = joined.groupBy(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
        F.col("l.n_sh").alias("n_a"),
        F.col("r.n_sh").alias("n_b"),
    ).agg(F.count("*").alias("n_shared"))
    return (
        shared.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def old_side_postings(side):
    sh = side.repartition(
        side.sparkSession.sparkContext.defaultParallelism
    ).select(
        "doc_id",
        D._shingles().alias("shingles"),
        (F.size(D._tokens()) / 8).cast("long").alias("len_band"),
    )
    posting = sh.select(
        "doc_id",
        "len_band",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )
    return D._cap_buckets(posting, ["len_band", "sh"], D.NGRAM_POSTING_CAP)


def old_corpus_index_postings(corpus):
    reps = corpus.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
    )
    return old_side_postings(reps)


def old_dedup_incremental(spark, sf):
    docs = load_table(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return D._incremental_verdicts(
        batch,
        D.corpus_index_hashes(corpus),
        old_corpus_index_postings(corpus),
        recap_stored=False,
    )


def old_decontaminate(spark, sf):
    docs = load_table(spark, sf, "documents")
    grams = L._decontam_grams()
    bench_grams = (
        docs.filter(F.col("doc_id") % 10 == 8)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    hit_ids = (
        docs.filter(F.col("doc_id") % 10 != 8)
        .select("doc_id", F.explode(grams).alias("g"))
        .join(F.broadcast(bench_grams), "g", "semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 10 != 8)
        .select("doc_id", "source")
        .join(hit_ids.withColumn("_hit", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum(F.coalesce("_hit", F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .select(
            "source",
            "n_train_docs",
            "n_contaminated",
            (F.col("n_train_docs") - F.col("n_contaminated")).alias("n_clean"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------- harness
def result_hash(df: DataFrame) -> str:
    rows = sorted(str(r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--parity-sf", default="/root/testdata/sf0.01")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--families", default=None)
    args = ap.parse_args()

    from irio2024_mapreduce_spark import registry

    qs = {**registry.retired_queries(), **registry.queries()}

    fams = [
        ("dedup_near", old_dedup_near, qs["dedup_near"]),
        ("dedup_near_md5", old_dedup_near_md5, qs["dedup_near_md5"]),
        ("dedup_simhash", old_dedup_simhash, qs["dedup_simhash"]),
        (
            "dedup_ngram_jaccard",
            old_dedup_ngram_jaccard,
            qs["dedup_ngram_jaccard"],
        ),
        (
            "dedup_incremental",
            old_dedup_incremental,
            qs["dedup_incremental"],
        ),
        ("decontaminate", old_decontaminate, qs["decontaminate"]),
    ]
    if args.families:
        keep = set(args.families.split(","))
        fams = [f for f in fams if f[0] in keep]

    spark = get_spark(
        "ab-r14-b1", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run(fn, sf, rules):
        df = fn(spark, sf)
        spark.conf.set("spark.sql.optimizer.excludedRules", rules)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        w = time.perf_counter() - t0
        spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
        return w

    print(f"== parity check at {args.parity_sf} ==", flush=True)
    for name, old, new in fams:
        ho = result_hash(old(spark, args.parity_sf))
        hn = result_hash(new(spark, args.parity_sf))
        ok = "OK " if ho == hn else "MISMATCH"
        print(f"{ok} {name:24s} old={ho} new={hn}", flush=True)
        assert ho == hn, name

    print(f"== interleaved timing at {args.sf} ({args.rounds} rounds) ==")
    out = {}
    for name, old, new in fams:
        olds, news = [], []
        for r in range(args.rounds):
            drain_driver_backlog(spark)
            olds.append(run(old, args.sf, ""))
            drain_driver_backlog(spark)
            news.append(run(new, args.sf, EXCLUDED_RULES))
        out[name] = (olds, news)
        print(
            f"{name:24s} old={[round(w,2) for w in olds]} "
            f"new={[round(w,2) for w in news]} "
            f"min {min(olds):.2f} -> {min(news):.2f} "
            f"({min(news)/min(olds):.2f}x)",
            flush=True,
        )

    print("== summary ==")
    for name, (olds, news) in out.items():
        print(
            f"{name:24s} {min(olds):6.2f} -> {min(news):6.2f} "
            f"({min(news)/min(olds):.2f}x)"
        )


if __name__ == "__main__":
    main()
