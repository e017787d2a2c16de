"""LLM training-data preparation operators beyond the analysis pack:
PII scrubbing, sequence packing, and weighted source mixing.

The reference engine has no equivalent surface (its only text
operator chain is the wordcount pipeline,
``mapreduce/worker/algorithm.py`` steps R4-R8) — this module is
extension surface in the same category as dedup/similarity: the
operations a 100 TB pretraining corpus actually goes through between
"raw crawl" and "token stream".

* :func:`pii_scrub` — redact emails / IPv4 addresses / phone numbers
  and normalize whitespace. Pure JVM ``regexp_replace`` /
  ``regexp_count`` expressions: map-only, whole-stage-codegen'd, zero
  shuffle — the plan a row-wise cleaner must have at scale. The regex
  subset used (character classes, bounded repetition, no
  backreferences) behaves identically in Java regex and DuckDB's RE2,
  so the whole transformation is oracle-checkable.

* :func:`pack_sequences` — concatenate-then-chunk sequence packing:
  documents are laid out in a deterministic pseudo-random order (md5
  of doc_id — reproducible shuffling, same trick as
  ``deterministic_sample``), token counts are prefix-summed, and each
  document's global token offset places it in a fixed-size training
  pack (``seq_offset div PACK_MAX_TOKENS``). This is the standard
  pretraining packing layout (concatenate all tokens, cut every N).

  The prefix sum is the scale-interesting part: a naive
  ``Window.orderBy(...)`` with no partition key is an Exchange
  SinglePartition — one task sorts the entire corpus, the classic
  100 TB scale-killer. This implementation uses the textbook
  distributed two-phase scan instead:

  1. ``repartitionByRange`` on the order key (range partitions are
     globally ordered: every key in partition p precedes every key in
     partition p+1),
  2. per-partition running sums (window partitioned by
     ``spark_partition_id()`` — each partition scans locally, all in
     parallel),
  3. per-partition totals → a prefix-offset table of exactly
     ``n_partitions`` rows (the ONLY single-partition window runs on
     that bounded-tiny table), broadcast-joined back.

  Equality with the naive single-partition form is pinned in
  tests/test_llm_prep.py, as is the plan shape (RangePartitioning +
  broadcast join on the main branch).

* :func:`source_mix` — the per-source up/down-sampling knob of a
  pretraining data recipe ("wiki ×2.25, web ×0.5"), deterministic and
  content-addressed at 1/256 granularity, with upsampling as a
  map-only 1→N explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import load_table

# Conservative, engine-portable PII patterns (shared Java-regex/RE2
# subset: classes + bounded repetition only). A production scrubber
# swaps in stricter validated patterns; the PLAN (map-only chained
# regexp_replace) is what carries to 100 TB unchanged.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_PATTERN = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PHONE_PATTERN = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

# explicit ASCII whitespace class, not \s:
# Java's \s includes \x0b, RE2's does not — spell it out so both
# engines normalize identically
_WS_PATTERN = "[ \\t\\n\\x0b\\f\\r]+"

PACK_MAX_TOKENS = 512


def scrub_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append redaction columns to any DataFrame with a text column:
    ``clean_text`` plus per-category match counts. Redaction order is
    email → IPv4 → phone, each counted on the text AS ITS PREDECESSOR
    LEFT IT, so a digit run consumed by one category is never
    double-counted by the next."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(text_col, EMAIL_PATTERN, "<EMAIL>")
    t2 = F.regexp_replace(t1, IPV4_PATTERN, "<IP>")
    t3 = F.regexp_replace(t2, PHONE_PATTERN, "<PHONE>")
    clean = F.trim(F.regexp_replace(t3, _WS_PATTERN, " "))
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t0, F.lit(EMAIL_PATTERN)).cast("long"),
            "n_ips": F.regexp_count(t1, F.lit(IPV4_PATTERN)).cast("long"),
            "n_phones": F.regexp_count(t2, F.lit(PHONE_PATTERN)).cast("long"),
            "clean_text": clean,
        }
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redacted corpus view: doc_id, cleaned text, per-category
    redaction counts. Map-only — no shuffle anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    return scrub_text(docs).select(
        "doc_id",
        "clean_text",
        "n_emails",
        "n_ips",
        "n_phones",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias(
            "n_redactions"
        ),
        F.length("clean_text").cast("long").alias("clean_chars"),
    )


def _keyed_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, shuffle_key): whitespace token counts under
    a reproducible pseudo-random layout key. md5 rather than xxhash64
    so the DuckDB oracle computes the identical ordering."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias(
            "shuffle_key"
        ),
    )


def _assign(df_with_off: DataFrame) -> DataFrame:
    """Offset → pack assignment, shared by both prefix-sum forms.
    Integer ``div`` (not float division) — float loses exactness past
    2^53 and the offsets are exact longs."""
    m = PACK_MAX_TOKENS
    return df_with_off.select(
        "doc_id",
        "n_tokens",
        "seq_offset",
        F.expr(f"seq_offset div {m}").alias("pack_id"),
        F.expr(
            f"cast(seq_offset div {m} != "
            f"(seq_offset + n_tokens - 1) div {m} as long)"
        ).alias("spans_boundary"),
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed concatenate-then-chunk packing (see module
    docstring for the two-phase prefix-sum topology)."""
    return pack_docs(spark, load_table(spark, sf_dir, "documents"))


def pack_docs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Frame-level packing core — shared by :func:`pack_sequences`
    (the graded query over raw documents) and ``plans.corpus_prep``
    (packing the cleaned survivors)."""
    return _pack_from_counts(spark, _keyed_tokens(docs))


def pack_docs_bpe(
    spark: SparkSession, docs: DataFrame, merges
) -> DataFrame:
    """BPE-aware packing: identical two-phase distributed prefix
    scan, but token counts come from the trained tokenizer's Arrow
    stage (``bpe.bpe_apply``) instead of whitespace splits — real
    pipelines pack by what the model will actually consume, and a
    whitespace count misallocates by the corpus fertility (~1.2-1.5
    subwords/word). The layout key is the same content-addressed
    md5(doc_id), so the doc ORDER in the packed stream is identical
    to the whitespace variant's — only offsets/boundaries move.

    Scale shape unchanged by the composition: the Arrow stage is
    map-only (mapInPandas emits one row per doc, no shuffle), then
    the pinned range-partition + local-window + broadcast-offsets
    scan. tests/test_bpe.py pins the composed plan."""
    from irio2024_mapreduce_spark.operators.bpe import bpe_apply

    counts = bpe_apply(docs, merges).select(
        "doc_id",
        F.col("subword_tokens").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias(
            "shuffle_key"
        ),
    )
    return _pack_from_counts(spark, counts)


def _pack_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """The two-phase distributed prefix scan over any
    (doc_id, n_tokens, shuffle_key) frame."""
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = (
        counts
        .repartitionByRange(n_parts, "shuffle_key", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    # phase 1: per-partition running sums — fully parallel local scans
    local_w = Window.partitionBy("pid").orderBy("shuffle_key", "doc_id")
    local = ranged.withColumn("local_cum", F.sum("n_tokens").over(local_w))
    # phase 2: per-partition totals → prefix offsets. The single-
    # partition window runs on n_partitions rows (bounded, ~KBs at
    # any corpus size); the result broadcasts back to the big side.
    per_pid = ranged.groupBy("pid").agg(F.sum("n_tokens").alias("pid_total"))
    prefix_w = (
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_pid.select(
        "pid",
        F.coalesce(F.sum("pid_total").over(prefix_w), F.lit(0)).alias(
            "pid_offset"
        ),
    )
    packed = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", F.col("pid_offset") + F.col("local_cum"))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("seq_offset"),
        )
    )
    return _assign(packed)


# Source-mixing weights (units of 1/256 so the fractional part is an
# exact two-hex-digit threshold on md5(doc_id) — lowercase fixed-width
# hex compares identically lexicographically in both engines):
#   src0-4  -> 2.25x (upsample: 2 full copies + a 64/256 hash slice)
#   src5-9  -> 1.00x (pass through)
#   src10-14-> 0.50x (downsample to a 128/256 slice)
#   src15-19-> 0.25x (downsample to a 64/256 slice)
MIX_BANDS = [(5, 2, "40"), (10, 1, "00"), (15, 0, "80"), (10**9, 0, "40")]


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture — the 'wiki ×2.25, web ×0.5' knob every
    pretraining data recipe has. Deterministic and content-addressed:
    a doc's copy count is floor(w) plus one more iff the first two
    md5(doc_id) hex digits fall under the fractional threshold, so
    the mixture is reproducible across runs/partitionings/engines
    (same trick as ``deterministic_sample``, at 1/256 granularity).
    Upsampling is a map-only 1→N ``explode(sequence(...))``
    (:func:`mix_docs`) — no shuffle, and at 100 TB the exploded frame
    streams straight into the shuffle-free sink; this REPORT query
    summarizes the same copy counts without paying the explode."""
    docs = load_table(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 10).cast("int")
    w_int, w_hex = F.lit(None), F.lit(None)
    for bound, whole, frac_hex in reversed(MIX_BANDS):
        w_int = F.when(idx < bound, F.lit(whole)).otherwise(w_int)
        w_hex = F.when(idx < bound, F.lit(frac_hex)).otherwise(w_hex)
    frac_take = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        < w_hex
    )
    weighted = docs.select(
        "doc_id",
        "source",
        (w_int + frac_take.cast("int")).alias("n_copies"),
    )
    # the SUMMARY aggregates n_copies directly — exploding every doc
    # 1→N only to count the rows again would multiply the upsampled
    # stripe's row volume ~2.25× for identical output. The actual
    # 1→N materialization (what a pipeline feeds its sink) is
    # :func:`mix_docs`, which tests pin equal to these counts.
    per_source_out = weighted.filter(F.col("n_copies") > 0).groupBy(
        "source"
    ).agg(
        F.sum("n_copies").cast("long").alias("rows_out"),
        F.count("*").cast("long").alias("docs_kept"),
    )
    docs_in = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("docs_in")
    )
    return (
        docs_in.join(per_source_out, "source", "left")
        .select(
            "source",
            "docs_in",
            F.coalesce("docs_kept", F.lit(0)).cast("long").alias("docs_kept"),
            F.coalesce("rows_out", F.lit(0)).cast("long").alias("rows_out"),
            # realized rate ×10⁴, exact integer arithmetic (see
            # text_analysis rounding policy)
            F.expr(
                "10000 * (coalesce(rows_out, 0) div docs_in) + "
                "(10000 * (coalesce(rows_out, 0) % docs_in)) div docs_in"
            ).alias("rate_x10k"),
        )
        .orderBy("source")
    )


def mix_docs(docs: DataFrame) -> DataFrame:
    """The MATERIALIZATION half of the source mix: every doc emitted
    ``n_copies`` times (map-only 1→N explode, zero shuffle) with a
    ``copy_id`` — the frame a pretraining pipeline actually writes.
    ``source_mix`` is the summary of exactly these counts
    (equality pinned in tests/test_llm_prep.py)."""
    idx = F.substring("source", 4, 10).cast("int")
    w_int, w_hex = F.lit(None), F.lit(None)
    for bound, whole, frac_hex in reversed(MIX_BANDS):
        w_int = F.when(idx < bound, F.lit(whole)).otherwise(w_int)
        w_hex = F.when(idx < bound, F.lit(frac_hex)).otherwise(w_hex)
    frac_take = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        < w_hex
    )
    return (
        docs.withColumn(
            "n_copies", (w_int + frac_take.cast("int"))
        )
        .filter(F.col("n_copies") > 0)
        .select(
            *docs.columns,
            F.explode(F.expr("sequence(0, n_copies - 1)")).alias("copy_id"),
        )
    )


_MIX_CASE_INT = (
    "CASE WHEN idx < 5 THEN 2 WHEN idx < 10 THEN 1 ELSE 0 END"
)
_MIX_CASE_HEX = (
    "CASE WHEN idx < 5 THEN '40' WHEN idx < 10 THEN '00' "
    "WHEN idx < 15 THEN '80' ELSE '40' END"
)

# Decontamination: the GPT-3-style n-gram rule — a training doc is
# CONTAMINATED if it shares at least one 13-token n-gram with any
# eval-benchmark doc. Distinct semantics from the near-dup family:
# no similarity threshold, a single shared long n-gram convicts
# (long n-grams are specific enough that one exact hit means leaked
# eval text, not coincidence).
#
# Fixed-n contract, stated precisely: a benchmark doc SHORTER than n
# tokens contributes one whole-doc gram, so a sub-n benchmark doc is
# detected only when a training doc equals it outright — a longer
# training doc CONTAINING it verbatim is not convicted (the training
# side emits n-grams only; matching every sub-n benchmark length
# would need per-length gram explosions keyed on the data, which a
# static cross-engine oracle cannot express). This is the standard
# fixed-n behavior of public decontamination tooling; size the
# benchmark stripe's min doc length ≥ n when the stronger guarantee
# matters.
DECONTAM_NGRAM = 13


def _decontam_grams_from(toks: Column, n: int = DECONTAM_NGRAM) -> Column:
    """md5'd n-token-gram array from a pre-materialized token-array
    COLUMN — the 16-byte digest replaces the n-gram STRING before
    anything shuffles. Shared by :func:`decontaminate` (the report
    query) and ``plans.corpus_prep`` (the materializing pipeline), so
    both run the exact conviction rule the driver oracle hash-checks.

    Call sites must project ``F.split(text)`` into its own column
    first (per-task work): passing the split
    expression directly inlines it into the transform lambda, where
    the interpreted higher-order-function path re-splits the whole
    text once PER GRAM — O(len·n_grams) per doc instead of O(len).
    The two references here (sequence bound + slice) keep
    CollapseProject from folding the token projection back into the
    lambda (multi-use non-cheap alias) — same shape as
    operators.dedup._shingles_from."""
    return F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
        ),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
    )


def _exploded_grams(docs: DataFrame, *keep: str) -> DataFrame:
    """(keep..., g) rows: one md5'd {DECONTAM_NGRAM}-gram per row,
    tokens split once per doc via the projected-column shape."""
    return (
        docs.withColumn("_toks", F.split("text", " "))
        .select(*keep, _decontam_grams_from(F.col("_toks")).alias("_grams"))
        .select(*keep, F.explode("_grams").alias("g"))
    )


def benchmark_ngram_digests(benchmark: DataFrame) -> DataFrame:
    """The held-out benchmark as a distinct {DECONTAM_NGRAM}-gram md5
    digest set: the probe side of :func:`contaminated_ids`, and the
    stored decontamination half of the ingest index. Benchmarks are
    eval-corpus-sized (thousands of docs), so the set is tiny and
    every probe broadcasts it. A NULL-text benchmark doc adds the
    digest of the empty gram, which only an empty training text can
    emit."""
    return _exploded_grams(benchmark).select("g").distinct()


def contaminated_ids(train: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """doc_ids of ``train`` docs sharing ≥ 1 {DECONTAM_NGRAM}-gram
    digest with ``bench_grams`` (:func:`benchmark_ngram_digests`). The
    digest set is eval-corpus-sized, so the membership probe is a
    broadcast semi-join — the training side never shuffles at all."""
    return (
        _exploded_grams(train, "doc_id")
        .join(F.broadcast(bench_grams), "g", "semi")
        .select("doc_id")
        .distinct()
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test decontamination report. Fixture roles: doc_id % 10
    == 8 is the held-out eval benchmark; everything else is the
    training candidate pool. Per-source report of clean vs
    contaminated training docs.

    Scale shape: both sides explode to md5'd {DECONTAM_NGRAM}-gram
    posting rows (map-only; the 16-byte digest replaces the n-gram
    STRING before anything shuffles), the benchmark side is
    eval-corpus-sized (tiny — benchmarks are thousands of docs, the
    training pool is billions), so the membership probe is a
    broadcast semi-join: the training side never shuffles AT ALL —
    one map pass over the corpus against a broadcast digest set, the
    same topology similarity_topk pins for its corpus side."""
    docs = load_table(spark, sf_dir, "documents")
    hit_ids = contaminated_ids(
        docs.filter(F.col("doc_id") % 10 != 8),
        benchmark_ngram_digests(docs.filter(F.col("doc_id") % 10 == 8)),
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
            (F.col("n_train_docs") - F.col("n_contaminated")).alias(
                "n_clean"
            ),
        )
        .orderBy("source")
    )


# DSIR-style data selection: pick raw-corpus docs that look like a
# small target-domain sample, scored by hashed n-gram importance
# ratios. Fixture roles: doc_id % 10 == 7 is the target-domain sample
# (DSIR's "target distribution" — small by design), everything else
# is the raw pool being filtered.
IMPORTANCE_BUCKETS_HEX = 2  # md5-prefix buckets: 16^2 = 256
IMPORTANCE_SMOOTH = 1  # add-one smoothing on bucket counts


def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-based data selection (DSIR-style): score every raw
    doc by how target-like its hashed unigram profile is, admit docs
    whose mean bucket importance clears parity, report per source.

    Mechanics, all exact integer arithmetic so the DuckDB oracle
    reproduces every value bit-for-bit:

    * words hash to 256 buckets via their md5's first 2 hex chars
      (content-addressed, engine/seed independent — the
      ``deterministic_sample`` trick);
    * bucket importance is the smoothed target/raw rate ratio scaled
      ×10⁴: ``(10000 · (t_b+1) · raw_total) div ((r_b+1) ·
      target_total)`` — the rational-arithmetic stand-in for DSIR's
      log-likelihood ratio (a log-space double would hash-diverge
      across libm implementations; at fixture scale the products fit
      int64 comfortably — a 100 TB deployment flips to log-space
      doubles and accepts approximate comparison);
    * per-doc score = integer mean of its tokens' bucket importances;
      admit iff score ≥ 10000 (more target-like than raw-average).

    Scale shape: the bucket table is 256 rows — built by one
    map-side-combined agg, broadcast back; the token-level weight
    join is map-only, and the per-doc mean's groupBy collapses each
    doc map-side (partial agg: a doc's exploded tokens are
    partition-local), so the shuffle is one row per doc, never one
    per token. The final rollup shuffles one row per source.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    is_target = F.col("doc_id") % 10 == 7
    toks = docs.select(
        "doc_id",
        "source",
        is_target.alias("is_t"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")
    bucket = F.substring(F.md5("w"), 1, IMPORTANCE_BUCKETS_HEX)

    counts = toks.groupBy(bucket.alias("b")).agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("r_cnt"),
    )
    a = IMPORTANCE_SMOOTH
    w = counts.select(
        "b",
        F.expr(
            f"(10000 * (t_cnt + {a}) * (sum(r_cnt) over ())) div "
            f"((r_cnt + {a}) * (sum(t_cnt) over ()))"
        ).alias("imp_x10k"),
    )

    scored = (
        toks.filter(~F.col("is_t"))
        .withColumn("b", bucket)
        .join(F.broadcast(w), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.expr("sum(imp_x10k) div count(*)").alias("score_x10k"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(
                F.when(F.col("score_x10k") >= 10_000, 1).otherwise(0)
            ).alias("docs_admitted"),
            F.expr(
                "10000 * (sum(case when score_x10k >= 10000 then 1 else 0 end) "
                "div count(*)) + (10000 * (sum(case when score_x10k >= 10000 "
                "then 1 else 0 end) % count(*))) div count(*)"
            ).alias("admit_rate_x10k"),
            F.expr(
                "sum(score_x10k) div count(*)"
            ).alias("avg_score_x10k"),
        )
        .orderBy("source")
    )


# Stratified train/val/test holdout. Content-addressed like
# source_mix: a doc's split is a pure function of md5(doc_id), so the
# assignment is reproducible across runs, partitionings, and engines,
# and — critically for a growing corpus — STABLE under appends (a doc
# ingested tomorrow lands in the same split it would have landed in
# today; a row_number()-based "exact" split re-shuffles every prior
# assignment whenever the corpus grows, silently leaking yesterday's
# train docs into today's test set). Stratification is per-lang
# threshold control, not per-stratum ranking: en is abundant so holds
# out ~2% per eval split; every other lang holds out ~5% so low-
# resource eval sets stay usable. Thresholds compare the first 4 hex
# digits of the md5 (granularity 1/65536) as fixed-width lowercase
# hex strings — lexicographic == numeric for fixed width, identical
# in Spark and DuckDB.
SPLIT_TEST_HEX_EN = "0500"  # 1280/65536 ≈ 1.95 % of en docs
SPLIT_VAL_HEX_EN = "0a00"  # next 1280/65536 ≈ 1.95 %
SPLIT_TEST_HEX = "0d00"  # 3328/65536 ≈ 5.08 % of non-en docs
SPLIT_VAL_HEX = "1a00"  # next 3328/65536 ≈ 5.08 %


def _split_col() -> Column:
    key = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4
    )
    t_hex = (
        F.when(F.col("lang") == "en", F.lit(SPLIT_TEST_HEX_EN))
        .otherwise(F.lit(SPLIT_TEST_HEX))
    )
    v_hex = (
        F.when(F.col("lang") == "en", F.lit(SPLIT_VAL_HEX_EN))
        .otherwise(F.lit(SPLIT_VAL_HEX))
    )
    return (
        F.when(key < t_hex, F.lit("test"))
        .when(key < v_hex, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def split_docs(docs: DataFrame) -> DataFrame:
    """The MATERIALIZATION half of the stratified split: every doc
    tagged with its ``split`` ('train'/'val'/'test') — map-only, zero
    shuffle, so at 100 TB the three splits are written by one pass
    with ``partitionBy("split")`` and never pay a sort or exchange.
    ``corpus_split`` is the summary of exactly these assignments
    (equality pinned in tests/test_llm_prep.py)."""
    return docs.withColumn("split", _split_col())


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split) census of the stratified holdout: doc count,
    char volume, and the realized per-lang share ×10⁴ in exact
    integer arithmetic (the repo-wide rounding policy). Plan shape:
    ONE corpus scan — one map-side-combined agg over the map-only
    split tag; the per-lang totals are a window over the already
    aggregated ≤|langs|·3-row frame, so the corpus is never read or
    shuffled a second time."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    per = (
        split_docs(docs)
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )
    lang_total = F.sum("docs").over(Window.partitionBy("lang"))
    return (
        per.withColumn("lang_docs", lang_total)
        .select(
            "lang",
            "split",
            "docs",
            "chars",
            F.expr(
                "10000 * (docs div lang_docs) + "
                "(10000 * (docs % lang_docs)) div lang_docs"
            ).alias("share_x10k"),
        )
        .orderBy("lang", "split")
    )


_SPLIT_PAIRS = ("test|train", "test|val", "train|val")


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit a split assignment for train↔eval duplicate leakage —
    the hygiene failure a random split silently commits: an eval doc
    with a (near-)duplicate in train is a memorization freebie, not a
    generalization measurement.

    Two detection families, one row per (kind, split-pair):

    * ``exact`` — documents with identical bytes on both sides of a
      split boundary. Counted WITHOUT a self-join: per-digest split
      counts (one groupBy on md5) multiply into cross-pair counts
      (``n_a·n_b``), so a text duplicated k times costs k rows, never
      k² join rows — the dedup_exact discipline applied to auditing.
    * ``near`` — 3-gram-Jaccard ≥ 0.5 pairs from the oracle-checked
      ``dedup_ngram_jaccard`` machinery (banded, double-capped).
      Those pairs connect exact-dup REPRESENTATIVES, and a rep's
      members can sit in several splits — so each pair is expanded to
      MEMBER-level cross counts arithmetically (per-rep split counts
      multiply: ``a_s1·b_s2 + a_s2·b_s1``), never by materializing
      member×member rows. Without this, an eval doc exact-collapsed
      into a train-side rep would hide its near-duplicates entirely
      (the rep pair would read train|train and be dropped). Exact
      pairs within one digest group stay the ``exact`` family's —
      identical bytes are not "near" — so the two families never
      double-count.

    The row set is FIXED (3 pairs × 2 kinds, zeros included) so the
    report's shape doesn't depend on what leaked. All counting is
    integer-exact; the DuckDB twin hash-matches at all SFs."""
    from irio2024_mapreduce_spark.operators.dedup import (  # noqa: PLC0415
        dedup_ngram_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tagged = split_docs(docs)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return leakage_report(tagged, pairs)


def _rep_split_counts(tagged: DataFrame) -> DataFrame:
    """ONE digest-keyed aggregation serves both leakage families AND
    the quarantine: per-group split counts (the exact family's cross
    products) plus the group's REP id (the node id the ngram pair
    machinery emits — min doc_id per text). A second groupBy(md5)
    would double the corpus scan and the text-keyed shuffle."""
    return tagged.groupBy(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).agg(
        F.min("doc_id").alias("rep"),
        *[
            F.sum(
                F.when(F.col("split") == s, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias(f"n_{s}")
            for s in ("train", "val", "test")
        ],
    )


def leakage_report(tagged: DataFrame, pairs: DataFrame) -> DataFrame:
    """The audit core of :func:`split_leakage` over any tagged frame
    (``doc_id``, ``text``, ``split``) and rep-level near-pair frame
    (``doc_a``, ``doc_b``) — the post-quarantine verification runs it
    on the shipped artifact, not just the fixture table."""
    rep_counts = _rep_split_counts(tagged).localCheckpoint(eager=False)
    exact_tot = rep_counts.agg(
        F.coalesce(
            F.sum(F.col("n_test") * F.col("n_train")), F.lit(0)
        ).cast("long").alias("tt"),
        F.coalesce(
            F.sum(F.col("n_test") * F.col("n_val")), F.lit(0)
        ).cast("long").alias("tv"),
        F.coalesce(
            F.sum(F.col("n_train") * F.col("n_val")), F.lit(0)
        ).cast("long").alias("trv"),
    )
    exact_rows = exact_tot.select(
        F.lit("exact").alias("kind"),
        F.expr(
            "stack(3, 'test|train', tt, 'test|val', tv, "
            "'train|val', trv) as (split_pair, n_pairs)"
        ),
    ).select("kind", "split_pair", "n_pairs")

    a = rep_counts.select(
        F.col("rep").alias("doc_a"),
        F.col("n_train").alias("a_train"),
        F.col("n_val").alias("a_val"),
        F.col("n_test").alias("a_test"),
    )
    b = rep_counts.select(
        F.col("rep").alias("doc_b"),
        F.col("n_train").alias("b_train"),
        F.col("n_val").alias("b_val"),
        F.col("n_test").alias("b_test"),
    )
    near_tot = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("a_test") * F.col("b_train")
                    + F.col("a_train") * F.col("b_test")
                ),
                F.lit(0),
            ).cast("long").alias("tt"),
            F.coalesce(
                F.sum(
                    F.col("a_test") * F.col("b_val")
                    + F.col("a_val") * F.col("b_test")
                ),
                F.lit(0),
            ).cast("long").alias("tv"),
            F.coalesce(
                F.sum(
                    F.col("a_train") * F.col("b_val")
                    + F.col("a_val") * F.col("b_train")
                ),
                F.lit(0),
            ).cast("long").alias("trv"),
        )
    )
    near_rows = near_tot.select(
        F.lit("near").alias("kind"),
        F.expr(
            "stack(3, 'test|train', tt, 'test|val', tv, "
            "'train|val', trv) as (split_pair, n_pairs)"
        ),
    ).select("kind", "split_pair", "n_pairs")
    return exact_rows.unionByName(near_rows).orderBy("kind", "split_pair")


def leakage_quarantine_ids(
    tagged: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """doc_ids of the TRAIN-side members whose duplicate group leaks
    into an eval split — the ACTING half of :func:`split_leakage`'s
    audit (the audit only counts leaks; this removes them).
    Quarantining exactly these ids zeroes every train↔eval
    leakage cell while leaving the eval sets UNTOUCHED (eval
    composition must stay stable across maintenance; train is the
    side that can afford to shrink):

    * exact — a digest group with members in train AND val/test: its
      train members go;
    * near — a rep pair (the capped ngram-jaccard machinery, same
      pairs the audit counts) where one group has train members and
      the other has eval members: the train side's members go (both
      sides, when both qualify).

    The expansion is group-level (semi-joins on digest), never
    member×member — the audit's arithmetic discipline applied to the
    kill set."""
    from irio2024_mapreduce_spark.operators.dedup import (  # noqa: PLC0415
        ngram_jaccard_pairs_docs,
    )

    tagged = tagged.filter(F.col("text").isNotNull())
    if pairs is None:
        pairs = ngram_jaccard_pairs_docs(tagged).select("doc_a", "doc_b")
    rc = _rep_split_counts(tagged).localCheckpoint(eager=False)
    evalish = (F.col("n_val") + F.col("n_test")) > 0
    exact_reps = rc.filter((F.col("n_train") > 0) & evalish).select("rep")
    ga = rc.select(
        F.col("rep").alias("doc_a"),
        (F.col("n_train") > 0).alias("a_train"),
        evalish.alias("a_eval"),
    )
    gb = rc.select(
        F.col("rep").alias("doc_b"),
        (F.col("n_train") > 0).alias("b_train"),
        evalish.alias("b_eval"),
    )
    pj = pairs.join(ga, "doc_a").join(gb, "doc_b")
    near_a = pj.filter(F.col("a_train") & F.col("b_eval")).select(
        F.col("doc_a").alias("rep")
    )
    near_b = pj.filter(F.col("b_train") & F.col("a_eval")).select(
        F.col("doc_b").alias("rep")
    )
    leak_h = (
        rc.join(
            exact_reps.unionByName(near_a).unionByName(near_b).distinct(),
            "rep",
            "semi",
        ).select("h")
    )
    members = tagged.select(
        "doc_id", "split", F.md5(F.col("text").cast("binary")).alias("h")
    )
    return (
        members.join(leak_h, "h", "semi")
        .filter(F.col("split") == "train")
        .select("doc_id")
    )


def quarantine_split_docs(docs: DataFrame) -> DataFrame:
    """:func:`split_docs` plus the quarantine stage: leaking train
    members are re-tagged ``split = 'quarantined'`` (a fourth
    partition dir — shipped for review, excluded from training packs
    and invisible to the train/val/test leakage cells). Post-condition
    verified in tests: :func:`leakage_report` over the result reads
    ZERO in every train↔eval cell, exact and near."""
    tagged = split_docs(docs).localCheckpoint(eager=False)
    q = leakage_quarantine_ids(tagged).withColumn("_q", F.lit(True))
    return (
        tagged.join(q, "doc_id", "left")
        .withColumn(
            "split",
            F.when(F.col("_q"), F.lit("quarantined")).otherwise(
                F.col("split")
            ),
        )
        .drop("_q")
    )


def _split_leakage_oracle() -> str:
    from irio2024_mapreduce_spark.operators import dedup  # noqa: PLC0415

    ngram_pairs_sql = dedup.ORACLE_SQL["dedup_ngram_jaccard"]
    pairs_values = ", ".join(f"('{p}')" for p in _SPLIT_PAIRS)
    return f"""
    WITH tagged AS (
        SELECT doc_id, text,
               CASE
                   WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
                        (CASE WHEN lang = 'en' THEN '{SPLIT_TEST_HEX_EN}'
                              ELSE '{SPLIT_TEST_HEX}' END) THEN 'test'
                   WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
                        (CASE WHEN lang = 'en' THEN '{SPLIT_VAL_HEX_EN}'
                              ELSE '{SPLIT_VAL_HEX}' END) THEN 'val'
                   ELSE 'train'
               END AS split
        FROM documents WHERE text IS NOT NULL
    ), rc AS (
        SELECT md5(text) AS h, MIN(doc_id) AS rep,
               SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
               SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
               SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
        FROM tagged GROUP BY md5(text)
    ), exact AS (
        SELECT 'exact' AS kind, t.split_pair,
               COALESCE(SUM(CASE t.split_pair
                   WHEN 'test|train' THEN n_test * n_train
                   WHEN 'test|val' THEN n_test * n_val
                   ELSE n_train * n_val END), 0)::BIGINT AS n_pairs
        FROM (VALUES {pairs_values}) t(split_pair)
        LEFT JOIN rc ON TRUE
        GROUP BY t.split_pair
    ), near_pairs AS (
        {ngram_pairs_sql}
    ), near_tot AS (
        SELECT
            COALESCE(SUM(a.n_test * b.n_train + a.n_train * b.n_test),
                     0)::BIGINT AS tt,
            COALESCE(SUM(a.n_test * b.n_val + a.n_val * b.n_test),
                     0)::BIGINT AS tv,
            COALESCE(SUM(a.n_train * b.n_val + a.n_val * b.n_train),
                     0)::BIGINT AS trv
        FROM near_pairs p
        JOIN rc a ON p.doc_a = a.rep
        JOIN rc b ON p.doc_b = b.rep
    ), near AS (
        SELECT 'near' AS kind, t.split_pair,
               CASE t.split_pair
                   WHEN 'test|train' THEN tt
                   WHEN 'test|val' THEN tv
                   ELSE trv END AS n_pairs
        FROM (VALUES {pairs_values}) t(split_pair)
        LEFT JOIN near_tot ON TRUE
    )
    SELECT kind, split_pair, n_pairs FROM exact
    UNION ALL
    SELECT kind, split_pair, n_pairs FROM near
    ORDER BY kind, split_pair
    """


CORPUS_SPLIT_ORACLE = f"""
    WITH tagged AS (
        SELECT lang, n_chars,
               CASE
                   WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
                        (CASE WHEN lang = 'en' THEN '{SPLIT_TEST_HEX_EN}'
                              ELSE '{SPLIT_TEST_HEX}' END) THEN 'test'
                   WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
                        (CASE WHEN lang = 'en' THEN '{SPLIT_VAL_HEX_EN}'
                              ELSE '{SPLIT_VAL_HEX}' END) THEN 'val'
                   ELSE 'train'
               END AS split
        FROM documents
    ), per AS (
        SELECT lang, split,
               COUNT(*)::BIGINT AS docs,
               SUM(n_chars)::BIGINT AS chars
        FROM tagged GROUP BY lang, split
    ), totals AS (
        SELECT lang, COUNT(*)::BIGINT AS lang_docs
        FROM documents GROUP BY lang
    )
    SELECT p.lang, p.split, p.docs, p.chars,
           CAST(10000 * (p.docs // t.lang_docs)
                + (10000 * (p.docs % t.lang_docs)) // t.lang_docs
             AS BIGINT) AS share_x10k
    FROM per p JOIN totals t USING (lang)
    ORDER BY p.lang, p.split
"""


# Registered driver surface: decontaminate is the flagship train-test
# hygiene operator.
QUERIES = {
    "decontaminate": decontaminate,
}

DECONTAMINATE_ORACLE = f"""
        WITH grams AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - {DECONTAM_NGRAM - 1}, 1) + 1),
                       i -> md5(array_to_string(
                           string_split(text, ' ')[i:i+{DECONTAM_NGRAM - 1}], ' '))
                   )) AS g
            FROM documents
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 8
        ), hits AS (
            SELECT DISTINCT doc_id FROM grams
            WHERE doc_id % 10 != 8 AND g IN (SELECT g FROM bench)
        )
        SELECT d.source,
               COUNT(*)::BIGINT AS n_train_docs,
               COUNT(h.doc_id)::BIGINT AS n_contaminated,
               (COUNT(*) - COUNT(h.doc_id))::BIGINT AS n_clean
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 10 != 8
        GROUP BY d.source ORDER BY d.source
"""

ORACLE_SQL = {
    "decontaminate": DECONTAMINATE_ORACLE,
}

# Never-registered local-oracle queries (driver window is full at 50):
# verified every test run by tests/test_query_battery.py
# with the same rows/schema/value-hash discipline as the driver.
RETIRED_TWIN_QUERIES = {
    "pii_scrub": pii_scrub,
    "pack_sequences": pack_sequences,
    "source_mix": source_mix,
    "importance_resample": importance_resample,
    "corpus_split": corpus_split,
    "split_leakage": split_leakage,
}

IMPORTANCE_RESAMPLE_ORACLE = """
    WITH tk AS (
        SELECT doc_id, source, doc_id % 10 = 7 AS is_t, w
        FROM (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL
        ) WHERE w <> ''
    ), counts AS (
        SELECT substr(md5(w), 1, 2) AS b,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt,
               SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS r_cnt
        FROM tk GROUP BY 1
    ), wts AS (
        SELECT b,
               (10000 * (t_cnt + 1) * (SUM(r_cnt) OVER ())) //
               ((r_cnt + 1) * (SUM(t_cnt) OVER ())) AS imp_x10k
        FROM counts
    ), scored AS (
        SELECT doc_id, source,
               SUM(imp_x10k) // COUNT(*) AS score_x10k
        FROM tk JOIN wts ON substr(md5(w), 1, 2) = b
        WHERE NOT is_t
        GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*)::BIGINT AS docs_in,
           SUM(CASE WHEN score_x10k >= 10000 THEN 1 ELSE 0 END)::BIGINT
               AS docs_admitted,
           CAST(10000 * (SUM(CASE WHEN score_x10k >= 10000 THEN 1
                              ELSE 0 END) // COUNT(*))
                + (10000 * (SUM(CASE WHEN score_x10k >= 10000 THEN 1
                                ELSE 0 END) % COUNT(*))) // COUNT(*)
             AS BIGINT) AS admit_rate_x10k,
           CAST(SUM(score_x10k) // COUNT(*) AS BIGINT) AS avg_score_x10k
    FROM scored GROUP BY source ORDER BY source
"""

RETIRED_TWIN_ORACLES = {
    "importance_resample": IMPORTANCE_RESAMPLE_ORACLE,
    "corpus_split": CORPUS_SPLIT_ORACLE,
    "split_leakage": _split_leakage_oracle(),
    "pii_scrub": f"""
        WITH s AS (
            SELECT doc_id, text,
                   regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1
            FROM documents
        ), s2 AS (
            SELECT doc_id, text, t1,
                   regexp_replace(t1, '{IPV4_PATTERN}', '<IP>', 'g') AS t2
            FROM s
        ), s3 AS (
            SELECT doc_id, text, t1, t2,
                   trim(regexp_replace(
                       regexp_replace(t2, '{PHONE_PATTERN}', '<PHONE>', 'g'),
                       '{_WS_PATTERN}', ' ', 'g')) AS clean_text
            FROM s2
        )
        SELECT doc_id, clean_text,
               len(regexp_extract_all(text, '{EMAIL_PATTERN}'))::BIGINT AS n_emails,
               len(regexp_extract_all(t1, '{IPV4_PATTERN}'))::BIGINT   AS n_ips,
               len(regexp_extract_all(t2, '{PHONE_PATTERN}'))::BIGINT  AS n_phones,
               (len(regexp_extract_all(text, '{EMAIL_PATTERN}'))
                + len(regexp_extract_all(t1, '{IPV4_PATTERN}'))
                + len(regexp_extract_all(t2, '{PHONE_PATTERN}')))::BIGINT
                                                                       AS n_redactions,
               length(clean_text)::BIGINT                              AS clean_chars
        FROM s3
    """,
    "pack_sequences": f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   md5(doc_id::VARCHAR)                 AS shuffle_key
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (
                       ORDER BY shuffle_key, doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) - n_tokens AS seq_offset
            FROM t
        )
        SELECT doc_id, n_tokens, seq_offset,
               seq_offset // {PACK_MAX_TOKENS} AS pack_id,
               CASE WHEN seq_offset // {PACK_MAX_TOKENS}
                    != (seq_offset + n_tokens - 1) // {PACK_MAX_TOKENS}
                    THEN 1 ELSE 0 END::BIGINT AS spans_boundary
        FROM c
    """,
    "source_mix": f"""
        WITH w AS (
            SELECT doc_id, source,
                   CAST(substr(source, 4) AS INT) AS idx
            FROM documents
        ), weighted AS (
            SELECT doc_id, source,
                   ({_MIX_CASE_INT}) + (CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2)
                                             < ({_MIX_CASE_HEX})
                                        THEN 1 ELSE 0 END) AS n_copies
            FROM w
        ), mixed AS (
            SELECT doc_id, source, unnest(range(n_copies)) AS copy_id
            FROM weighted WHERE n_copies > 0
        ), outs AS (
            SELECT source, COUNT(*)::BIGINT AS rows_out,
                   COUNT(DISTINCT doc_id)::BIGINT AS docs_kept
            FROM mixed GROUP BY source
        ), ins AS (
            SELECT source, COUNT(*)::BIGINT AS docs_in
            FROM documents GROUP BY source
        )
        SELECT i.source, i.docs_in,
               COALESCE(o.docs_kept, 0)::BIGINT AS docs_kept,
               COALESCE(o.rows_out, 0)::BIGINT AS rows_out,
               CAST(10000 * (COALESCE(o.rows_out, 0) // i.docs_in)
                    + (10000 * (COALESCE(o.rows_out, 0) % i.docs_in))
                      // i.docs_in AS BIGINT) AS rate_x10k
        FROM ins i LEFT JOIN outs o USING (source)
        ORDER BY i.source
    """,
}
