"""Text-analysis operator pack — SURVEY.md §2.3 E24 plus the
language-ID / quality-score / repetition / retrieval operators a
training-data pipeline needs.

Everything is built-in SQL functions (regex, list ops, md5) — no
Python in the row loop, so the whole pack rides whole-stage codegen
and scales linearly with a map-only plan (the only shuffle is the
final per-(lang, source) aggregation in E24).

The language-ID heuristic is a stopword-overlap argmax — a toy
classifier by design, but its *plan shape* (per-row token-set overlap
against small broadcast dictionaries, CASE-based argmax) is the real
fastText-style scorer's shape too. The DuckDB oracle implements the
identical rule, so even the heuristic is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import load_table

# Tiny per-language stopword lists (public common words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist", "im", "ein"],
    "fr": ["le", "la", "les", "des", "et", "est", "dans", "pour", "que", "une"],
}

PUNCT_CLASS = "[!-/:-@\\[-`{-~]"


def _ws_tokens(col: str = "text") -> Column:
    return F.split(col, " ")


def _scaled_mean(col: str) -> Column:
    """Exact mean × 10⁴ as BIGINT via the div-first decomposition
    floor(10000·s/c) = 10000·(s div c) + (10000·(s mod c)) div c —
    ``10000·s`` directly would ANSI-overflow int64 once a group's sum
    passes ~9.2e14 (DuckDB silently promotes to HUGEINT; this form is
    abort-free AND identical on both engines). SQL twin:
    :data:`_SCALED_MEAN_SQL`."""
    return F.expr(
        f"10000 * (sum({col}) div count(*)) + "
        f"(10000 * (sum({col}) % count(*))) div count(*)"
    )


# DuckDB twin of _scaled_mean — .format(c=column)
_SCALED_MEAN_SQL = (
    "CAST(10000 * (SUM({c}) // COUNT(*)) + "
    "(10000 * (SUM({c}) % COUNT(*))) // COUNT(*) AS BIGINT)"
)


def _overlap(tokens: Column, words: list[str]) -> Column:
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens), F.array(*[F.lit(w) for w in words])
        )
    )


def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24: corpus statistics per (lang, source).

    Averages are emitted as scaled BIGINTs (``*_x10k`` = mean × 10⁴,
    computed with pure integer arithmetic: ``(10000·Σx) div n``) —
    float AVG aggregates are summed in engine/partition-dependent
    order, and a last-ulp divergence flips the rounded value under the
    driver's canonicalization (a graded hash once failed this way).
    Integer div is bit-identical everywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens()
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            _scaled_mean("n_chars").alias("avg_chars_x10k"),
            _scaled_mean("n_tokens").alias("avg_tokens_x10k"),
            # mean of per-doc quantized TTR: each doc contributes an
            # exact integer (10⁴·unique div tokens)
            F.expr(
                "sum((10000 * n_unique) div n_tokens) div count(*)"
            ).alias("avg_ttr_x10k"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "source")
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID with deterministic argmax
    (score desc, language code asc; all-zero ⇒ 'und')."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens()
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _overlap(toks, words).cast("long").alias(f"s_{code}")
            for code, words in STOPWORDS.items()
        ],
    )
    best = F.greatest(*[F.col(f"s_{c}") for c in STOPWORDS])
    pred = F.when(best == 0, F.lit("und"))
    for code in sorted(STOPWORDS):  # asc code order = tiebreak
        pred = pred.when(F.col(f"s_{code}") == best, F.lit(code))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        best.alias("best_score"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, punctuation density,
    stopword ratio, mean token length, repetition (1 - TTR).

    ``stopword_ratio`` counts stopword OCCURRENCES over tokens (the
    quantity C4/Gopher-style filters threshold). Counting distinct
    stopword TYPES instead would cap the 'ratio' at
    |stoplist|/n_tokens and punish long documents regardless of
    density. The presence-threshold form lives where presence is the
    semantics: funnel_verdict's no_stopwords rule."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens()
    n_tokens = F.size(toks).cast("double")
    punct_cnt = F.size(F.regexp_extract_all("text", F.lit(PUNCT_CLASS), F.lit(0)))
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_cnt = F.size(
        F.filter(toks, lambda t: F.array_contains(stoplist, t))
    )
    return docs.select(
        "doc_id",
        F.col("n_chars").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(punct_cnt / F.col("n_chars"), 6).alias("punct_ratio"),
        F.round(stop_cnt / n_tokens, 6).alias("stopword_ratio"),
        F.round(
            (F.length("text") - n_tokens + 1) / n_tokens, 6
        ).alias("avg_token_len"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tokens, 6
        ).alias("repetition"),
    )


def _max_run_char_mass(arr: Column) -> Column:
    """Max over distinct elements of (occurrence count × element
    length), computed as a fold over the SORTED array: equal elements
    are adjacent after array_sort, so one O(n) pass tracking the
    current run replaces the O(distinct × n) filter-per-distinct form
    (which a single 100k-token document would turn into 10¹⁰
    comparisons inside one task — the kind of per-row quadratic that
    survives every small-fixture test and dies at corpus scale).
    O(n log n) per doc total, still pure array expressions."""
    s = F.array_sort(arr)
    acc0 = F.struct(
        F.lit("").alias("prev"),  # value irrelevant: run starts at 0
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        (F.when(x == acc["prev"], acc["run"]).otherwise(F.lit(0)) + 1)
        .alias("run"),
        F.greatest(
            acc["best"],
            (F.when(x == acc["prev"], acc["run"]).otherwise(F.lit(0)) + 1)
            * F.length(x),
        ).alias("best"),
    )
    return F.aggregate(s, acc0, step, lambda acc: acc["best"])


def _top_ngram_char_mass(toks: Column, n: int) -> Column:
    """Character mass of the dominant word n-gram: max over distinct
    n-grams of (occurrence count × n-gram length). Gopher's
    top-n-gram repetition signal, phrased so the max is deterministic
    under count ties (the tied gram with more characters wins — the
    quantity of interest IS the character share). Pure array
    expressions, no shuffle; O(n log n) per doc via
    :func:`_max_run_char_mass`. NULL when the doc has fewer than n
    tokens (no n-gram exists)."""
    # clamp: sequence(1, x≤0) DESCENDS in Spark instead of emptying —
    # the when() guard below nulls the undersized-doc case anyway
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, _max_run_char_mass(grams))


# quality_funnel rule thresholds — chosen so each rule has real
# attrition on the fixture corpus (a funnel whose rules never fire
# verifies nothing)
FUNNEL_MIN_TOKENS = 10
FUNNEL_MAX_REPETITION_X10K = 6000  # 1 - TTR, scaled ×10⁴
FUNNEL_MIN_STOPWORDS = 1  # at least one English stopword


# funnel_verdict's kill verdicts, in rule order ('pass' survives)
FUNNEL_RULES = ("null_text", "too_short", "too_repetitive", "no_stopwords")


def funnel_verdict(text_col: str = "text"):
    """The funnel's first-failing-rule verdict as a Column — single
    source of truth shared by :func:`quality_funnel` (the report
    query) and ``plans.corpus_prep`` (the materializing pipeline)."""
    toks = F.split(text_col, " ")
    n_tokens = F.size(toks)
    # exact integer form: 10000 - (10000*unique) div tokens
    rep_x10k = F.expr(
        f"10000 - (10000 * size(array_distinct(split({text_col}, ' '))))"
        f" div size(split({text_col}, ' '))"
    )
    stop_cnt = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    return (
        F.when(F.col(text_col).isNull(), "null_text")
        .when(n_tokens < FUNNEL_MIN_TOKENS, "too_short")
        .when(rep_x10k > FUNNEL_MAX_REPETITION_X10K, "too_repetitive")
        .when(stop_cnt < FUNNEL_MIN_STOPWORDS, "no_stopwords")
        .otherwise("pass")
    )


def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style kill-rule funnel with per-rule attrition attribution:
    every doc is charged to its FIRST failing rule (the order is the
    production semantics — a doc killed by the length rule never
    reaches the repetition rule, so downstream rule counts measure
    what that rule actually removed from the surviving stream).

    Rules, in order: NULL text → too short (< FUNNEL_MIN_TOKENS
    whitespace tokens) → too repetitive (1 − TTR, exact ×10⁴ integer,
    > threshold) → no English stopword. Survivors pass.

    Per-source report of docs_in / per-rule kills / docs_out — the
    attrition table every corpus-cleaning run ships with. Map-only
    expressions + one small per-source aggregation; all integers, so
    the DuckDB oracle matches exactly."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select("source", funnel_verdict().alias("verdict"))
    k = lambda v: F.sum(  # noqa: E731
        F.when(F.col("verdict") == v, 1).otherwise(0)
    ).alias(f"k_{v}")
    return (
        tagged.groupBy("source")
        .agg(
            F.count("*").alias("docs_in"),
            k("null_text"),
            k("too_short"),
            k("too_repetitive"),
            k("no_stopwords"),
            F.sum(F.when(F.col("verdict") == "pass", 1).otherwise(0)).alias(
                "docs_out"
            ),
        )
        .orderBy("source")
    )


TFIDF_TOP_K = 3  # characteristic terms reported per doc


def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction: the TFIDF_TOP_K most characteristic
    terms of every document, scored tf × (N+1)/(df+1) with the same
    log-free rational-idf discipline as ``bm25_search`` (one IEEE
    division and one multiplication — bit-identical on both engines,
    where ln() would hash-diverge across libm builds).

    Scale shape: tf is a map-side-partial (doc, term) aggregation;
    df is one |vocab|-row aggregate joined back ON THE TERM (at
    corpus scale the vocab frame shuffles, never the corpus bodies);
    the per-doc top-k window is partitioned by doc_id — bounded by a
    doc's distinct terms, never corpus-sized."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n_docs = docs.count()  # bounded: one scalar, same role as bm25's stats
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * (F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0))),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "score", "rank")
    )


# CCNet-style LM quality scoring, integer-exact. Real pipelines score
# documents with a small LM's perplexity and drop the tail; the
# monotone core of that signal is "how improbable are this doc's
# tokens under the corpus unigram distribution". log()/float
# perplexity is not cross-engine hash-stable (the bm25 libm lesson),
# so the score here is the exact-integer improbability N div c_t —
# same ordering signal, bit-identical on both engines.
UNIGRAM_VOCAB_TOP = 1024  # bounded broadcast vocab; OOV counts as 1


def quality_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM quality score: mean over the doc's tokens
    of ``N div c_t`` (corpus token total over the token's corpus
    count; out-of-vocab tokens score N). High mean-improbability docs
    are gibberish/rare-token tails — the population a perplexity
    filter removes.

    Scale shape: the vocabulary is the top ``UNIGRAM_VOCAB_TOP``
    tokens by (count desc, token asc) — a TakeOrderedAndProject over
    the map-side-partial token counts, then BROADCAST back onto the
    exploded token stream (map-side join: corpus tokens never shuffle
    for the lookup; the only corpus-keyed exchange is the final
    per-doc aggregation, one row per (doc, partition) after
    partials). The corpus token total ships as an int literal, like
    bm25's stats — a bounded 1-row collect."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    counts = toks.groupBy("t").agg(F.count("*").alias("c"))
    vocab = counts.orderBy(F.desc("c"), F.asc("t")).limit(
        UNIGRAM_VOCAB_TOP
    )
    n_total = int(toks.count())
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("c").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_tokens"),
            F.expr(
                f"sum({n_total} div coalesce(c, 1L)) div count(*)"
            ).alias("mean_improbability"),
        )
        .select("doc_id", "n_tokens", "oov_tokens", "mean_improbability")
    )


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals — the filter
    family every production quality stack runs alongside the
    length/stopword heuristics of :func:`quality_score`:

    * ``dup_line_frac`` — fraction of lines occurring more than once
      (lines split on ``\\n``; single-line docs score 0 by
      definition, which is what the newline-free fixture exercises —
      crafted multi-line fixtures cover the non-degenerate cases in
      tests).
    * ``dup_line_char_frac`` — fraction of line characters belonging
      to repeated lines (Gopher weighs by character mass, not line
      count, so one huge duplicated line scores high).
    * ``top{2,3,4}gram_char_frac`` — character share of the dominant
      word n-gram: count × gram length / doc characters.

    Map-only JVM array expressions end-to-end (split / array_distinct
    / filter / transform) — zero Exchange, trivially 100 TB-safe.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return repetition_signals(docs)


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Column logic of :func:`quality_repetition` over any (doc_id,
    text) frame — separated so crafted multi-line fixtures exercise
    the non-degenerate line metrics in unit tests."""
    lines = F.split("text", "\n")
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    # character mass of lines that occur 2+ times (each occurrence
    # counts — Gopher's "fraction of characters in duplicate lines").
    # Run-fold over the sorted array, same O(n log n) rationale as
    # _max_run_char_mass: the filter-per-distinct form is per-doc
    # quadratic and would melt on a many-line document.
    sorted_lines = F.array_sort(lines)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("mass")
    )
    run_of = lambda acc, x: (  # noqa: E731
        F.when(x == acc["prev"], acc["run"]).otherwise(F.lit(0)) + 1
    )
    dup_line_chars = F.aggregate(
        sorted_lines,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_of(acc, x).alias("run"),
            (
                acc["mass"]
                + F.when(run_of(acc, x) == 2, 2 * F.length(x))
                .when(run_of(acc, x) > 2, F.length(x))
                .otherwise(F.lit(0))
            ).alias("mass"),
        ),
        lambda acc: acc["mass"],
    )
    total_line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )
    toks = _ws_tokens()
    chars = F.length("text")
    return docs.select(
        "doc_id",
        F.round(dup_lines / n_lines, 6).alias("dup_line_frac"),
        F.round(
            dup_line_chars / F.greatest(total_line_chars, F.lit(1)), 6
        ).alias("dup_line_char_frac"),
        *[
            F.round(_top_ngram_char_mass(toks, n) / chars, 6).alias(
                f"top{n}gram_char_frac"
            )
            for n in (2, 3, 4)
        ],
    )


def _sql_overlap(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[code])
    return (
        f"len(list_intersect(list_distinct(string_split(text, ' ')), "
        f"[{words}]))::BIGINT"
    )


_LANG_CASE = " ".join(
    f"WHEN s_{c} = best THEN '{c}'" for c in sorted(STOPWORDS)
)

ORACLE_SQL = {
    # Scaled-integer means + CAST(SUM AS BIGINT): DuckDB SUM(BIGINT)
    # returns HUGEINT and float AVG is order-dependent — both hash-
    # diverged under the driver. Integer `//` is exact.
    "text_analysis": f"""
        WITH t AS (
            SELECT lang, source, n_chars,
                   len(string_split(text, ' '))::BIGINT                AS n_tokens,
                   len(list_distinct(string_split(text, ' ')))::BIGINT AS n_unique
            FROM documents
        )
        SELECT lang, source,
               COUNT(*)                                         AS n_docs,
               {_SCALED_MEAN_SQL.format(c="n_chars")}           AS avg_chars_x10k,
               {_SCALED_MEAN_SQL.format(c="n_tokens")}          AS avg_tokens_x10k,
               CAST(SUM((10000 * n_unique) // n_tokens) // COUNT(*) AS BIGINT)
                                                                AS avg_ttr_x10k,
               CAST(SUM(n_tokens) AS BIGINT)                    AS total_tokens
        FROM t GROUP BY lang, source ORDER BY lang, source
    """,
    "lang_id": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   {_sql_overlap('en')} AS s_en,
                   {_sql_overlap('es')} AS s_es,
                   {_sql_overlap('de')} AS s_de,
                   {_sql_overlap('fr')} AS s_fr
            FROM documents
        ), best_t AS (
            SELECT *, GREATEST(s_en, s_es, s_de, s_fr) AS best FROM scored
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN best = 0 THEN 'und' {_LANG_CASE} END AS pred_lang,
               best AS best_score
        FROM best_t
    """,
    "quality_score": f"""
        SELECT doc_id, n_chars,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               ROUND(len(regexp_extract_all(text, '{PUNCT_CLASS}'))::DOUBLE
                     / n_chars, 6) AS punct_ratio,
               ROUND(len(list_filter(string_split(text, ' '),
                         x -> list_contains(
                             ['the','and','of','to','in','is','that','with','for','on'],
                             x)
                     ))::DOUBLE / len(string_split(text, ' ')), 6) AS stopword_ratio,
               ROUND((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                     / len(string_split(text, ' ')), 6) AS avg_token_len,
               ROUND(1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
                     / len(string_split(text, ' ')), 6) AS repetition
        FROM documents
    """,
}

# ----------------------------------------------------------- BM25 retrieval
# Corpus search — the one text capability the pack lacked. Log-free
# BM25 variant: idf is the RATIONAL (N - df + 0.5)/(df + 0.5) without
# the log wrap — ln() is not correctly-rounded-specified across libm
# implementations (would hash-diverge between engines), while +,*,/
# on doubles are exact IEEE operations, so the whole score is
# bit-identical in Spark and DuckDB as long as the additions happen
# in a FIXED order (per-term score columns summed left-to-right, not
# a float SUM aggregate whose partial order varies by partition).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["table", "query", "join", "stream"]
BM25_TOP_K = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BM25_TOP_K`` docs for a fixed query-term set under
    rational-idf BM25.

    Plan shape (the inverted-index topology at 100 TB): the tiny term
    list filters the exploded tokens BEFORE any shuffle, term
    frequencies reduce with map-side partials to one row per (doc,
    matched term), document frequencies are a |terms|-row aggregate
    (collected — bounded by the query size, like the IVF training
    sample), per-term partial scores pivot into fixed columns, and
    the corpus body never shuffles."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    terms = BM25_QUERY_TERMS
    toks = _ws_tokens()

    # corpus stats as exact integers; ONE division each → identical
    # doubles on both engines
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
    ).collect()[0]
    n_docs, total_tokens = stats["n_docs"], stats["total_tokens"]

    matches = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = matches.groupBy("doc_id", "dl", "term").agg(
        F.count("*").alias("tf")
    )
    df_counts = {
        r["term"]: r["df"]
        for r in tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }

    k1, b = BM25_K1, BM25_B
    avgdl = f"({total_tokens} / {n_docs})"  # one double division
    # D suffix: bare decimal literals parse as DECIMAL in Spark SQL
    # (and DuckDB), and decimal/double promotion rounds differently
    # per engine — every float literal must be DOUBLE-typed on both
    # sides for the IEEE-exactness argument to hold
    per_term = [
        F.max(
            F.when(
                F.col("term") == t,
                F.expr(
                    f"(({n_docs} - {df_counts.get(t, 0)} + 0.5D) / "
                    f"({df_counts.get(t, 0)} + 0.5D)) * "
                    f"(tf * ({k1}D + 1)) / "
                    f"(tf + {k1}D * (1 - {b}D + {b}D * dl / {avgdl}))"
                ),
            )
        ).alias(f"s_{t}")
        for t in terms
    ]
    scored = tf.groupBy("doc_id").agg(*per_term)
    # FIXED left-to-right addition order — never a float SUM aggregate
    total = None
    for t in terms:
        c = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        total = c if total is None else total + c
    ranked = scored.select("doc_id", F.round(total, 6).alias("score"))
    # top-k FIRST via orderBy+limit — Spark compiles this to
    # TakeOrderedAndProject (per-partition partial top-k, k-row merge
    # on one reducer), so the global row_number window only ever sees
    # ≤ BM25_TOP_K rows. The alternative (row_number over ALL scored
    # docs, then filter rank ≤ k) funnels the whole scored set through
    # a single WindowExec partition — the unbounded-window hazard at
    # corpus scale. Tie order (score desc, doc_id asc) is total, so
    # limit-then-rank is exactly rank-then-filter.
    topk = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        BM25_TOP_K
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "score", "rank")
    )


QUERIES = {
    "text_analysis": text_analysis,
    "lang_id": lang_id,
    "quality_score": quality_score,
    # both hash-match DuckDB locally at 3 SFs; they took the slots of
    # two rows-only queries (sketches, dedup_simhash), which stay
    # verified every test run in the retired pools of misc.py / dedup.py
    "quality_funnel": quality_funnel,
    "bm25_search": bm25_search,
}

# Ungraded local-oracle extras (the driver window is full), verified
# every test run by tests/test_query_battery.py.
RETIRED_TWIN_QUERIES = {
    # Gopher-style intra-document repetition signals
    "quality_repetition": quality_repetition,
    # CCNet-style unigram-LM improbability scoring
    "quality_unigram_lm": quality_unigram_lm,
    # per-doc TF-IDF keyword extraction, rational idf
    "tfidf_topk_terms": tfidf_topk_terms,
}


def _bm25_oracle() -> str:
    """bm25_search in DuckDB SQL: the stats/df values Spark injects
    as Python int literals are recomputed as the same exact integers,
    and every float step repeats the same IEEE operations in the same
    order — so the rounded scores hash-match bit-for-bit."""
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = BM25_K1, BM25_B
    pivots = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN "
        f"((s.n_docs - dfc.df + 0.5::DOUBLE) / (dfc.df + 0.5::DOUBLE)) * "
        f"(tf * ({k1}::DOUBLE + 1)) / "
        f"(tf + {k1}::DOUBLE * (1 - {b}::DOUBLE + {b}::DOUBLE * dl "
        f"/ (s.total_tokens / s.n_docs)))"
        f" END) AS s_{t}"
        for t in BM25_QUERY_TERMS
    )
    total = " + ".join(
        f"COALESCE(s_{t}, 0.0)" for t in BM25_QUERY_TERMS
    )
    return f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL
        ), s AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(len(toks))::BIGINT AS total_tokens
            FROM d
        ), m AS (
            SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
            FROM d
        ), tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM m WHERE term IN ({terms_sql})
            GROUP BY doc_id, dl, term
        ), dfc AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id, {pivots}
            FROM tf JOIN dfc USING (term), s
            GROUP BY tf.doc_id
        )
        SELECT doc_id, score, rank FROM (
            SELECT doc_id, ROUND({total}, 6) AS score,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND({total}, 6) DESC, doc_id ASC
                   )::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {BM25_TOP_K}
    """

_FUNNEL_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


def _sql_topgram(n: int) -> str:
    """DuckDB twin of :func:`_top_ngram_char_mass` / doc chars."""
    grams = (
        f"list_transform(range(1, greatest(len(toks) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )
    return f"""
        CASE WHEN len(toks) >= {n} THEN ROUND(
            list_max(list_transform(list_distinct({grams}),
                g -> len(list_filter({grams}, x -> x = g)) * length(g)
            )) / length(text), 6)
        END"""


# the f-string constants (FUNNEL_*, BM25_*) are injected exactly as
# the local harness injects them, so the driver sees the same SQL the
# 3-SF local sweep hash-matched.
ORACLE_SQL["bm25_search"] = _bm25_oracle()
ORACLE_SQL["quality_funnel"] = f"""
        WITH tagged AS (
            SELECT source,
                   CASE
                     WHEN text IS NULL THEN 'null_text'
                     WHEN len(string_split(text, ' ')) < {FUNNEL_MIN_TOKENS}
                       THEN 'too_short'
                     WHEN 10000 - (10000 * len(list_distinct(string_split(text, ' '))))
                                  // len(string_split(text, ' '))
                          > {FUNNEL_MAX_REPETITION_X10K}
                       THEN 'too_repetitive'
                     WHEN len(list_intersect(list_distinct(string_split(text, ' ')),
                              [{_FUNNEL_STOPLIST}])) < {FUNNEL_MIN_STOPWORDS}
                       THEN 'no_stopwords'
                     ELSE 'pass'
                   END AS verdict
            FROM documents
        )
        SELECT source,
               COUNT(*)::BIGINT AS docs_in,
               SUM(CASE WHEN verdict = 'null_text' THEN 1 ELSE 0 END)::BIGINT
                   AS k_null_text,
               SUM(CASE WHEN verdict = 'too_short' THEN 1 ELSE 0 END)::BIGINT
                   AS k_too_short,
               SUM(CASE WHEN verdict = 'too_repetitive' THEN 1 ELSE 0 END)::BIGINT
                   AS k_too_repetitive,
               SUM(CASE WHEN verdict = 'no_stopwords' THEN 1 ELSE 0 END)::BIGINT
                   AS k_no_stopwords,
               SUM(CASE WHEN verdict = 'pass' THEN 1 ELSE 0 END)::BIGINT
                   AS docs_out
        FROM tagged GROUP BY source ORDER BY source
    """

RETIRED_TWIN_ORACLES = {
    # same rational-idf discipline as bm25: one IEEE division + one
    # multiplication per score, rounded at 6dp on both engines
    "tfidf_topk_terms": f"""
        WITH docs_nn AS (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ), toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM docs_nn
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM toks WHERE term <> '' GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT COUNT(*) AS nd FROM docs_nn
        ), scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * (((SELECT nd FROM n) + 1.0)
                                  / (dfreq.df + 1.0)), 6) AS score
            FROM tf JOIN dfreq ON tf.term = dfreq.term
        )
        SELECT doc_id, term, score, rank FROM (
            SELECT doc_id, term, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term ASC
                   )::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP_K}
    """,
    # the corpus token total is a scalar subquery here where Spark
    # injects a collected int literal — same value, exact integer
    # arithmetic throughout, so the scores hash-match bit-for-bit
    "quality_unigram_lm": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents WHERE text IS NOT NULL
        ), filtered AS (
            SELECT * FROM toks WHERE t <> ''
        ), counts AS (
            SELECT t, COUNT(*) AS c FROM filtered GROUP BY t
        ), vocab AS (
            SELECT t, c FROM counts
            ORDER BY c DESC, t ASC LIMIT {UNIGRAM_VOCAB_TOP}
        ), n AS (
            SELECT COUNT(*) AS nn FROM filtered
        )
        SELECT f.doc_id,
               COUNT(*)::BIGINT AS n_tokens,
               SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS oov_tokens,
               (SUM((SELECT nn FROM n) // COALESCE(v.c, 1))
                // COUNT(*))::BIGINT AS mean_improbability
        FROM filtered f LEFT JOIN vocab v ON f.t = v.t
        GROUP BY f.doc_id
    """,
    "quality_repetition": f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split(text, chr(10)) AS lines,
                   string_split(text, ' ')     AS toks
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               ROUND((len(lines) - len(list_distinct(lines)))
                     / len(lines), 6) AS dup_line_frac,
               ROUND(list_sum(list_transform(list_distinct(lines),
                         l -> CASE WHEN len(list_filter(lines, x -> x = l)) > 1
                              THEN len(list_filter(lines, x -> x = l)) * length(l)
                              ELSE 0 END))
                     / greatest(list_sum(list_transform(lines,
                                    l -> length(l))), 1), 6)
                   AS dup_line_char_frac,
               {_sql_topgram(2)} AS top2gram_char_frac,
               {_sql_topgram(3)} AS top3gram_char_frac,
               {_sql_topgram(4)} AS top4gram_char_frac
        FROM t
    """,
}
