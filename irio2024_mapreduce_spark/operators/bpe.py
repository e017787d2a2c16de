"""BPE-style subword tokenizer — train + apply as a Spark pipeline.

A regex token estimate is not a tokenizer: real pipelines APPLY a
trained merge table. This module does both halves the way a 100 TB
pipeline would:

* **Train** — word frequencies come from a distributed
  ``groupBy(word).count()`` (partial aggregation map-side; only
  (word, count) pairs shuffle), then the top ``BPE_VOCAB_WORDS``
  rows — a bounded, constant-size sample like the IVF training
  collect (operators/similarity.py) — feed the classic
  Sennrich-et-al. merge loop on the driver. Merge training is
  inherently sequential (each merge depends on the last); running it
  on a bounded vocab is the standard production topology
  (SentencePiece/HF tokenizers train on a sample too).
* **Apply** — the merge-rank dict (≤ a few KB) broadcasts to every
  executor; encoding runs in an Arrow-batched ``mapInPandas`` — pure
  map, no shuffle, the same plumbing shape as the multimodal decode
  stages. The only exchange in the whole plan after training is the
  final per-source rollup.

BPE semantics are not expressible in set-oriented SQL (the merge loop
is iterative and order-dependent), so there is no DuckDB oracle —
the check is a pure-Python reference parity + round-trip property
suite (tests/test_bpe.py), the same declaration class as the
seeded-hash LSH families.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import load_table

BPE_VOCAB_WORDS = 4096  # bounded driver collect, ~100 KB ceiling
BPE_MERGES = 200

# Encode-side guard: the merge loop is O(L²) in word length (each
# round scans for the lowest-rank pair), so one pathological
# 100k-char "word" would cost ~10¹⁰ steps inside a single task.
# Words longer than this are encoded in fixed-size segments — the
# standard production mitigation (HF tokenizers caps/splits long
# words the same way); concatenation round-trip is preserved, and
# ordinary vocabulary never hits the cap.
BPE_MAX_WORD_CHARS = 64

MergePair = tuple[str, str]


def train_bpe(
    word_counts: list[tuple[str, int]], n_merges: int = BPE_MERGES
) -> list[MergePair]:
    """Classic BPE merge training over (word, count) pairs.

    Deterministic: the winning pair each round is the highest-count
    pair, ties broken by lexicographically smallest pair — so the
    same corpus always yields the same merge table regardless of
    dict/partition ordering.
    """
    vocab: dict[tuple[str, ...], int] = {}
    for word, cnt in word_counts:
        if word:
            vocab[tuple(word)] = vocab.get(tuple(word), 0) + cnt
    merges: list[MergePair] = []
    for _ in range(n_merges):
        pairs: Counter[MergePair] = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        merged_sym = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged_sym)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    return merges


def bpe_encode(word: str, ranks: dict[MergePair, int]) -> list[str]:
    """Encode one word with a trained merge-rank table: repeatedly
    merge the lowest-rank adjacent pair (all its non-overlapping
    occurrences, left to right) until no mergeable pair remains.
    Lossless by construction: ``''.join(result) == word`` always.
    Words beyond BPE_MAX_WORD_CHARS encode per fixed-size segment —
    the merge loop is quadratic in segment length (see the constant's
    note), and segment boundaries only ever SPLIT tokens, never
    corrupt them (round-trip still holds)."""
    if len(word) > BPE_MAX_WORD_CHARS:
        out: list[str] = []
        for i in range(0, len(word), BPE_MAX_WORD_CHARS):
            out.extend(
                bpe_encode(word[i : i + BPE_MAX_WORD_CHARS], ranks)
            )
        return out
    syms: list[str] = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def train_bpe_from_corpus(
    spark: SparkSession,
    docs: DataFrame,
    vocab_words: int = BPE_VOCAB_WORDS,
    n_merges: int = BPE_MERGES,
) -> list[MergePair]:
    """Distributed word counting → bounded top-K collect → driver
    merge loop. The collect is capped at ``vocab_words`` rows (count
    desc, word asc for determinism) — constant cost at any corpus
    size, the sample-train topology."""
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_words)
        .collect()
    )
    return train_bpe([(r["w"], r["cnt"]) for r in counts], n_merges)


BPE_DOC_SCHEMA = (
    "doc_id long, source string, ws_tokens long, subword_tokens long, "
    "chars long"
)


def bpe_apply(
    docs: DataFrame, merges: list[MergePair]
) -> DataFrame:
    """Apply a trained merge table over a corpus: per-doc whitespace
    vs subword token counts via Arrow-batched ``mapInPandas`` (the
    ranks dict rides the closure — Spark broadcasts task binaries, so
    a ≤KB dict ships once per executor, not per row)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def batches(it):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        cache: dict[str, int] = {}

        def n_sub(word: str) -> int:
            got = cache.get(word)
            if got is None:
                got = cache[word] = len(bpe_encode(word, ranks))
            return got

        for pdf in it:
            ws, sub, chars = [], [], []
            for text in pdf["text"]:
                words = [w for w in text.split(" ") if w]
                ws.append(len(words))
                sub.append(sum(n_sub(w) for w in words))
                chars.append(len(text))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "ws_tokens": ws,
                    "subword_tokens": sub,
                    "chars": chars,
                }
            )

    return docs.select("doc_id", "source", "text").mapInPandas(
        batches, schema=BPE_DOC_SCHEMA
    )


def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply report: per source, whitespace vs subword
    token totals and the two ratios a data pipeline watches —
    subwords per word (fertility) and characters per subword
    (compression). Ratios ship ×10⁴ as exact integers (same policy
    as text_analysis's scaled means — cross-engine float-free)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    merges = train_bpe_from_corpus(spark, docs)
    per_doc = bpe_apply(docs, merges)
    # NULL (not DIVIDE_BY_ZERO) for an all-empty-text source: ANSI
    # mode is on in this session, so a bare `div 0` would throw and
    # fail the whole report for one degenerate group
    x10k = (
        lambda num, den: F.expr(  # noqa: E731 — exact scaled ratio
            f"CASE WHEN sum({den}) = 0 THEN NULL ELSE "
            f"10000 * (sum({num}) div sum({den})) + "
            f"(10000 * (sum({num}) % sum({den}))) div sum({den}) END"
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("subword_tokens").alias("total_subword_tokens"),
            x10k("subword_tokens", "ws_tokens").alias("fertility_x10k"),
            x10k("chars", "subword_tokens").alias(
                "chars_per_subword_x10k"
            ),
        )
        .orderBy("source")
    )
