"""Deduplication operator pack — SURVEY.md §2.3 E21/E22 plus the
SimHash / n-gram-Jaccard / embedding-cosine variants a training-data
pipeline needs.

Scale design (the point of every choice here):

* **exact** — group on ``sha2(text)`` not the raw text: the shuffle
  key is 32 bytes instead of the document body, so a 100 TB corpus
  shuffles ~hashes, not ~bytes.
* **near (MinHash+LSH)** — signature of K=32 min-hashes, banded
  b=8 × r=4; candidate generation is an equi-join on
  (band, band_hash) — never an O(n²) cross join. Candidates are
  verified with exact shingle-set Jaccard. All hash functions are
  seeded ``xxhash64`` — deterministic across runs/executors.
* **simhash** — 64-bit signature; pairs found by pigeonhole banding
  (4 × 16-bit chunks: hamming ≤ 3 ⇒ at least one chunk equal), so
  again an equi-join, not a cross join.
* **n-gram Jaccard (exact)** — length-banded, then a POSTING-LIST
  join: shingle sets explode to (band, shingle, doc) and pairs with a
  shared shingle are counted via an equi-join — never an all-pairs
  array compare. The oracle implements the identical banding + block
  cap.
* **embedding cosine** — pairwise above a cosine threshold within
  label blocks bounded by PAIRWISE_BLOCK_CAP (the ANN/LSH scale path
  lives in ``operators/similarity.py``).

Every candidate-generating bucket/block is size-capped (hot-bucket
guards) so no boilerplate-heavy key can turn candidate generation
quadratic; caps are mirrored in the DuckDB oracles where results are
hash-checked.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import (
    exchange_width,
    load_table,
    load_table_parallel,
    table_bytes,
)

# ---------------------------------------------------------------- helpers

MINHASH_PERMS = 32
LSH_BANDS = 8
LSH_ROWS = MINHASH_PERMS // LSH_BANDS

# Hot-bucket guard: a (band, band_hash) bucket of b members emits
# O(b²) candidate pairs — one boilerplate-heavy bucket (near-identical
# but not byte-identical docs, so the exact-dup collapse can't catch
# them) turns LSH quadratic. Buckets above the cap are dropped from
# candidate generation in that band: their pairs can still surface via
# the doc's other LSH_BANDS-1 bands, and clusters genuinely larger
# than the cap belong to dedup_clusters, not pairwise output. The cap
# bounds candidates at ≤ cap·bands per doc — linear in corpus size.
LSH_BUCKET_CAP = 256
SIMHASH_BUCKET_CAP = 256

# Same guard for the exact pairwise variants (ngram-Jaccard's length
# band, embedding-cosine's label block): a block of b members costs
# O(b²) comparisons, so blocks above the cap are excluded from the
# exact pairwise output — identically on both engines (the DuckDB
# oracles implement the same QUALIFY) — and belong to the sub-
# quadratic paths instead (dedup_near / similarity_ann). 1024² ≈ 1M
# comparisons is the most one block is ever allowed to cost.
PAIRWISE_BLOCK_CAP = 1024

# Hot-shingle guard for the posting-list join: a (band, shingle)
# posting of m docs emits m² join rows, and a stop-word 3-gram shared
# by a whole length band costs block_cap² rows for ZERO discriminative
# signal (a shingle every candidate shares doesn't separate pairs).
# Postings longer than the cap are dropped from the join on BOTH
# engines — their shared count simply doesn't contribute to the
# intersection, biasing Jaccard downward identically. 256 = ¼ of the
# block cap bounds any one shingle at 64k join rows.
NGRAM_POSTING_CAP = 256

# the near-dup families of the pipelines' kill set and corpus index:
# "ngram" (3-gram posting join) and "lsh" (MinHash bands)
NEAR_FAMILIES = ("ngram", "lsh")


def _cap_buckets(
    rows: DataFrame,
    keys: list[str],
    cap: int,
    checkpoint_input: bool = False,
) -> DataFrame:
    """Drop all rows of any bucket (= distinct ``keys`` combo) with
    more than ``cap`` members. For HIGH-cardinality keys (LSH band
    hashes); low-cardinality keys use :func:`_cap_blocks_lowcard`.

    Bucket sizes come from a map-side-combined groupBy (one row per
    bucket), and admission is a shuffled-HASH join back on the keys —
    NOT a window: a window partitioned by the bucket key first
    buffers/sorts the adversarial hot bucket whole inside a single
    WindowExec task before dropping it (straggler/OOM at exactly the
    corpus the cap defends against), and not a sort-merge join, which
    would re-introduce the same per-key sort. The hash join streams
    the hot bucket's rows through one partition without buffering
    them, and its build side is the tiny admitted-keys aggregate.

    NB: NULL-keyed rows are DROPPED (inner equi-join semantics), not
    capped as their own bucket the way the former window form counted
    them. Every current call site feeds non-null keys (band hashes,
    chunk values, exploded shingles); a caller with nullable keys
    must pre-filter or coalesce them explicitly."""
    # checkpoint_input=True materializes `rows` once (lazy) because it
    # feeds BOTH the size aggregation and the admission join — without
    # it the upstream pipeline executes twice at runtime (no exchange
    # reuse: the two consumers have different shapes). Worth it only
    # when that pipeline is expensive relative to the materialization
    # volume: ON for the minhash signature pipeline (K hashes per
    # shingle array; measured 2.45→2.16 s at sf0.1), OFF for the slim
    # simhash-chunk and shingle-posting pipelines, where the extra
    # write cost more than the saved recompute (+15% measured).
    if checkpoint_input:
        rows = rows.localCheckpoint(eager=False)
    sizes = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") <= cap)
        .select(*keys)
    )
    return rows.join(sizes.hint("shuffle_hash"), keys, "inner")


def _cap_blocks_lowcard(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Block cap for LOW-cardinality keys (length bands, labels):
    block sizes come from a map-side-combined groupBy (output ≤
    #distinct keys — tiny), and the admitted-key list is broadcast
    back as a map-side inner join. No row ever shuffles on the block
    key, so one popular block can't serialize into a single task the
    way a window partitioned by it would."""
    ok = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") <= cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(ok), keys, "inner")


def _tokens(col: str = "text") -> Column:
    return F.split(col, " ")


def _collapse_reps(
    raw: DataFrame, hash_col: Column, nbytes: int | None = None
) -> DataFrame:
    """Exact-duplicate collapse shared by every dedup family: one
    representative row per distinct ``hash_col`` value — the group's
    min ``doc_id`` — carrying ``raw``'s columns plus the hash as
    ``_h`` (Catalyst prunes whatever a caller does not read).

    * Winners by id: ``groupBy(_h).agg(min(doc_id))`` runs over
      ``(hash, doc_id)`` rows only, a hash aggregate with map-side
      partials. Text never enters an aggregation buffer or its sort,
      so no dup factor can make the collapse buffer or spill document
      bodies.
    * Null-safe attach: the raw rows semi-join back on ``doc_id`` AND
      a null-safe ``_h``. A row survives only as its own hash group's
      winner, so a ``doc_id`` reused across two texts cannot bring a
      second row for one hash, and the NULL-text group (NULL ``_h``)
      keeps its one winner like any other group.
    * One spread: a hash exchange on ``doc_id`` spreads the reps for
      the per-doc shingle work downstream. ``nbytes`` (the input's
      on-disk footprint, when the caller knows its table) sizes it to
      the data via :func:`exchange_width`; locally that floors at the
      session parallelism.
    """
    hashed = raw.withColumn("_h", hash_col)
    winners = hashed.groupBy(F.col("_h").alias("_wh")).agg(
        F.min("doc_id").alias("_wid")
    )
    return hashed.join(
        winners,
        (F.col("doc_id") == F.col("_wid"))
        & F.col("_h").eqNullSafe(F.col("_wh")),
        "semi",
    ).repartition(exchange_width(raw.sparkSession, nbytes), "doc_id")


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles), tokens split once per doc
    (see :func:`_shingles_from`)."""
    return docs.withColumn("_toks", _tokens()).select(
        "doc_id", _shingles_from(F.col("_toks")).alias("shingles")
    )


def _shingles_from(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles ('w1 w2 w3') from a pre-materialized
    token-array COLUMN. Call sites must project ``F.split(text)`` into
    its own column first: passing the split expression directly
    inlines it into the transform lambda, where the interpreted
    higher-order-function path re-splits the whole text once PER
    SHINGLE — O(len·n_shingles) per doc instead of O(len). The two
    references here (sequence bound + slice) also keep
    CollapseProject from folding the token projection back into the
    lambda (multi-use non-cheap alias), pinned by tests/test_plans.py.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def _shingles(col: str = "text", n: int = 3) -> Column:
    """Distinct n-token shingles as strings ('w1 w2 w3'). Prefer
    :func:`_shingles_from` over a projected token column in query
    paths — this form re-splits per shingle (see above)."""
    return _shingles_from(_tokens(col), n)


def _jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


# ---------------------------------------------------------------- E21 exact
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per distinct text + duplicate count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_cnt"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("doc_id", "dup_cnt", "n_chars")
    )


# ---------------------------------------------------------------- E22 minhash
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified at Jaccard ≥ 0.5.

    shingle → K seeded xxhash64 min-hashes → band rows → equi-join on
    (band, hash-of-band-slice) → exact-Jaccard verify. Deterministic
    (seeded hashes, no RNG). Candidate volume is governed by the
    (b, r) S-curve, not by n² — and buckets hotter than
    LSH_BUCKET_CAP (boilerplate corpora) are dropped before the
    self-join, bounding candidates per doc at cap·bands.

    Exact duplicates are collapsed FIRST (:func:`_collapse_reps` on
    sha2, min doc_id as representative): a group of d identical docs
    forms a d-clique in every LSH band, so candidate pairs grow with
    d² — measured 34× runtime for 10× data on a duplicate-heavy
    corpus before this collapse, 1.2× after (SCALE.md, "Dedup &
    similarity").
    Identical docs don't need MinHash; the hash collapse catches them
    in one linear aggregation, and near-dup pairs are reported
    between distinct contents' representatives.
    """
    docs = _shingle_sets(
        _collapse_reps(
            load_table(spark, sf_dir, "documents"),
            F.sha2("text", 256),
            nbytes=table_bytes(sf_dir, "documents"),
        )
    )
    pairs = _minhash_candidates(docs)
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _verify_candidate_pairs(pairs, raw)


def _verify_candidate_pairs(pairs: DataFrame, raw: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    against raw text. Melt pairs to (pair, role, doc_id) and join the
    RAW text once — so (a) the candidate subtree is computed once,
    not once per side-join, and (b) shingles are recomputed only for
    candidate rows (post-join projection), never for the whole corpus
    a second time."""
    melted = pairs.select(
        F.struct("doc_a", "doc_b").alias("pair"),
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("role"), F.col("doc_a").alias("doc_id")),
                F.struct(F.lit("b").alias("role"), F.col("doc_b").alias("doc_id")),
            )
        ).alias("m"),
    ).select("pair", "m.role", "m.doc_id")
    # Spread the candidate rows on the PAIR key before attaching text:
    # `pairs` arrives from a dropDuplicates exchange that AQE
    # coalesces to ~1 partition at small candidate volume, and the
    # text attach is a broadcast join (raw fits locally), which
    # PRESERVES that partitioning — so the expensive per-candidate
    # shingle build + Jaccard below ran near-serial regardless of
    # core count (measured at 10× corpus: ~13 s of a 19 s wall on one
    # task, 8v32 ratio 0.97). Hash exchange on `pair` costs one tiny
    # (struct, role, id) shuffle, AQE never coalesces a user-numbered
    # repartition, and the groupBy("pair") below REUSES the
    # partitioning (no second exchange). At corpus scale the attach
    # is a shuffle join whose own exchange respreads anyway — this is
    # then a redundant narrow shuffle of candidate-mass rows, never
    # corpus-sized.
    melted = melted.repartition(
        raw.sparkSession.sparkContext.defaultParallelism, "pair"
    )
    with_sh = (
        melted.join(raw, "doc_id")
        .withColumn("_toks", _tokens())
        .select("pair", "role", _shingles_from(F.col("_toks")).alias("sh"))
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
            F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Seeded min-hash permutation ``i`` of an element hash ``x``, per LSH
# hash family. The family's name is also the SQL function hashing one
# string (a shingle, a band slice). xxhash64 is the production family:
# one string hash per shingle, then K re-hashes of the 8-byte longs
# (Spark 4's ANSI mode forbids the long overflow of cheaper affine
# permutations). md5 is the DuckDB-expressible family of the oracle
# twins: fixed-length lowercase hex orders lexicographically exactly
# like the 128-bit number it encodes, so ``array_min`` over md5 hex IS
# a min-hash, at about 10x the hashing cost (33 md5 calls per shingle).
_MINHASH_PERM_SQL = {
    "xxhash64": "xxhash64({i}, x)",
    "md5": "md5(concat('{i}:', x))",
}


def _band_rows(
    docs: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, shingles) → capped LSH band rows (doc_id, band,
    band_hash) under hash ``family`` (see ``_MINHASH_PERM_SQL``) — the
    signature/banding front end of :func:`_minhash_candidates` (corpus
    self-join), the incremental band index (:func:`corpus_index_bands`)
    and its batch probe. Both families share every line but the hash
    calls, so the md5 twins differ from the graded path only there.

    The K-min-hash array and the band structs are each ONE ``F.expr``
    string, not Python loops over Column objects: the loop form issued
    hundreds of py4j round-trips per plan build (seconds of driver
    time) and minted as many JavaObject refs; one SQL string is one
    py4j call that parses JVM-side into the identical expression tree.
    Signatures are built map-side; no shuffle."""
    mins = ", ".join(
        "array_min(transform(h, x -> %s))"
        % _MINHASH_PERM_SQL[family].format(i=i)
        for i in range(MINHASH_PERMS)
    )
    bands = ", ".join(
        f"named_struct('band', {b}, 'band_hash', {family}(concat_ws(',', "
        + ", ".join(
            f"element_at(sig, {b * LSH_ROWS + r + 1})" for r in range(LSH_ROWS)
        )
        + ")))"
        for b in range(LSH_BANDS)
    )
    # band rows carry ONLY (doc_id, band, band_hash): the shingle
    # arrays must not ride through the 8x explode, the join or the pair
    # dedup (at corpus scale they are the document bodies, effectively)
    banded = (
        docs.select(
            "doc_id",
            F.expr(f"transform(shingles, s -> {family}(s))").alias("h"),
        )
        .select("doc_id", F.expr(f"array({mins})").alias("sig"))
        .select("doc_id", F.expr(f"explode(array({bands}))").alias("bh"))
        .select("doc_id", "bh.band", "bh.band_hash")
    )
    # hot-bucket guard BEFORE the self-join (see LSH_BUCKET_CAP);
    # checkpoint_input: the signature pipeline above is the expensive
    # part and must compute once, not once per cap consumer
    return _cap_buckets(
        banded, ["band", "band_hash"], bucket_cap, checkpoint_input=True
    )


def dedup_near_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with an md5-hex hash family — the
    FULL-ORACLE twin of :func:`dedup_near`. Same pipeline end to end
    (exact-collapse reps → signatures → capped band equi-join →
    exact-Jaccard verify ≥ 0.5); only the hash family differs, and
    md5 is computable in DuckDB, so the ENTIRE LSH decision — which
    buckets form, which get capped, which candidates verify — is
    hash-checked against an independent engine instead of rows-only.
    NULL-text docs are excluded on both sides (no shingle mass; see
    corpus_index_bands for the [""]-shingle hazard)."""
    docs = _shingle_sets(
        _collapse_reps(
            load_table(spark, sf_dir, "documents").filter(
                F.col("text").isNotNull()
            ),
            F.md5("text"),
            nbytes=table_bytes(sf_dir, "documents"),
        )
    )
    pairs = _minhash_candidates(docs, family="md5")
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _verify_candidate_pairs(pairs, raw)


def _minhash_candidates(
    docs: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, shingles) → deduplicated candidate pairs (doc_a,
    doc_b): the capped band rows of :func:`_band_rows` self-joined on
    (band, band_hash). One implementation for the graded xxhash64
    path and the md5 oracle twin, so a fix to one is a fix to both.

    The localCheckpoint materializes the band rows ONCE before the
    self-join: both join sides otherwise instantiate the whole
    signature pipeline as separate subtrees, and no exchange reuse
    rescues it because the planner broadcasts one side. Band rows are
    just (doc_id, band, band_hash), cheap to hold; lazy, so the join's
    own action materializes it."""
    banded = _band_rows(docs, bucket_cap, family).localCheckpoint(
        eager=False
    )
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------- simhash
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 on a 64-bit signature).

    Signature: per distinct token, a seeded 64-bit hash votes ±count
    on each bit; sign of the per-bit total sets the bit. Pairs via
    pigeonhole banding: 4 × 16-bit chunks — hamming ≤ 3 guarantees an
    equal chunk, so candidates come from an equi-join.

    Exact duplicates are collapsed first (see dedup_near): identical
    docs share a simhash, so a d-duplicate group would otherwise form
    a d-clique in every chunk bucket (d² candidates).
    """
    docs = _collapse_reps(
        load_table(spark, sf_dir, "documents"),
        F.sha2("text", 256),
        nbytes=table_bytes(sf_dir, "documents"),
    )
    cand = _simhash_candidates(docs)
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"),
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_candidates(
    docs: DataFrame, bucket_cap: int = SIMHASH_BUCKET_CAP
) -> DataFrame:
    """(doc_id, text) → candidate pairs (doc_a, doc_b, sh_a, sh_b)
    via 64-bit SimHash + 4×16-bit pigeonhole banding, with the
    hot-bucket cap applied before the chunk self-join."""
    occurrences = (
        # explode_outer, not explode: a NULL-text doc has a NULL token
        # array and plain explode would drop it entirely — it must
        # keep its historical signature-0 row (its votes are zeroed
        # below via the h IS NULL guard)
        docs.select("doc_id", F.explode_outer(_tokens()).alias("tok"))
        .withColumn(
            "h",
            F.when(
                F.col("tok").isNotNull(),
                F.xxhash64(F.concat(F.lit("simhash:"), F.col("tok"))),
            ),
        )
    )
    # 64 branch-free bit-sum COLUMNS over token OCCURRENCES, one agg:
    # the ±1 vote sum per bit equals 2·Σbit − count, so each column is
    # a plain sum of `(h >> j) & 1` (no CASE branches — 3× lighter
    # codegen compile and ~20% faster per row than the conditional ±1
    # form, bit-identical signatures) plus ONE shared non-null count.
    # Occurrence rows (not a per-(doc, token) count pre-agg) avoid a
    # token-proportional shuffle: all 65 columns ride map-side partial
    # aggregation, so the only shuffle carries one row per
    # (doc, partition). NULL-text docs: h is NULL on their single
    # explode_outer row, so every bit sum is NULL and the signature
    # CASE falls through to 0 — the historical signature-0 row, no
    # left-join fixup needed.
    vote_cols = [
        F.sum(F.expr(f"(h >> {j}) & 1")).alias(f"b{j}") for j in range(64)
    ]
    votes = occurrences.groupBy("doc_id").agg(
        *vote_cols, F.count("h").alias("_nt")
    )
    # bit j set iff vote > 0 ⇔ 2·Σbit > count; bitwise-OR fold of the
    # 64 masks (shiftleft handles j=63 → sign bit, no ANSI overflow)
    sig_expr = " | ".join(
        f"(CASE WHEN 2 * b{j} > _nt THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(64)
    )
    simhash = votes.select("doc_id", F.expr(sig_expr).alias("simhash"))

    return _simhash_chunk_pairs(simhash, bucket_cap)


def _simhash_chunk_pairs(
    simhash: DataFrame, bucket_cap: int
) -> DataFrame:
    """(doc_id, simhash) → candidate pairs carrying both signatures
    (doc_a, doc_b, sh_a, sh_b) via the 4×16-bit pigeonhole chunk
    equi-join. ONE implementation shared by the graded xxhash-vote
    path and the md5 oracle twin — the twin's guarantee is 'only the
    bit source differs', so the chunking/cap/join must be literally
    the same code."""
    chunks = simhash.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk"),
    ).withColumn(
        "chunk_val", F.expr("(simhash >> cast(chunk * 16 as int)) & 65535")
    )
    # hot-bucket guard BEFORE the self-join (see LSH_BUCKET_CAP)
    chunks = _cap_buckets(chunks, ["chunk", "chunk_val"], bucket_cap)
    # one materialization of the signature pipeline for both join
    # sides (see _minhash_candidates) — chunk rows are 4 small rows
    # per doc
    chunks = chunks.localCheckpoint(eager=False)
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _md5_hexdigit(k: int) -> str:
    """SQL for hex-digit value 0..15 of md5 column ``m`` at 1-based
    char ``k`` — `instr`/`strpos` into the hex alphabet, identical
    syntax and semantics in Spark SQL and DuckDB."""
    return f"(instr('0123456789abcdef', substr(m, {k}, 1)) - 1)"


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) with an md5-derived bit
    source — the FULL-ORACLE twin of :func:`dedup_simhash`, exactly
    as :func:`dedup_near_md5` twins `dedup_near`. Same pipeline:
    per-token 64-bit votes → majority signature → 4×16-bit pigeonhole
    chunks → capped equi-join → hamming verify. The 64 bits come from
    the first 16 hex digits of ``md5('simhash:' || token)`` (4 bits
    per digit via the portable `instr`-alphabet decode), so DuckDB
    reproduces every vote, every chunk bucket, every cap decision,
    and every hamming distance. NULL-text docs excluded on both
    sides (the graded query keeps them at signature 0; the twin
    checks the LSH logic, not the NULL convention)."""
    docs = _collapse_reps(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        ),
        F.md5("text"),
        nbytes=table_bytes(sf_dir, "documents"),
    )
    occ = docs.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).withColumn(
        "m", F.md5(F.concat(F.lit("simhash:"), F.col("tok")))
    )
    vote_cols = [
        F.sum(
            F.expr(f"({_md5_hexdigit(j // 4 + 1)} >> {j % 4}) & 1")
        ).alias(f"b{j}")
        for j in range(64)
    ]
    votes = occ.groupBy("doc_id").agg(
        *vote_cols, F.count("*").alias("_nt")
    )
    sig_expr = " | ".join(
        f"(CASE WHEN 2 * b{j} > _nt THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(64)
    )
    simhash = votes.select("doc_id", F.expr(sig_expr).alias("simhash"))
    return (
        _simhash_chunk_pairs(simhash, SIMHASH_BUCKET_CAP)
        .withColumn(
            "hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("long")
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_md5_oracle() -> str:
    """The dedup_simhash_md5 pipeline in DuckDB SQL, generated so the
    64 vote sums / bits mirror the Spark expressions term-for-term.
    The oracle never packs a 64-bit value (1<<63 overflow semantics
    differ across engines); chunks and hamming work directly on the
    bit columns, which is arithmetically identical."""
    vote_sums = ", ".join(
        f"SUM(({_md5_hexdigit(j // 4 + 1)} >> {j % 4}) & 1) AS b{j}"
        for j in range(64)
    )
    bits = ", ".join(
        f"(CASE WHEN 2 * b{j} > nt THEN 1 ELSE 0 END) AS bit{j}"
        for j in range(64)
    )
    chunk_vals = ", ".join(
        "("
        + " + ".join(f"bit{16 * c + p} * {1 << p}" for p in range(16))
        + f") AS cv{c}"
        for c in range(4)
    )
    hamming = " + ".join(
        f"(CASE WHEN a.bit{j} != b.bit{j} THEN 1 ELSE 0 END)"
        for j in range(64)
    )
    return f"""
        WITH reps AS (
            SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
            FROM documents WHERE text IS NOT NULL
            GROUP BY md5(text)
        ), occ AS (
            SELECT doc_id, md5('simhash:' || t) AS m
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM reps
            )
        ), votes AS (
            SELECT doc_id, COUNT(*) AS nt, {vote_sums}
            FROM occ GROUP BY doc_id
        ), bits AS (
            SELECT doc_id, {bits} FROM votes
        ), cvs AS (
            SELECT doc_id, {chunk_vals} FROM bits
        ), chunks AS (
            SELECT doc_id, g.c AS chunk,
                   CASE g.c WHEN 0 THEN cv0 WHEN 1 THEN cv1
                            WHEN 2 THEN cv2 ELSE cv3 END AS chunk_val
            FROM cvs, (SELECT unnest(range(0, 4)) AS c) g
            QUALIFY COUNT(*) OVER (PARTITION BY chunk, chunk_val)
                    <= {SIMHASH_BUCKET_CAP}
        ), pairs AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM chunks l JOIN chunks r
              ON l.chunk = r.chunk AND l.chunk_val = r.chunk_val
             AND l.doc_id < r.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT p.doc_a, p.doc_b, ({hamming})::BIGINT AS hamming
            FROM pairs p
            JOIN bits a ON a.doc_id = p.doc_a
            JOIN bits b ON b.doc_id = p.doc_b
        ) WHERE hamming <= 3
    """


# ---------------------------------------------------------------- ngram jaccard
def _ngram_posting_join(
    spark: SparkSession,
    sf_dir: str,
    posting_cap: int = NGRAM_POSTING_CAP,
) -> DataFrame:
    """Shared-shingle join rows for :func:`dedup_ngram_jaccard` —
    factored out so the raw posting-join row count (the quantity
    NGRAM_POSTING_CAP bounds) can be counted on its own under an
    adversarial stop-word corpus (tests/test_dedup.py)."""
    return _ngram_posting_join_docs(
        load_table(spark, sf_dir, "documents"),
        posting_cap,
        nbytes=table_bytes(sf_dir, "documents"),
    )


def _ngram_posting_join_docs(
    raw: DataFrame,
    posting_cap: int = NGRAM_POSTING_CAP,
    nbytes: int | None = None,
) -> DataFrame:
    """Frame-level form of :func:`_ngram_posting_join` — the leakage
    quarantine (operators.llm_prep) runs the same machinery over an
    arbitrary tagged corpus, not just the fixture table. The collapse
    already spreads the reps on doc_id, so the postings skip their
    own respread."""
    reps = _collapse_reps(raw, F.sha2("text", 256), nbytes)
    return _posting_self_join(
        _side_postings(
            reps,
            respread=False,
            block_cap=PAIRWISE_BLOCK_CAP,
            posting_cap=posting_cap,
        )
    )


def _posting_self_join(posting: DataFrame) -> DataFrame:
    """(len_band, sh) self-join of posting rows: one row per shingle
    that a pair (l.doc_id < r.doc_id) of the same length band shares.
    Work is proportional to Σ per-shingle posting-list², not band²
    array intersections, and at corpus scale the hot path is a shuffle
    on (band, shingle) instead of an all-pairs nested loop per band.

    The localCheckpoint is one materialization of the shingle pipeline
    for both join sides: posting rows carry the shingle strings (~3x
    corpus tokens; MEMORY_AND_DISK spillable), strictly cheaper than
    recomputing the collapse+shingle+cap subtree twice."""
    posting = posting.localCheckpoint(eager=False)
    l, r = posting.alias("l"), posting.alias("r")
    return l.join(
        r,
        (F.col("l.len_band") == F.col("r.len_band"))
        & (F.col("l.sh") == F.col("r.sh"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )


def _shared_jaccard(joined: DataFrame) -> DataFrame:
    """Posting-join rows (sides aliased ``l`` and ``r``, one row per
    shared shingle) → (doc_a, doc_b, jaccard) for the pairs whose
    3-gram Jaccard, rounded to 6 places like every oracle, is ≥ 0.5.
    |A∩B| is the row count and |A∪B| = |A| + |B| − |A∩B| (shingle sets
    are distinct by construction), so no shingle array is compared."""
    return (
        joined.groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .select(
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


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 over banded candidate pairs.

    Banding: pairs must share a length bucket (n_tokens div 8) — the oracle
    implements the identical blocking (including the exact-duplicate
    collapse prefix, the block-size cap AND the hot-shingle posting
    cap), so this is hash-checkable.

    This is the VERIFY TWIN, not the scale path: within a band the
    compare is all-pairs, so bands above PAIRWISE_BLOCK_CAP are
    excluded on both engines (their members are served by the
    sub-quadratic dedup_near), and shingles whose posting list exceeds
    NGRAM_POSTING_CAP are dropped from the intersection count on both
    engines (stop-word 3-grams carry no pair-separating signal but
    cost posting² join rows). Recall loss at bucket edges is the
    documented trade (MinHash covers the rest).
    """
    return ngram_jaccard_pairs_docs(
        load_table(spark, sf_dir, "documents"),
        nbytes=table_bytes(sf_dir, "documents"),
    )


def ngram_jaccard_pairs_docs(
    raw: DataFrame, nbytes: int | None = None
) -> DataFrame:
    """Frame-level form of :func:`dedup_ngram_jaccard`: (doc_a, doc_b,
    jaccard) pairs of exact-dup representatives with 3-gram Jaccard
    >= 0.5, over any (doc_id, text) frame — same banding and caps."""
    return _shared_jaccard(_ngram_posting_join_docs(raw, nbytes=nbytes))


# ------------------------------------------------------------- incremental
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the shape a production pipeline
    actually runs daily: a NEW BATCH (fixture stripe doc_id % 10 == 9)
    is admitted against the EXISTING CORPUS (the other 90%) without
    ever re-deduping the corpus against itself.

    Verdict per batch doc, in precedence order:

    * ``exact_dup`` — byte-identical (md5) to a corpus doc, or to an
      earlier (smaller doc_id) doc in the same batch;
    * ``near_dup`` — 3-gram Jaccard ≥ 0.5 against a corpus
      representative through the same banded, double-capped posting
      join as ``dedup_ngram_jaccard`` (identical caps on both
      engines, so the whole decision is DuckDB-hash-checkable);
    * ``admitted`` — joins the corpus.

    Scale shape: every aggregation/join is BATCH-keyed (hash lookups
    into the corpus), so per-ingest cost is O(batch) plus an
    equi-join probe of the corpus posting lists that share a (band,
    shingle) with the batch — at 100 TB the corpus's md5 set and
    posting index are precomputed once at ingest time and stored
    bucketed by their join keys, making the daily increment
    corpus-scan-free; here both are derived on the fly from the
    fixture for checkability. NULL-text rows admit (no bytes to
    collide on) — identical join-on-NULL semantics in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return _incremental_verdicts(
        batch,
        corpus_index_hashes(corpus),
        corpus_index_postings(corpus),
        # just built capped by corpus_index_postings — re-cap is a
        # proven no-op (tests pin stored-path behavior separately)
        recap_stored=False,
    )


def _side_postings(
    side: DataFrame,
    respread: bool = True,
    block_cap: int | None = None,
    posting_cap: int = NGRAM_POSTING_CAP,
) -> DataFrame:
    """(doc_id, text) → posting rows (doc_id, len_band, n_sh, sh): one
    row per distinct 3-gram ``sh`` of a doc with ``n_sh`` shingles in
    length band ``len_band`` (n_tokens div 8), with (len_band, sh)
    buckets longer than ``posting_cap`` dropped (see
    NGRAM_POSTING_CAP). NULL-text docs have a NULL len_band and drop
    out at the cap's inner join.

    ``block_cap`` additionally drops whole length bands above it
    BEFORE shingling — only the all-pairs verify twin
    (:func:`dedup_ngram_jaccard`) passes it, with PAIRWISE_BLOCK_CAP.
    The cap decision needs only len_band, so its sizes subtree prunes
    to a slim (doc_id, len_band) projection and shingles are built
    once, for admitted docs only. The corpus index, the incremental
    probe and the keep-first kill set pass no band cap: their fan-out
    is bounded per (band, shingle) by the posting cap alone, and at
    corpus scale EVERY length band exceeds any fixed constant, so a
    band cap would silently disable near-dedup for the whole corpus
    (at 100x distinct docs the band-capped index collapsed to empty:
    SCALE.md, "incremental ingest dedup").

    ``respread`` hash-repartitions ``side`` on doc_id first: AQE
    coalesces a small upstream exchange (an aggregate's, a join's) to
    ONE partition, and the expensive part — building ~L shingle strings
    per doc and exploding them — would then run on a single task
    (measured 2.7 s single-task vs 0.3 s spread at sf0.1). Callers
    whose ``side`` comes straight from :func:`_collapse_reps` (already
    spread on doc_id) pass False; partitioning never affects results.

    The cap runs without ``checkpoint_input``: measured at sf0.1, the
    double execution under the cap's two consumers costs less than the
    checkpoint's own materialization here (4.4 s vs 4.8-5.2 s)."""
    if respread:
        side = side.repartition(
            side.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    docs = side.withColumn("_toks", _tokens()).select(
        "doc_id",
        "_toks",
        (F.size("_toks") / 8).cast("long").alias("len_band"),
    )
    if block_cap is not None:
        docs = _cap_blocks_lowcard(docs, ["len_band"], block_cap)
    posting = docs.select(
        "doc_id",
        "len_band",
        _shingles_from(F.col("_toks")).alias("shingles"),
    ).select(
        "doc_id",
        "len_band",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )
    return _cap_buckets(posting, ["len_band", "sh"], posting_cap)


def near_dup_kill_ids(
    deduped: DataFrame, family: str = "ngram"
) -> DataFrame:
    """Keep-first self near-dedup kill set over an already
    exact-collapsed corpus: one ``doc_id`` row for every doc that is
    the LARGER side of at least one 3-gram-Jaccard ≥ 0.5 pair.

    Pairs come from the corpus posting index (:func:`_side_postings`
    — the same banded, ``NGRAM_POSTING_CAP``-capped machinery the
    incremental ingest probe uses, and deliberately NOT
    ``dedup_ngram_jaccard``'s ``PAIRWISE_BLOCK_CAP``, which would
    silently disable near-dedup at corpus scale).

    Keep-first semantics: the min-doc_id member of every qualifying
    pair always survives; kills do not cascade (a doc whose only
    near-dup partner was itself killed is still killed). One pass,
    deterministic, and census-checkable from a single pair
    enumeration — the property ``plans.corpus_prep``'s manifest
    cross-check relies on.

    ``family="lsh"`` swaps the pair source for the MinHash band
    machinery (``_minhash_candidates`` + true-Jaccard verify — the
    graded ``dedup_near`` pipeline): sub-quadratic in band-bucket
    volume and robust to edits that shift every 3-gram, at the cost
    of S-curve recall instead of posting-exact intersection counts.
    Same keep-first kill rule either way; any other ``family`` raises
    ``ValueError``.
    """
    if family not in NEAR_FAMILIES:
        raise ValueError(f"unknown near-dup family: {family!r}")
    nn = deduped.filter(F.col("text").isNotNull())
    if family == "lsh":
        par = nn.sparkSession.sparkContext.defaultParallelism
        sh = _shingle_sets(nn.repartition(par, "doc_id"))
        pairs = _verify_candidate_pairs(
            _minhash_candidates(sh), nn.select("doc_id", "text")
        )
    else:
        pairs = _shared_jaccard(_posting_self_join(_side_postings(nn)))
    # every pair has doc_a < doc_b, so doc_b is the larger side
    return pairs.select(F.col("doc_b").alias("doc_id")).distinct()


def corpus_index_hashes(corpus: DataFrame) -> DataFrame:
    """The exact-dup half of the corpus ingest index: distinct md5s."""
    return corpus.select(F.md5("text").alias("_h")).distinct()


def corpus_index_postings(corpus: DataFrame) -> DataFrame:
    """The near-dup half of the corpus ingest index: capped posting
    rows of the exact-collapse representatives. In production both
    index halves are WRITTEN AT INGEST TIME (postings bucketed by
    (len_band, sh), hashes by _h) and only appended to — the daily
    increment then never scans corpus text. SCALE.md, "incremental
    ingest dedup", records that split at 100× corpus: a 4.2 s
    increment against the stored index, 39.7 s on the fly."""
    reps = _collapse_reps(corpus, F.md5("text"))
    return _side_postings(reps, respread=False)


def _exact_dup_ids(
    batch_h: DataFrame, corpus_hashes: DataFrame
) -> DataFrame:
    """Exact-dup doc_ids of a hashed batch: byte-identical to a
    corpus digest (semi join) OR to an EARLIER (smaller doc_id) doc
    in the same batch.

    Materialized once (lazy localCheckpoint): three consumers (the
    survivors anti-join, the final verdict join, and transitively
    everything under near_ids) would otherwise each re-execute the
    batch hashing + corpus semi-join subtree."""
    vs_corpus = batch_h.join(corpus_hashes, "_h", "semi").select("doc_id")
    first_in_batch = batch_h.groupBy("_h").agg(
        F.min("doc_id").alias("_first")
    )
    vs_batch = (
        batch_h.join(first_in_batch, "_h")
        .filter(F.col("doc_id") != F.col("_first"))
        .select("doc_id")
    )
    return (
        vs_corpus.unionByName(vs_batch)
        .distinct()
        .localCheckpoint(eager=False)
    )


def _admission_verdicts(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    near_ids_of: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The verdict core both incremental families share. Each batch
    doc gets, in precedence order: ``exact_dup`` (md5 equal to a
    corpus digest or to an earlier doc of the batch, see
    :func:`_exact_dup_ids`), ``near_dup`` (its doc_id is in
    ``near_ids_of(survivors)``, where ``survivors`` are the batch's
    (doc_id, text) rows that are no exact dup), else ``admitted``."""
    batch_h = batch.select("doc_id", "text", F.md5("text").alias("_h"))
    exact_ids = _exact_dup_ids(batch_h, corpus_hashes)
    survivors = batch_h.join(exact_ids, "doc_id", "anti").select(
        "doc_id", "text"
    )
    return (
        batch.select("doc_id")
        .join(exact_ids.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(
            near_ids_of(survivors).withColumn("_n", F.lit(1)),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("_e") == 1, "exact_dup")
            .when(F.col("_n") == 1, "near_dup")
            .otherwise("admitted")
            .alias("verdict"),
        )
    )


def _recap_touched(
    stored: DataFrame, probe: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Re-apply a bucket cap to a STORED index at probe time. The
    stored index is capped per append only, so across many daily
    appends a hot bucket can outgrow ``cap``. Pruning the stored side
    to the buckets ``probe`` touches (a broadcast semi-join keeps
    whole stored buckets, so counts equal corpus-wide counts) and
    re-capping restores the invariant without a corpus-sized pass.

    Honest limit: a stored bucket reflects what per-append capping
    RETAINED — an append whose own contribution exceeded the cap was
    dropped wholesale at append time, so a stored bucket can
    under-count the raw corpus and survive a re-cap that a from-raw
    rebuild would drop. The error is one-sided in the cap's own
    direction (hot buckets lose MORE rows, never gain), so fan-out
    stays bounded; it is not bit-equal to a fresh rebuild when any
    single append overflowed the cap."""
    touched = probe.select(*keys).distinct()
    return _cap_buckets(
        stored.join(F.broadcast(touched), keys, "semi"), keys, cap
    )


def _incremental_verdicts(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_postings: DataFrame,
    recap_stored: bool = True,
) -> DataFrame:
    """Admission verdicts for a batch against a (possibly
    pre-materialized) corpus index — the shared core of
    :func:`dedup_incremental` (index derived on the fly) and the
    index-backed probe path (index read from parquet). Near dups are
    survivors whose banded, capped postings share a Jaccard ≥ 0.5
    with a corpus representative's.

    ``recap_stored`` re-applies ``NGRAM_POSTING_CAP`` to the
    batch-touched slice of ``corpus_postings`` before probing (see
    :func:`_recap_touched`). Callers that just BUILT the posting side
    capped (the graded on-the-fly query) pass False: the re-cap is
    provably a no-op there and skipping it saves a second pass over
    the postings."""

    def near_ids(survivors: DataFrame) -> DataFrame:
        bp = _side_postings(survivors)
        cp = corpus_postings
        if recap_stored:
            cp = _recap_touched(
                cp, bp, ["len_band", "sh"], NGRAM_POSTING_CAP
            )
        pairs = _shared_jaccard(
            bp.alias("l").join(cp.alias("r"), ["len_band", "sh"])
        )
        return pairs.select(F.col("doc_a").alias("doc_id")).distinct()

    return _admission_verdicts(batch, corpus_hashes, near_ids)


def corpus_index_bands(corpus: DataFrame) -> DataFrame:
    """The LSH half of the corpus ingest index: capped MinHash band
    rows (band, band_hash, doc_id) of the exact-collapse reps — the
    long/paraphrased-doc complement to the n-gram posting index
    (banding survives token-level edits that 3-gram postings don't).
    In production this half is WRITTEN AT INGEST TIME bucketed by
    (band, band_hash); the daily increment only reads buckets its
    batch hashes into."""
    # NULL-text reps carry no shingle mass and must NOT band: the
    # shingle builder yields [""] for NULL text (concat_ws skips
    # NULLs), which would band every NULL doc into one shared bucket
    # and match them at Jaccard 1.0. The n-gram posting path drops
    # these via its NULL len_band join key; here the filter is
    # explicit.
    return _band_rows(corpus_index_rep_shingles(corpus))


def corpus_index_rep_shingles(corpus: DataFrame) -> DataFrame:
    """The verify half of the LSH ingest index: each rep's shingle
    set keyed by doc_id. Candidate verification is a batch-sized
    point-lookup join against this (at 100 TB: stored bucketed by
    doc_id, so the probe reads only candidate buckets) — band
    membership alone is a hash coincidence; admission decisions
    verify TRUE Jaccard. NULL-text docs are excluded (see
    :func:`corpus_index_bands`)."""
    non_null = corpus.filter(F.col("text").isNotNull())
    return _shingle_sets(_collapse_reps(non_null, F.md5("text")))


def _incremental_lsh_verdicts(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    recap_stored: bool = True,
) -> DataFrame:
    """LSH-family admission verdicts for a batch against a (possibly
    pre-materialized) corpus band index — the MinHash sibling of
    :func:`_incremental_verdicts`, with the same exact-dup prefix,
    stored-index re-cap (on LSH_BUCKET_CAP) and verdict core. Near
    dups, all batch-keyed:

    1. survivors' capped band rows equi-join the corpus band index on
       (band, band_hash) → candidate (batch, rep) pairs;
    2. candidates verify exact shingle Jaccard ≥ 0.5 via a point
       fetch of the candidate reps' shingle sets — precision 1 by
       construction, recall bounded by the banding (seeded-hash
       semantics, so rows-only + recall tests, same declaration as
       dedup_near).
    """

    def near_ids(survivors: DataFrame) -> DataFrame:
        # NULL-text survivors skip the band probe (no shingle mass — see
        # corpus_index_bands) and reach "admitted" like every unflagged
        # doc. The shingle sets feed both the band probe and the
        # Jaccard verify: one (batch-sized) materialization.
        sh = _shingle_sets(
            survivors.filter(F.col("text").isNotNull())
        ).localCheckpoint(eager=False)
        bb = _band_rows(sh)
        cb = corpus_bands
        if recap_stored:
            cb = _recap_touched(
                cb, bb, ["band", "band_hash"], LSH_BUCKET_CAP
            )
        return (
            bb.alias("b")
            .join(cb.alias("c"), ["band", "band_hash"])
            .select(
                F.col("b.doc_id").alias("b_id"),
                F.col("c.doc_id").alias("c_id"),
            )
            .dropDuplicates(["b_id", "c_id"])
            .join(
                sh.select(
                    F.col("doc_id").alias("b_id"),
                    F.col("shingles").alias("sh_b"),
                ),
                "b_id",
            )
            .join(
                corpus_shingles.select(
                    F.col("doc_id").alias("c_id"),
                    F.col("shingles").alias("sh_c"),
                ),
                "c_id",
            )
            .filter(F.round(_jaccard(F.col("sh_b"), F.col("sh_c")), 6) >= 0.5)
            .select(F.col("b_id").alias("doc_id"))
            .distinct()
        )

    return _admission_verdicts(batch, corpus_hashes, near_ids)


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup, MinHash/LSH family: the same batch
    stripe (doc_id % 10 == 9) admitted against the corpus via the
    band index instead of n-gram postings. Library + probe surface
    (rows-only by declaration — seeded-hash banding has no DuckDB
    oracle; checked by recall/precision tests vs brute-force Jaccard
    and by on-the-fly/stored-index parity, recorded in SCALE.md,
    "incremental dedup, MinHash/LSH family")."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return _incremental_lsh_verdicts(
        batch,
        corpus_index_hashes(corpus),
        corpus_index_bands(corpus),
        corpus_index_rep_shingles(corpus),
        recap_stored=False,
    )


# ---------------------------------------------------------------- embedding
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.4), blocked by label.

    All arithmetic in double (float arrays cast first) so Spark and
    the DuckDB oracle compute bit-comparable cosines.

    VERIFY TWIN: all-pairs within a label block, so blocks above
    PAIRWISE_BLOCK_CAP are excluded on both engines — the scale path
    for unbounded blocks is similarity_ann/similarity_ivf.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    emb = _cap_blocks_lowcard(emb, ["label"], PAIRWISE_BLOCK_CAP)
    # one materialization of the scan+cast+cap pipeline for both
    # sides of the label self-join (same pattern as the banded
    # candidate generators)
    emb = emb.localCheckpoint(eager=False)
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    l, r = emb.alias("l"), emb.alias("r")
    return (
        l.join(
            r,
            (F.col("l.label") == F.col("r.label"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(
                dot(F.col("l.v"), F.col("r.v"))
                / (
                    F.sqrt(dot(F.col("l.v"), F.col("l.v")))
                    * F.sqrt(dot(F.col("r.v"), F.col("r.v")))
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
    )


ORACLE_SQL = {
    "dedup_exact": """
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt,
               MIN(n_chars) AS n_chars
        FROM documents GROUP BY text
    """,
    # Same posting-list formulation as the Spark plan (NOT an array
    # intersect): the hot-shingle posting cap changes the computed
    # intersection count, so the oracle must count shared shingles
    # through the identical capped join to stay hash-comparable.
    "dedup_ngram_jaccard": f"""
        WITH reps AS (
            SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
            FROM documents GROUP BY md5(text)
        ), sh AS (
            SELECT doc_id,
                   (len(string_split(text, ' ')) // 8)::BIGINT AS len_band,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                   )) AS shingles
            FROM reps
            QUALIFY COUNT(*) OVER (PARTITION BY len_band)
                    <= {PAIRWISE_BLOCK_CAP}
        ), posting0 AS (
            SELECT doc_id, len_band, len(shingles)::BIGINT AS n_sh,
                   unnest(shingles) AS s
            FROM sh
        ), posting AS (
            SELECT * FROM posting0
            QUALIFY COUNT(*) OVER (PARTITION BY len_band, s)
                    <= {NGRAM_POSTING_CAP}
        ), shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b,
                   COUNT(*) AS n_shared
            FROM posting a JOIN posting b
              ON a.len_band = b.len_band AND a.s = b.s
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   ROUND(n_shared::DOUBLE / (n_a + n_b - n_shared), 6)
                       AS jaccard
            FROM shared
        ) WHERE jaccard >= 0.5
    """,
    "dedup_embedding": f"""
        WITH e AS (
            SELECT vec_id, label, embedding FROM embeddings
            QUALIFY COUNT(*) OVER (PARTITION BY label)
                    <= {PAIRWISE_BLOCK_CAP}
        )
        SELECT * FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                         6) AS cosine
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cosine >= 0.4
    """,
    # dedup_near / dedup_simhash: seeded-xxhash LSH isn't expressible in
    # DuckDB SQL → rows-only forever. The GRADED near-dedup row is the
    # md5-hash-family twin dedup_near_md5 (below): the identical LSH
    # pipeline — signatures, banding, hot-bucket cap, candidate join,
    # exact-Jaccard verify — under a DuckDB-computable hash family, so
    # the driver artifact carries a full hash-check for the near-dedup
    # logic. The xxhash64 family stays the documented production
    # default (~2× cheaper hashing; rows-only in RETIRED_TWIN_QUERIES
    # below) and keeps its determinism/recall/precision tests + bench series.
}

# Ungraded pool (driver window full at 50), run every test run by
# tests/test_retired_twins.py. dedup_simhash_md5 is oracle-checked:
# the only oracle check of the benched SimHash pipeline (votes →
# bit-sum → chunks → hamming verify). dedup_simhash and dedup_near
# have no oracle entry, so they are rows-only: seeded xxhash64 is not
# SQL-expressible, and their md5-hash-family twins carry the hash
# check. The xxhash64 family is the production default (cheaper
# hashing at identical plan shape); it keeps its
# determinism/recall/precision tests (tests/test_dedup.py) and its
# bench series (bench.py HEADLINE), which also keeps the
# candidate-cap perf guard.
RETIRED_TWIN_QUERIES = {
    "dedup_simhash_md5": dedup_simhash_md5,
    "dedup_simhash": dedup_simhash,
    "dedup_near": dedup_near,
}
# band-slice SQL derived from LSH_ROWS exactly the way _band_rows
# derives its element_at slice — a hardcoded `sig[4*b+1..+4]` here
# would silently break the twin if LSH_ROWS ever changed
_MD5_BAND_SLICE_SQL = " || ',' || ".join(
    f"sig[{LSH_ROWS}*g.b+{r + 1}]" for r in range(LSH_ROWS)
)

RETIRED_TWIN_ORACLES: dict[str, str] = {}

# The COMPLETE LSH pipeline in SQL: md5-hex min-hash signatures
# (lexicographic min of fixed-length hex == numeric min), 8×4
# banding, the hot-bucket cap, the candidate self-join, and the
# exact-Jaccard verify — every stage the production dedup_near runs,
# hash-checked with an independent hash-family instance. GRADED (in
# ORACLE_SQL below): the driver artifact carries the full near-dedup
# hash-check directly.
_DEDUP_NEAR_MD5_ORACLE = f"""
        WITH reps AS (
            SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
            FROM documents WHERE text IS NOT NULL
            GROUP BY md5(text)
        ), sh AS (
            SELECT doc_id,
                   list_transform(
                       list_distinct(list_transform(
                           range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                       )),
                       s -> md5(s)
                   ) AS h
            FROM reps
        ), sig AS (
            SELECT doc_id,
                   list_transform(
                       range(0, {MINHASH_PERMS}),
                       i -> list_min(list_transform(
                           h, x -> md5(i::VARCHAR || ':' || x)))
                   ) AS sig
            FROM sh
        ), bands AS (
            SELECT doc_id, g.b AS band,
                   md5({_MD5_BAND_SLICE_SQL}) AS band_hash
            FROM sig, (SELECT unnest(range(0, {LSH_BANDS})) AS b) g
            QUALIFY COUNT(*) OVER (PARTITION BY band, band_hash)
                    <= {LSH_BUCKET_CAP}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ), shset AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                   )) AS s
            FROM documents
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT p.doc_a, p.doc_b,
                   ROUND(len(list_intersect(sa.s, sb.s))::DOUBLE
                         / len(list_distinct(sa.s || sb.s)), 6) AS jaccard
            FROM pairs p
            JOIN shset sa ON sa.doc_id = p.doc_a
            JOIN shset sb ON sb.doc_id = p.doc_b
        ) WHERE jaccard >= 0.5
    """

ORACLE_SQL["dedup_near_md5"] = _DEDUP_NEAR_MD5_ORACLE

QUERIES = {
    "dedup_exact": dedup_exact,
    # the GRADED near-dedup row is the md5 hash family — the
    # identical pipeline under a DuckDB-computable hash, so the
    # driver hash-checks every LSH stage. The xxhash64 production
    # default is rows-only (RETIRED_TWIN_QUERIES above).
    "dedup_near_md5": dedup_near_md5,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding": dedup_embedding,
    # the incremental ingest path, with driver-visible verification
    "dedup_incremental": dedup_incremental,
}

ORACLE_SQL_INCREMENTAL = {
    "dedup_incremental": f"""
        WITH batch AS (
            SELECT doc_id, text, md5(text) AS h
            FROM documents WHERE doc_id % 10 = 9
        ), corpus AS (
            SELECT doc_id, text, md5(text) AS h
            FROM documents WHERE doc_id % 10 != 9
        ), exact_ids AS (
            SELECT doc_id FROM batch WHERE h IN (SELECT h FROM corpus)
            UNION
            SELECT b.doc_id FROM batch b
            JOIN (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY h) f
              ON b.h = f.h AND b.doc_id != f.first_id
        ), survivors AS (
            SELECT doc_id, text FROM batch
            WHERE doc_id NOT IN (SELECT doc_id FROM exact_ids)
        ), corpus_reps AS (
            SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
            FROM corpus GROUP BY md5(text)
        ), bsh AS (
            SELECT doc_id,
                   (len(string_split(text, ' ')) // 8)::BIGINT AS len_band,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                   )) AS shingles
            FROM survivors
        ), csh AS (
            SELECT doc_id,
                   (len(string_split(text, ' ')) // 8)::BIGINT AS len_band,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                   )) AS shingles
            FROM corpus_reps
        ), bp AS (
            SELECT * FROM (
                SELECT doc_id AS b_id, len_band,
                       len(shingles)::BIGINT AS n_b, unnest(shingles) AS s
                FROM bsh
            ) QUALIFY COUNT(*) OVER (PARTITION BY len_band, s)
                      <= {NGRAM_POSTING_CAP}
        ), cp AS (
            SELECT * FROM (
                SELECT doc_id AS c_id, len_band,
                       len(shingles)::BIGINT AS n_c, unnest(shingles) AS s
                FROM csh
            ) QUALIFY COUNT(*) OVER (PARTITION BY len_band, s)
                      <= {NGRAM_POSTING_CAP}
        ), near_ids AS (
            SELECT DISTINCT b_id AS doc_id FROM (
                SELECT b_id, c_id, n_b, n_c, COUNT(*) AS n_shared
                FROM bp JOIN cp USING (len_band, s)
                GROUP BY 1, 2, 3, 4
            ) WHERE ROUND(n_shared::DOUBLE / (n_b + n_c - n_shared), 6)
                    >= 0.5
        )
        SELECT b.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'admitted' END AS verdict
        FROM batch b
        LEFT JOIN exact_ids e USING (doc_id)
        LEFT JOIN near_ids n USING (doc_id)
    """,
}

RETIRED_TWIN_ORACLES["dedup_simhash_md5"] = _simhash_md5_oracle()

ORACLE_SQL.update(ORACLE_SQL_INCREMENTAL)
