"""Dedup pack tests: determinism, recall vs exact ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    _jaccard,
    _shingles,
    dedup_near,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from irio2024_mapreduce_spark.sources.tables import load_table


def _exact_pairs(spark, sf_dir, threshold=0.5) -> set[tuple[int, int]]:
    """Ground truth: full O(n²) shingle-Jaccard over exact-duplicate
    REPRESENTATIVES (the operators' contract: identical texts collapse
    to min-doc_id before pairwise comparison). Test-only."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .select("doc_id", _shingles().alias("sh"))
    )
    l, r = docs.alias("l"), docs.alias("r")
    pairs = (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            _jaccard(F.col("l.sh"), F.col("r.sh")).alias("j"),
        )
        .filter(F.col("j") >= threshold)
    )
    return {(r["a"], r["b"]) for r in pairs.collect()}


def test_minhash_recall_and_precision(spark, sf_dir):
    truth = _exact_pairs(spark, sf_dir, 0.5)
    found = {
        (r["doc_a"], r["doc_b"]) for r in dedup_near(spark, sf_dir).collect()
    }
    # verification step makes precision exact; LSH may miss borderline
    # pairs, but must catch the vast majority at j>=0.5 with b=8,r=4
    assert found <= truth
    if truth:
        assert len(found) / len(truth) >= 0.8


def test_minhash_deterministic(spark, sf_dir):
    a = sorted(map(tuple, dedup_near(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_near(spark, sf_dir).collect()))
    assert a == b


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    """SimHash hits at hamming≤3 should overwhelmingly be true
    near-dups under the exact-Jaccard measure."""
    truth = _exact_pairs(spark, sf_dir, 0.3)
    found = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_simhash(spark, sf_dir).collect()
    }
    if found:
        hits = len(found & truth)
        assert hits / len(found) >= 0.9


def test_dedup_clusters_accounts_for_every_doc(spark, sf_dir):
    """Cluster sizes × counts must sum to the corpus size (every doc
    in exactly one cluster), and reruns are deterministic."""
    from irio2024_mapreduce_spark.operators.chunking import dedup_clusters

    rows = dedup_clusters(spark, sf_dir).collect()
    total_docs = sum(r["cluster_size"] * r["n_clusters"] for r in rows)
    n = load_table(spark, sf_dir, "documents").count()
    assert total_docs == n
    rows2 = dedup_clusters(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # rep-seeded labels + pointer jumping must converge in rounds
    # logarithmic in the LARGEST CLUSTER the fixture actually produced
    # (diameter ≤ cluster size; jumping halves distance each round),
    # plus one no-change confirmation round. Deriving the bound from
    # the observed max cluster size — not a hard-coded 3 — keeps the
    # pin meaningful if a future fixture ships longer near-dup chains
    # (ADVICE r4) — rep-seeding can only bring rounds further UNDER
    # the bound (exact cliques start converged).
    import math

    from irio2024_mapreduce_spark.operators import chunking

    max_cluster = max(r["cluster_size"] for r in rows)
    bound = math.ceil(math.log2(max(2, max_cluster))) + 1
    assert 1 <= chunking._LAST_CC_ROUNDS <= bound, (
        chunking._LAST_CC_ROUNDS,
        max_cluster,
    )


def test_doc_chunk_covers_all_tokens(spark, sf_dir):
    """Every document's chunks must start at stride offsets and the
    first chunk must begin with the document's first token."""
    from irio2024_mapreduce_spark.operators.chunking import doc_chunk
    from pyspark.sql import functions as F

    chunks = doc_chunk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    first = (
        chunks.filter(F.col("chunk_id") == 0)
        .join(docs, "doc_id")
        .select("doc_id", "chunk_text", "text")
        .collect()
    )
    assert len(first) == docs.count()
    for r in first:
        assert r["text"].startswith(r["chunk_text"].split(" ")[0])
        assert r["text"].split(" ")[0] == r["chunk_text"].split(" ")[0]


def test_ngram_banding_subset_of_truth(spark, sf_dir):
    truth = _exact_pairs(spark, sf_dir, 0.5)
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    # banding only prunes candidates — it can never invent pairs
    assert banded <= truth


# ---------------------------------------------------------------- bucket caps
def _boilerplate_docs(spark, n=200, common_tokens=60):
    """Adversarial corpus: n docs sharing a large common prefix
    (near-identical, NOT byte-identical — the exact-dup collapse
    cannot catch them), so every doc lands in the same LSH/simhash
    buckets."""
    common = " ".join(f"boiler{i}" for i in range(common_tokens))
    rows = [(i, f"{common} unique{i}") for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_bucket_cap_bounds_candidates(spark):
    from irio2024_mapreduce_spark.operators.dedup import (
        LSH_BANDS,
        _minhash_candidates,
    )

    docs = _boilerplate_docs(spark)
    shingled = docs.select("doc_id", _shingles().alias("shingles"))
    n = docs.count()
    uncapped = _minhash_candidates(shingled, bucket_cap=10**9).count()
    cap = 16
    capped = _minhash_candidates(shingled, bucket_cap=cap).count()
    # without the cap the shared buckets are quadratic cliques
    assert uncapped > n * 20
    # with the cap, each doc contributes < cap pairs per band — linear
    assert capped <= n * cap * LSH_BANDS
    assert capped < uncapped


def test_simhash_bucket_cap_bounds_candidates(spark):
    from irio2024_mapreduce_spark.operators.dedup import _simhash_candidates

    docs = _boilerplate_docs(spark)
    n = docs.count()
    uncapped = _simhash_candidates(docs, bucket_cap=10**9).count()
    cap = 16
    capped = _simhash_candidates(docs, bucket_cap=cap).count()
    assert uncapped > n * 20
    assert capped <= n * cap * 4  # 4 pigeonhole chunks
    assert capped < uncapped


def test_default_cap_leaves_testdata_results_unchanged(spark, sf_dir):
    """The cap is a DoS guard: on the benchmark corpus no bucket
    exceeds it, so dedup_near output is identical with and without."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _minhash_candidates,
        _shingles as _sh,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .select("doc_id", _sh().alias("shingles"))
    )
    with_cap = {
        (r["doc_a"], r["doc_b"])
        for r in _minhash_candidates(docs).collect()
    }
    without = {
        (r["doc_a"], r["doc_b"])
        for r in _minhash_candidates(docs, bucket_cap=10**9).collect()
    }
    assert with_cap == without


def test_pairwise_block_cap_excludes_oversized_blocks(spark, sf_dir, tmp_path, monkeypatch):
    """dedup_ngram_jaccard must drop a length band larger than
    PAIRWISE_BLOCK_CAP (all-pairs within a band is O(band²))."""
    import irio2024_mapreduce_spark.operators.dedup as dd

    # 40 near-identical docs, all the same token count → one length band
    common = " ".join(f"tok{i}" for i in range(31))
    rows = [(i, f"{common} end{i}", "en", "s", 1) for i in range(40)]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "blockcap")
    df.repartition(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )

    # default cap (1024) admits the 40-doc band → pairs found
    assert dd.dedup_ngram_jaccard(spark, d).count() > 0
    # cap below the band size → band excluded → no pairs
    monkeypatch.setattr(dd, "PAIRWISE_BLOCK_CAP", 10)
    assert dd.dedup_ngram_jaccard(spark, d).count() == 0


def test_posting_list_jaccard_equals_array_jaccard(spark, tmp_path):
    """The posting-list formulation must produce the same pairs and
    values as a direct array-intersection Jaccard over the same
    banding — including short docs (<3 tokens → degenerate shingle)
    and pairs with zero overlap."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _jaccard,
        _shingles,
        dedup_ngram_jaccard,
    )

    # docs 10/11: a 15-token and a 17-token near-dup (Jaccard ≈ 0.79
    # over shingles) that sit in DIFFERENT length bands (15//8=1,
    # 17//8=2) — the pair must be ABSENT from both implementations,
    # exercising the len_band predicate in the posting-list join
    base15 = " ".join(f"w{i}" for i in range(15))
    texts = [
        "a b c d e f g h",
        "a b c d e f g x",      # near-dup of the first
        "a b c d e f g h i j",  # longer, same band (10//8 == 8//8)
        "q",                    # 1 token
        "q r",                  # 2 tokens
        "z z z z z z z z",      # repeated token
        "m n o p q r s t",      # unrelated, same band as first
        base15,
        base15 + " y0 y1",      # cross-band near-dup of base15
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "plj")
    df.repartition(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, d).collect()
    }

    # reference: direct array jaccard over the same banding
    from pyspark.sql import functions as F2

    docs = df.select(
        "doc_id",
        _shingles().alias("sh"),
        (F2.size(F2.split("text", " ")) / 8).cast("long").alias("b"),
    )
    l, r = docs.alias("l"), docs.alias("r")
    want = {
        (x["a"], x["b"]): x["j"]
        for x in l.join(
            r,
            (F2.col("l.b") == F2.col("r.b"))
            & (F2.col("l.doc_id") < F2.col("r.doc_id")),
        )
        .select(
            F2.col("l.doc_id").alias("a"),
            F2.col("r.doc_id").alias("b"),
            F2.round(_jaccard(F2.col("l.sh"), F2.col("r.sh")), 6).alias("j"),
        )
        .filter(F2.col("j") >= 0.5)
        .collect()
    }
    assert got == want and (0, 1) in got
    # the cross-band near-dup pair must be excluded by the banding
    # (both impls agree BECAUSE the posting join carries len_band);
    # sanity-check the pair really would pass the threshold unbanded
    assert (7, 8) not in got
    from irio2024_mapreduce_spark.operators.dedup import _jaccard as _j

    unbanded = (
        docs.alias("x")
        .join(docs.alias("y"), F2.col("x.doc_id") < F2.col("y.doc_id"))
        .filter((F2.col("x.doc_id") == 7) & (F2.col("y.doc_id") == 8))
        .select(_j(F2.col("x.sh"), F2.col("y.sh")).alias("j"))
        .collect()[0]["j"]
    )
    assert unbanded >= 0.5


def test_simhash_null_text_gets_signature_zero(spark):
    """A NULL-text doc must keep its signature-0 row (this regressed
    once before — the columnar vote rewrite silently dropped it). The
    current mechanism is subtle: its single explode_outer row has a
    NULL hash, so every bit sum aggregates to NULL and the signature
    CASE falls through to 0 — pin the end state, not the mechanism."""
    from pyspark.sql import functions as F2

    from irio2024_mapreduce_spark.operators.dedup import (
        _simhash_candidates,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, None)], ["doc_id", "text"]
    )
    # reach the internal simhash frame via the candidate generator's
    # chunk rows: every doc contributes 4 chunk rows carrying simhash
    cand_input = docs  # _simhash_candidates takes (doc_id, text)
    pairs = _simhash_candidates(cand_input).collect()
    # docs 2 and 3 share signature 0 → they must surface as a
    # candidate pair with sh_a == sh_b == 0
    by_pair = {(r["doc_a"], r["doc_b"]): (r["sh_a"], r["sh_b"]) for r in pairs}
    assert (2, 3) in by_pair, by_pair
    assert by_pair[(2, 3)] == (0, 0)


def test_cap_buckets_semantics(spark):
    """Pin the helper's documented contract: buckets ≤ cap survive
    whole, buckets > cap drop whole, and NULL-keyed rows are DROPPED
    (inner equi-join semantics — callers with nullable keys must
    pre-filter; every production call site feeds non-null keys)."""
    from irio2024_mapreduce_spark.operators.dedup import _cap_buckets

    rows = (
        [("a", i) for i in range(3)]
        + [("b", i) for i in range(5)]
        + [(None, 0)]
    )
    df = spark.createDataFrame(rows, ["k", "v"])
    kept = {(r["k"], r["v"]) for r in _cap_buckets(df, ["k"], 3).collect()}
    assert kept == {("a", 0), ("a", 1), ("a", 2)}
    # cap above every bucket: identity minus NULL-keyed rows
    all_non_null = {
        (r["k"], r["v"]) for r in _cap_buckets(df, ["k"], 100).collect()
    }
    assert all_non_null == {(k, v) for k, v in rows if k is not None}


def test_ngram_posting_cap_bounds_join_rows(spark, tmp_path):
    """A stop-word shingle shared by m docs costs m² posting-join
    rows; the (band, shingle) posting cap must drop it (it carries no
    pair-separating signal) and shrink the join accordingly."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _ngram_posting_join,
    )

    # 60 docs: identical 12-token stop-word prefix (hot shingles,
    # posting size 60) + 10 unique tokens each → all in one length
    # band (22 tokens), near-zero true similarity between docs
    stop = " ".join(f"the{i}" for i in range(12))
    rows = [
        (i, stop + " " + " ".join(f"u{i}x{j}" for j in range(10)),
         "en", "s", 1)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "hotshingle")
    df.repartition(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )

    uncapped = _ngram_posting_join(spark, d, posting_cap=10**9).count()
    capped = _ngram_posting_join(spark, d, posting_cap=30).count()
    # the 10 hot shingles each cost 60·59/2 = 1770 rows uncapped
    assert uncapped >= 10 * 1770
    # with the cap, only the (disjoint) unique-token shingles remain
    # in postings — no two docs share one, so the join is empty
    assert capped == 0

    # and at the DEFAULT cap (postings of 60 < 256 are admitted) the
    # query output itself is unchanged semantics: no pair reaches the
    # 0.5 threshold because shared/hot shingles are a minority of
    # each doc's shingle set
    from irio2024_mapreduce_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    assert dedup_ngram_jaccard(spark, d).count() == 0


def test_embedding_block_cap_excludes_oversized_blocks(spark, sf_dir, monkeypatch):
    """dedup_embedding must drop a label block larger than
    PAIRWISE_BLOCK_CAP (all-pairs within a block is O(block²))."""
    import irio2024_mapreduce_spark.operators.dedup as dd

    baseline = dd.dedup_embedding(spark, sf_dir).count()
    assert baseline > 0
    # every label block at this SF exceeds a cap of 2 → no pairs
    monkeypatch.setattr(dd, "PAIRWISE_BLOCK_CAP", 2)
    assert dd.dedup_embedding(spark, sf_dir).count() == 0


def test_lowcard_block_cap_is_broadcast_not_shuffle(spark, sf_dir):
    """_cap_blocks_lowcard must admit rows via a BROADCAST join of the
    tiny block-size list — shuffling rows on a ~10-value block key
    would serialize a popular block into one task at 100 TB. Asserted
    on the helper's own plan (inside dedup_embedding the cap sits
    behind the pre-self-join localCheckpoint, invisible to explain)."""
    import contextlib
    import io

    from pyspark.sql import functions as F2

    from irio2024_mapreduce_spark.operators.dedup import (
        _cap_blocks_lowcard,
        dedup_embedding,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table_parallel

    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F2.col("embedding").alias("v")
    )

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    cap_plan = plan_of(_cap_blocks_lowcard(emb, ["label"], 1024))
    assert "BroadcastHashJoin" in cap_plan
    assert "SortMergeJoin" not in cap_plan

    # and the full query still has no sort-merge path anywhere
    assert "SortMergeJoin" not in plan_of(dedup_embedding(spark, sf_dir))


def test_cap_buckets_checkpoint_input_is_behavior_preserving(spark):
    """The checkpoint_input fast path in _cap_buckets is a pure
    materialization hint: admitted rows must be IDENTICAL with it on
    and off (including which buckets are dropped)."""
    from irio2024_mapreduce_spark.operators.dedup import _cap_buckets

    rows = spark.createDataFrame(
        [(b, i) for b in range(6) for i in range(b + 1)], ["bucket", "i"]
    )
    on = sorted(
        map(
            tuple,
            _cap_buckets(rows, ["bucket"], 3, checkpoint_input=True)
            .collect(),
        )
    )
    off = sorted(
        map(
            tuple,
            _cap_buckets(rows, ["bucket"], 3, checkpoint_input=False)
            .collect(),
        )
    )
    assert on == off
    # buckets 0..2 (sizes 1..3) admitted; 3..5 (sizes 4..6) dropped
    assert {b for b, _ in on} == {0, 1, 2}


def test_cc_rep_seeding_parity_with_member_graph(spark, sf_dir, monkeypatch):
    """The collapsed rep-graph propagation (CC_REP_SEEDING=True, the
    shipping form) and the legacy member-graph form must produce
    identical cluster histograms — the equivalence the A/B probe
    (tools/stress_cc_ivf.py) relies on, asserted here on real data."""
    from irio2024_mapreduce_spark.operators import chunking

    monkeypatch.setattr(chunking, "CC_REP_SEEDING", True)
    fast = sorted(map(tuple, chunking.dedup_clusters(spark, sf_dir).collect()))
    monkeypatch.setattr(chunking, "CC_REP_SEEDING", False)
    legacy = sorted(
        map(tuple, chunking.dedup_clusters(spark, sf_dir).collect())
    )
    assert fast == legacy and len(fast) > 0


def test_dedup_incremental_semantics(spark, sf_dir):
    """Beyond the oracle hash (tests/test_retired_twins.py): the
    verdicts must be consistent with the batch/corpus split — every
    batch doc gets exactly one verdict, an exact_dup really has a
    byte-twin in corpus-or-earlier-batch, and an admitted doc has
    neither a byte-twin there nor (cap-window) a >=0.5-Jaccard corpus
    rep — cross-checked against brute force on the uncapped pairs."""
    from irio2024_mapreduce_spark.operators.dedup import dedup_incremental
    from irio2024_mapreduce_spark.sources.tables import load_table

    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    batch_ids = sorted(i for i in docs if i % 10 == 9)
    assert sorted(verdicts) == batch_ids

    corpus_texts = {
        t for i, t in docs.items() if i % 10 != 9 and t is not None
    }
    seen_batch: set = set()
    for i in batch_ids:
        t = docs[i]
        is_exact = t is not None and (t in corpus_texts or t in seen_batch)
        if verdicts[i] == "exact_dup":
            assert is_exact, i
        else:
            assert not is_exact, i
        if t is not None:
            seen_batch.add(t)

    def shingles(t):
        toks = t.split(" ")
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[k : k + 3]) for k in range(n)}

    def band(t):
        return len(t.split(" ")) // 8

    # Precision direction (always valid: the capped posting join can
    # only UNDERCOUNT intersections, so a near_dup verdict implies a
    # true same-band Jaccard >= 0.5). Recall direction is checked
    # within the same length band only: banding is the documented
    # recall trade (a 0.9-Jaccard pair whose lengths straddle a
    # div-8 boundary is never a candidate, exactly like
    # dedup_ngram_jaccard).
    corpus_by_band: dict = {}
    for t in corpus_texts:
        corpus_by_band.setdefault(band(t), []).append(shingles(t))
    for i in batch_ids:
        t = docs[i]
        if t is None:
            assert verdicts[i] == "admitted", i
            continue
        s = shingles(t)
        best = max(
            (
                len(s & c) / len(s | c)
                for c in corpus_by_band.get(band(t), [])
            ),
            default=0.0,
        )
        if verdicts[i] == "near_dup":
            assert round(best, 6) >= 0.5, (i, best)
        elif verdicts[i] == "admitted":
            assert round(best, 6) < 0.5, (i, best)


def test_dedup_incremental_index_backed_parity(spark, sf_dir, tmp_path):
    """The index-backed path (corpus md5 set + postings materialized
    to parquet at 'ingest time', as production would) must produce
    verdicts identical to the on-the-fly form."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.dedup import (
        _incremental_verdicts,
        corpus_index_hashes,
        corpus_index_postings,
        dedup_incremental,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)

    hp = str(tmp_path / "idx_hashes")
    pp = str(tmp_path / "idx_postings")
    corpus_index_hashes(corpus).write.mode("overwrite").parquet(hp)
    corpus_index_postings(corpus).write.mode("overwrite").parquet(pp)

    via_index = sorted(
        map(
            tuple,
            _incremental_verdicts(
                batch, spark.read.parquet(hp), spark.read.parquet(pp)
            ).collect(),
        )
    )
    on_the_fly = sorted(
        map(tuple, dedup_incremental(spark, sf_dir).collect())
    )
    assert via_index == on_the_fly and len(via_index) > 0


def test_dedup_incremental_null_text_admits(spark):
    """NULL-text rows admit (md5(NULL) is NULL; NULL = NULL joins
    false in both engines) — the fixture has no NULL texts, so this
    crafted frame is the only executable witness of the documented
    behavior, on both the batch and corpus sides at once."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _incremental_verdicts,
        corpus_index_hashes,
        corpus_index_postings,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, None)], schema
    )
    batch = spark.createDataFrame(
        [
            (19, "a b c d e f g h i j"),  # exact dup of corpus 1
            (29, None),                   # NULL: must admit
            (39, None),                   # second NULL: not a "dup" of 29
            (49, "x y z w v u t s r q"),  # novel: admits
        ],
        schema,
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in _incremental_verdicts(
            batch, corpus_index_hashes(corpus), corpus_index_postings(corpus)
        ).collect()
    }
    assert got == {
        19: "exact_dup",
        29: "admitted",
        39: "admitted",
        49: "admitted",
    }


def test_dedup_incremental_lsh_semantics(spark, sf_dir):
    """LSH-family incremental verdicts: exact verdicts must equal the
    n-gram path's (identical md5 stage); near_dup has precision 1 by
    construction (candidates verify TRUE Jaccard >= 0.5 against a
    corpus rep); recall vs the brute-force >=0.5 set is bounded by
    8x4 banding and must clear the measured floor."""
    from irio2024_mapreduce_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_lsh,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    lsh = {
        r["doc_id"]: r["verdict"]
        for r in dedup_incremental_lsh(spark, sf_dir).collect()
    }
    ngram = {
        r["doc_id"]: r["verdict"]
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    assert sorted(lsh) == sorted(ngram)
    assert {i for i, v in lsh.items() if v == "exact_dup"} == {
        i for i, v in ngram.items() if v == "exact_dup"
    }

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def shingles(t):
        toks = t.split(" ")
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[k : k + 3]) for k in range(n)}

    corpus_sh = [
        shingles(t) for i, t in docs.items() if i % 10 != 9 and t is not None
    ]
    true_near = set()
    for i, v in lsh.items():
        if v == "exact_dup" or docs[i] is None:
            continue
        s = shingles(docs[i])
        best = max(
            (len(s & c) / len(s | c) for c in corpus_sh), default=0.0
        )
        if round(best, 6) >= 0.5:
            true_near.add(i)
        # precision: a near_dup verdict implies a true >=0.5 rep
        if v == "near_dup":
            assert round(best, 6) >= 0.5, (i, best)
    flagged = {i for i, v in lsh.items() if v == "near_dup"}
    assert flagged <= true_near
    if true_near:
        recall = len(flagged) / len(true_near)
        assert recall >= 0.5, (recall, len(true_near))


def test_dedup_incremental_lsh_index_backed_parity(spark, sf_dir, tmp_path):
    """Stored-index LSH path (band rows + rep shingles materialized
    to parquet at 'ingest time') must produce verdicts identical to
    the on-the-fly form."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.dedup import (
        _incremental_lsh_verdicts,
        corpus_index_bands,
        corpus_index_hashes,
        corpus_index_rep_shingles,
        dedup_incremental_lsh,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)

    hp = str(tmp_path / "idx_hashes")
    bp = str(tmp_path / "idx_bands")
    sp = str(tmp_path / "idx_shingles")
    corpus_index_hashes(corpus).write.mode("overwrite").parquet(hp)
    corpus_index_bands(corpus).write.mode("overwrite").parquet(bp)
    corpus_index_rep_shingles(corpus).write.mode("overwrite").parquet(sp)

    via_index = sorted(
        map(
            tuple,
            _incremental_lsh_verdicts(
                batch,
                spark.read.parquet(hp),
                spark.read.parquet(bp),
                spark.read.parquet(sp),
            ).collect(),
        )
    )
    on_the_fly = sorted(
        map(tuple, dedup_incremental_lsh(spark, sf_dir).collect())
    )
    assert via_index == on_the_fly and len(via_index) > 0


def test_dedup_incremental_lsh_null_text_admits(spark):
    """NULL-text rows admit through the LSH path too: NULL shingles
    concat_ws to a shared band hash (NULL batch docs DO meet NULL
    corpus reps as candidates), but the Jaccard verify is NULL and
    the filter drops it — the verify stage is what makes the
    banding's NULL collision harmless."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _incremental_lsh_verdicts,
        corpus_index_bands,
        corpus_index_hashes,
        corpus_index_rep_shingles,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, None)], schema
    )
    batch = spark.createDataFrame(
        [
            (19, "a b c d e f g h i j"),  # exact dup of corpus 1
            (29, None),                   # NULL: must admit
            (39, "a b c d e f g h i j k"),  # near dup of corpus 1
            (49, "x y z w v u t s r q"),  # novel: admits
        ],
        schema,
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in _incremental_lsh_verdicts(
            batch,
            corpus_index_hashes(corpus),
            corpus_index_bands(corpus),
            corpus_index_rep_shingles(corpus),
        ).collect()
    }
    assert got[19] == "exact_dup"
    assert got[29] == "admitted"
    assert got[49] == "admitted"
    # 39 vs corpus 1: shingle sets of
    # the 10-token vs 11-token texts share all 8 of the shorter's
    # 3-grams: J = 8/9 >= 0.5 — and an 8/9-Jaccard pair is near-
    # certain under 8x4 banding (p = 1-(1-(8/9)^4)^8 ≈ 0.9998)
    assert got[39] == "near_dup"


def test_collapse_reps_reused_doc_id_keeps_one_rep_per_hash(spark):
    """A doc_id reused across two texts must not bring a second
    representative for one hash: the winner attach matches on
    (doc_id, _h), not doc_id alone. Doc 5 wins the 'a b c d' group
    but its other row ('x y z w') loses to doc 3, and the NULL-text
    group keeps its min doc_id."""
    from irio2024_mapreduce_spark.operators.dedup import (
        _collapse_reps,
        corpus_index_postings,
    )

    docs = spark.createDataFrame(
        [
            (3, "x y z w"),
            (5, "a b c d"),
            (5, "x y z w"),
            (7, "a b c d"),
            (9, None),
            (11, None),
        ],
        "doc_id long, text string",
    )
    reps = {
        (r["doc_id"], r["text"])
        for r in _collapse_reps(docs, F.md5("text")).collect()
    }
    assert reps == {(3, "x y z w"), (5, "a b c d"), (9, None)}
    owners = {
        r["doc_id"]
        for r in corpus_index_postings(docs)
        .filter(F.col("sh") == "x y z")
        .collect()
    }
    assert owners == {3}
