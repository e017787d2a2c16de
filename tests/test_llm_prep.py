"""Semantic tests for the LLM-prep operators (PII scrubbing and
sequence packing). The corpus-level oracle-hash check lives in
tests/test_query_battery.py; these tests pin the SEMANTICS (crafted
PII actually redacts; packing obeys the concatenate-then-chunk
invariants) and the plan shapes that carry the operators to 100 TB.
"""

from __future__ import annotations

import contextlib
import io

from irio2024_mapreduce_spark.operators.llm_prep import (
    PACK_MAX_TOKENS,
    SPLIT_TEST_HEX,
    SPLIT_TEST_HEX_EN,
    SPLIT_VAL_HEX,
    SPLIT_VAL_HEX_EN,
    _assign,
    _keyed_tokens,
    corpus_split,
    pack_sequences,
    pii_scrub,
    scrub_text,
    split_docs,
)


def test_scrub_text_redacts_crafted_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+x@example.co.uk or call 555-867 5309"),
            (2, "server at 192.168.0.1 and 10.0.0.255 responded"),
            (3, "dial 415-555-0123 after 9am"),
            (4, "no pii here,\tjust\n whitespace   mess"),
            (5, "a@b.io then 1.2.3.4 then 123-456-7890"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in scrub_text(df).collect()
    }
    assert rows[1]["n_emails"] == 1
    assert "<EMAIL>" in rows[1]["clean_text"]
    assert "jane.doe" not in rows[1]["clean_text"]
    # "555-867 5309" does not match ddd[- ]ddd[- ]dddd?  It does:
    # 555-867 5309 → separator set is [- ] for both gaps
    assert rows[1]["n_phones"] == 1

    assert rows[2]["n_ips"] == 2
    assert rows[2]["clean_text"].count("<IP>") == 2

    assert rows[3]["n_phones"] == 1
    assert "<PHONE>" in rows[3]["clean_text"]

    assert rows[4]["n_emails"] == rows[4]["n_ips"] == rows[4]["n_phones"] == 0
    assert rows[4]["clean_text"] == "no pii here, just whitespace mess"

    # one of each; counts stay per-category, no double-count
    assert (
        rows[5]["n_emails"],
        rows[5]["n_ips"],
        rows[5]["n_phones"],
    ) == (1, 1, 1)
    assert rows[5]["clean_text"] == "<EMAIL> then <IP> then <PHONE>"


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_pii_scrub_is_map_only(spark, sf_dir):
    assert "Exchange" not in _plan_of(pii_scrub(spark, sf_dir))


def test_pack_sequences_invariants(spark, sf_dir):
    rows = pack_sequences(spark, sf_dir).collect()
    assert rows
    by_off = sorted(rows, key=lambda r: r["seq_offset"])
    # offsets tile the token stream exactly: each doc starts where
    # the previous one ended, starting at 0
    expect = 0
    for r in by_off:
        assert r["seq_offset"] == expect
        expect += r["n_tokens"]
    # pack assignment is offset div N; boundary flag is exact
    for r in by_off:
        assert r["pack_id"] == r["seq_offset"] // PACK_MAX_TOKENS
        end = r["seq_offset"] + r["n_tokens"] - 1
        assert r["spans_boundary"] == int(
            end // PACK_MAX_TOKENS != r["pack_id"]
        )
    # every pack except the last is fully covered (concatenate-then-
    # chunk leaves no gaps): total tokens span all pack boundaries
    n_packs = max(r["pack_id"] for r in by_off) + 1
    assert n_packs == (expect + PACK_MAX_TOKENS - 1) // PACK_MAX_TOKENS


def _pack_sequences_naive(spark, sf_dir):
    """Single-partition reference form of ``pack_sequences``: one
    global running sum (Exchange SinglePartition — correct,
    unscalable)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("shuffle_key", "doc_id")
    cum = _keyed_tokens(docs).withColumn("cum", F.sum("n_tokens").over(w))
    return _assign(
        cum.select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("seq_offset"),
        )
    )


def test_pack_distributed_equals_naive(spark, sf_dir):
    a = sorted(map(tuple, pack_sequences(spark, sf_dir).collect()))
    b = sorted(map(tuple, _pack_sequences_naive(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_pack_sequences_plan_has_no_big_single_partition_sort(
    spark, sf_dir
):
    """The corpus-side prefix sum must be range-partitioned local
    scans + a broadcast of the tiny offset table — the naive form's
    whole-corpus Exchange SinglePartition must not appear on the
    corpus branch. (The offsets branch legitimately single-partitions
    its n_partitions-row aggregate.)"""
    plan = _plan_of(pack_sequences(spark, sf_dir))
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # corpus branch: the scan feeding the range partitioner must not
    # flow into a SinglePartition exchange before the window — the
    # naive plan puts EVERY row through one; here only the per-pid
    # aggregate (bounded rows) may. Count occurrences: exactly one
    # SinglePartition exchange (the offsets branch), not two.
    assert plan.count("SinglePartition") <= 1


def test_source_mix_semantics(spark, sf_dir):
    from irio2024_mapreduce_spark.operators.llm_prep import source_mix

    rows = {r["source"]: r for r in source_mix(spark, sf_dir).collect()}
    assert len(rows) == 20
    for src, r in rows.items():
        idx = int(src[3:])
        w = {0: 2.25, 1: 1.0, 2: 0.5, 3: 0.25}[min(idx // 5, 3)]
        # realized rate approximates the target weight; the hash
        # slice has binomial noise, so allow a wide-but-meaningful
        # band (docs_in is 25-ish at sf0.01, ~250 at sf0.1)
        rate = r["rate_x10k"] / 10_000
        assert abs(rate - w) <= 0.35, (src, rate, w)
        # structural exactness, not statistical: whole copies are
        # guaranteed, fractional part adds at most one more
        assert r["docs_kept"] <= r["docs_in"]
        low, high = int(w) * r["docs_in"], (int(w) + 1) * r["docs_in"]
        assert low <= r["rows_out"] <= high
    # pass-through band is EXACT
    for i in range(5, 10):
        r = rows[f"src{i}"]
        assert r["rows_out"] == r["docs_in"] == r["docs_kept"]
        assert r["rate_x10k"] == 10_000


def test_source_mix_deterministic(spark, sf_dir):
    from irio2024_mapreduce_spark.operators.llm_prep import source_mix

    a = sorted(map(tuple, source_mix(spark, sf_dir).collect()))
    b = sorted(map(tuple, source_mix(spark, sf_dir).collect()))
    assert a == b


def test_decontaminate_flags_13gram_overlap(spark, tmp_path):
    """Crafted roles: a training doc that embeds a benchmark doc's
    13-gram verbatim is contaminated; a doc sharing only a 12-gram
    prefix is NOT (the rule is exactly n=13); disjoint docs are
    clean."""
    import os

    from irio2024_mapreduce_spark.operators.llm_prep import decontaminate

    bench_phrase = " ".join(f"q{i}" for i in range(13))
    twelve = " ".join(f"q{i}" for i in range(12))
    docs = [
        # benchmark stripe (doc_id % 10 == 8)
        (8, "intro " + bench_phrase + " outro", "en", "bench", 1),
        # training: embeds the full 13-gram -> contaminated
        (1, "pad1 pad2 " + bench_phrase + " tail", "en", "srcA", 1),
        # training: only 12 of the 13 tokens -> clean
        (2, "pad " + twelve + " different tail words here", "en", "srcA", 1),
        # training: disjoint -> clean
        (3, " ".join(f"z{i}" for i in range(20)), "en", "srcB", 1),
    ]
    sf = str(tmp_path / "decon_sf")
    os.makedirs(sf)
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    got = {r["source"]: r for r in decontaminate(spark, sf).collect()}
    assert got["srcA"]["n_train_docs"] == 2
    assert got["srcA"]["n_contaminated"] == 1
    assert got["srcA"]["n_clean"] == 1
    assert got["srcB"]["n_contaminated"] == 0
    assert got["srcB"]["n_clean"] == 1


def test_importance_resample_crafted_selection(spark, tmp_path):
    """DSIR-style selection on a crafted corpus with an unambiguous
    answer: the target stripe (doc_id % 10 == 7) speaks 'ml ai'
    vocabulary; raw docs sharing it must be admitted, raw docs in
    disjoint vocabulary rejected, and the report's counts/rates are
    hand-computable."""
    import os

    from irio2024_mapreduce_spark.operators.llm_prep import (
        importance_resample,
    )

    rows = [
        # target sample: defines the desired distribution
        (7, "ml ai ml ai ml ai", "srcT"),
        (17, "ml ai model train", "srcT"),
        # raw pool, source A: target-like vocabulary
        (1, "ml ai ml model", "srcA"),
        (2, "ai train ml model", "srcA"),
        # raw pool, source B: disjoint vocabulary
        (3, "cat dog fish bird", "srcB"),
        (4, "apple pear plum fig", "srcB"),
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(os.path.join(stage, "documents.parquet"))

    got = {
        r["source"]: r.asDict()
        for r in importance_resample(spark, stage).collect()
    }
    # srcT never appears: the target stripe is not scored
    assert sorted(got) == ["srcA", "srcB"]
    assert got["srcA"]["docs_in"] == 2
    assert got["srcB"]["docs_in"] == 2
    # every srcA token lives in target-heavy buckets → admitted;
    # srcB's vocabulary only ever picks up smoothing mass → rejected
    assert got["srcA"]["docs_admitted"] == 2
    assert got["srcB"]["docs_admitted"] == 0
    assert got["srcA"]["admit_rate_x10k"] == 10_000
    assert got["srcB"]["admit_rate_x10k"] == 0
    assert got["srcA"]["avg_score_x10k"] > got["srcB"]["avg_score_x10k"]


def test_mix_docs_matches_source_mix_summary(spark, sf_dir):
    """The materialization (mix_docs explode) and the report
    (source_mix aggregate) must describe the same mixture exactly."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.llm_prep import (
        mix_docs,
        source_mix,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    mixed = mix_docs(load_table(spark, sf_dir, "documents"))
    per_src = {
        r["source"]: (r["rows"], r["docs"])
        for r in mixed.groupBy("source")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
        )
        .collect()
    }
    for r in source_mix(spark, sf_dir).collect():
        got = per_src.get(r["source"], (0, 0))
        assert got == (r["rows_out"], r["docs_kept"]), r["source"]


def _expected_split(doc_id, lang):
    import hashlib

    key = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
    t = SPLIT_TEST_HEX_EN if lang == "en" else SPLIT_TEST_HEX
    v = SPLIT_VAL_HEX_EN if lang == "en" else SPLIT_VAL_HEX
    return "test" if key < t else ("val" if key < v else "train")


def test_split_docs_is_content_addressed_and_map_only(spark, sf_dir):
    """Every doc's split must equal the pure md5(doc_id) function —
    determinism across runs/partitionings/engines follows — and the
    tagging itself must add zero shuffles."""
    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in _plan_of(split_docs(docs))
    tagged = split_docs(docs.repartition(7)).select(
        "doc_id", "lang", "split"
    )
    rows = tagged.collect()
    assert rows
    for r in rows:
        assert r["split"] == _expected_split(r["doc_id"], r["lang"]), r


def test_split_is_stable_under_corpus_growth(spark, sf_dir):
    """A doc's split must not depend on what else is in the corpus:
    splitting a subset assigns exactly what splitting the full corpus
    assigns (the append-stability property a rank-based split lacks)."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        r["doc_id"]: r["split"]
        for r in split_docs(docs).select("doc_id", "split").collect()
    }
    subset = split_docs(docs.filter(F.col("doc_id") % 3 == 0))
    for r in subset.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]


def test_corpus_split_matches_materialization(spark, sf_dir):
    """The report (corpus_split) and the materialization (split_docs)
    must describe the same assignment, and splits must partition the
    corpus (disjoint + exhaustive by construction of the CASE)."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tagged = split_docs(docs)
    assert tagged.count() == docs.count()
    mat = {
        (r["lang"], r["split"]): (r["docs"], r["chars"])
        for r in tagged.groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .collect()
    }
    rep = corpus_split(spark, sf_dir).collect()
    assert {(r["lang"], r["split"]): (r["docs"], r["chars"]) for r in rep} == mat
    # per-lang shares sum to exactly 10000 ± the integer-floor slack
    by_lang = {}
    for r in rep:
        by_lang.setdefault(r["lang"], []).append(r["share_x10k"])
    for lang, shares in by_lang.items():
        assert 10000 - len(shares) < sum(shares) <= 10000, (lang, shares)


def test_split_leakage_crafted_roles(spark, tmp_path):
    """Engineered corpus, three planted leaks:

    * an identical text on both sides of test|train → ONE exact pair;
    * a high-Jaccard (not identical) pair straddling train|val → ONE
      near pair;
    * the collapsed-rep trap: eval doc A and train doc B share bytes
      (one digest group, rep = B on the train side), and train doc C
      is a near-dup of that text — the rep-level pair is train|train,
      but the MEMBER-level expansion must still surface A↔C as ONE
      near test|train pair (plus A↔B as a second exact test|train).

    Every other cell stays zero."""
    import os

    from irio2024_mapreduce_spark.operators.llm_prep import split_leakage

    def pick(split, start=0):
        i = start
        while _expected_split(i, "xx") != split:
            i += 1
        return i

    id_train_a = pick("train")
    id_test = pick("test")
    id_train_b = pick("train", id_train_a + 1)
    id_val = pick("val")
    id_train_c = pick("train", id_train_b + 1)
    # picked AFTER id_train_c with a higher floor, so the digest
    # group's rep (min id) is guaranteed to be the train doc
    id_test2 = pick("test", max(id_test, id_train_c) + 1)
    id_train_d = pick("train", id_train_c + 1)

    same = "the quick brown fox jumps over the lazy dog again and again"
    base = [f"w{i}" for i in range(40)]
    near_a = " ".join(base)
    near_b = " ".join(base[:36] + ["z1", "z2", "z3", "z4"])
    # collapsed-rep trio: disjoint vocab from base so no accidental
    # cross-pairs (same 40-token len band, all-pairs compared there)
    trio = [f"q{i}" for i in range(40)]
    same_x = " ".join(trio)
    near_c = " ".join(trio[:36] + ["y1", "y2", "y3", "y4"])
    rows = [
        (id_train_a, same),
        (id_test, same),
        (id_train_b, near_a),
        (id_val, near_b),
        # trap: rep(min id) of the same_x group is the TRAIN doc
        (id_train_c, same_x),
        (id_test2, same_x),
        (id_train_d, near_c),
    ]
    assert id_train_c < id_test2  # the rep must sit train-side
    sf = str(tmp_path / "leak_sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(i, t, "xx", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    got = {
        (r["kind"], r["split_pair"]): r["n_pairs"]
        for r in split_leakage(spark, sf).collect()
    }
    assert len(got) == 6
    assert got[("exact", "test|train")] == 2
    assert got[("near", "train|val")] == 1
    assert got[("near", "test|train")] == 1
    for k, v in got.items():
        if k not in {
            ("exact", "test|train"),
            ("near", "train|val"),
            ("near", "test|train"),
        }:
            assert v == 0, (k, v)
