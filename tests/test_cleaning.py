"""Day-0 / day-N parity of the shared cleaning chain: a pool cleaned by
``prepare_corpus`` and the same pool delivered as one ``ingest_batch``
against an index holding one unrelated doc must charge every doc to
the same outcome and ship the same rows."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from irio2024_mapreduce_spark.plans.corpus_prep import prepare_corpus
from irio2024_mapreduce_spark.plans.ingest import (
    build_corpus_index,
    ingest_batch,
)

TEXTS = {
    # clean survivors (>= 10 tokens, distinct vocab, stopwords)
    0: "please mail bob@example.org about the harbor tour planned for the coming spring weekend",
    1: "the market opened early as vendors arranged fresh fruit along the wooden stalls before sunrise",
    2: "the alpha river bends near stone bridges where tall cranes watch silver fish swim past quickly",
    9: "the gardeners planted rows of tomatoes beside yellow peppers during warm spring afternoons yesterday",
    10: "the committee reviewed seventeen proposals concerning urban transit budgets submitted by regional planners",
    13: "the observatory recorded unusual meteor activity above northern valleys throughout late august evenings",
    # funnel rejects, one per rule
    3: None,
    4: "the cat sat",
    5: " ".join(["the"] * 20),
    6: "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    # 13 contiguous tokens of benchmark doc 8
    7: "notes say the quick brown fox jumps over a lazy dog while seven wizards brew things",
    # benchmark stripe
    8: "the quick brown fox jumps over a lazy dog while seven wizards brew strong coffee under bright morning light today",
    18: "evaluation question eighteen asks about the ancient harbors and trade routes common in old history",
    # exact copies of 1 and 0, a near copy of 2 and a near copy of 9
    11: "the market opened early as vendors arranged fresh fruit along the wooden stalls before sunrise",
    14: "please mail bob@example.org about the harbor tour planned for the coming spring weekend",
    12: "the alpha river bends near stone bridges where tall cranes watch silver fish swim past slowly",
    15: "the gardeners planted rows of tomatoes beside yellow peppers during warm spring afternoons today",
}
UNRELATED = (
    "a lighthouse keeper painted weathered railings while gulls circled "
    "above breaking waves near the cliffs"
)
COUNTERS = (
    "killed_null_text",
    "killed_too_short",
    "killed_too_repetitive",
    "killed_no_stopwords",
    "contaminated_removed",
)


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, TEXTS[i], "en", "src0", len(TEXTS[i] or "")) for i in ids],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )


def _shipped(spark, corpus_dir):
    return {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            os.path.join(corpus_dir, "clean_documents.parquet")
        )
        .select("doc_id", "text")
        .collect()
    }


@pytest.mark.parametrize("family", ["ngram", "lsh"])
def test_prepare_and_ingest_clean_alike(spark, tmp_path, family):
    ids = sorted(TEXTS)
    fx = tmp_path / "fx"
    fx.mkdir()
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": [TEXTS[i] for i in ids],
            "lang": ["en"] * len(ids),
            "source": ["src0"] * len(ids),
            "n_chars": [len(TEXTS[i] or "") for i in ids],
        }
    ).to_parquet(fx / "documents.parquet")
    day0 = prepare_corpus(
        spark, str(fx), str(tmp_path / "out0"),
        index_dir=str(tmp_path / "idx0"), near_family=family,
    )

    bench_ids = [i for i in ids if i % 10 == 8]
    pool_ids = [i for i in ids if i % 10 != 8]
    seed = spark.createDataFrame(
        [(1000, UNRELATED, "en", "src0", len(UNRELATED))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    build_corpus_index(
        spark, seed, str(tmp_path / "idx1"), family=family,
        benchmark=_docs(spark, bench_ids),
    )
    dayn = ingest_batch(
        spark, _docs(spark, pool_ids), str(tmp_path / "idx1"),
        str(tmp_path / "out1"), family=family,
    )

    # the corpus is built so every stage fires (LSH recall is an
    # S-curve, so only one near copy is certain under it)
    assert day0["exact_dups_removed"] == 2
    assert day0["near_dups_removed"] >= 1
    assert all(day0[k] == 1 for k in COUNTERS)
    assert dayn["exact_dups"] == day0["exact_dups_removed"]
    assert dayn["near_dups"] == day0["near_dups_removed"]
    assert {k: dayn[k] for k in COUNTERS} == {k: day0[k] for k in COUNTERS}
    assert dayn["appended"] == day0["docs_out"]
    assert _shipped(spark, str(tmp_path / "out1")) == _shipped(
        spark, str(tmp_path / "out0")
    )


def test_bad_prep_arguments_fail_before_any_work(spark, tmp_path):
    """An unknown near family (case matters) and quarantine_leaks
    without holdout_split are refused up front: nothing is written."""
    fx = tmp_path / "fx"
    fx.mkdir()
    pd.DataFrame(
        {"doc_id": [0, 1], "text": [TEXTS[0], TEXTS[1]],
         "lang": ["en"] * 2, "source": ["src0"] * 2,
         "n_chars": [len(TEXTS[0]), len(TEXTS[1])]}
    ).to_parquet(fx / "documents.parquet")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="near_family"):
        prepare_corpus(
            spark, str(fx), str(out), index_dir=str(tmp_path / "idx"),
            near_family="LSH",
        )
    with pytest.raises(ValueError, match="holdout_split"):
        prepare_corpus(spark, str(fx), str(out), quarantine_leaks=True)
    assert not (out / "clean_documents.parquet").exists()


def test_near_dup_kill_ids_rejects_unknown_family(spark):
    from irio2024_mapreduce_spark.operators.dedup import near_dup_kill_ids

    with pytest.raises(ValueError, match="family"):
        near_dup_kill_ids(_docs(spark, [0, 1]), family="LSH")
    # both known families still build a plan
    for fam in ("ngram", "lsh"):
        assert near_dup_kill_ids(
            _docs(spark, [0, 1]), family=fam
        ).columns == ["doc_id"]
