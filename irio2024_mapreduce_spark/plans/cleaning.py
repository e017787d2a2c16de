"""The cleaning chain shared by day-0 ``plans.corpus_prep`` and day-N
``plans.ingest``. Both hand it their exact-collapsed docs (prep: the
``_collapse_reps`` survivors plus the NULL-text rows; ingest: the
batch docs the stored-index probe admitted) and run the same stages,
in this order:

1. **near dedup** — the keep-first 3-gram-Jaccard ≥ 0.5 kill set of
   ``dedup.near_dup_kill_ids`` (``family`` "ngram": posting join;
   "lsh": MinHash bands + true-Jaccard verify). Kills are charged to
   ``near_dups``.
2. **quality funnel** — ``funnel_verdict`` first-failing-rule tag;
   only 'pass' docs survive, each kill is charged to its rule's
   ``killed_*`` counter.
3. **decontamination** — ``llm_prep.contaminated_ids`` against the
   held-out benchmark's 13-gram digest set
   (``llm_prep.benchmark_ngram_digests``; prep computes it from the
   benchmark stripe, ingest reads the copy stored in its index). It
   runs on RAW text, the bytes the benchmark side grams over, before
   the scrubber rewrites anything. Skipped when there is no digest
   set (an index built without a benchmark).
4. **PII scrub** — ``scrub_text``'s chained regexp_replace; ``text``
   becomes the scrubbed text and ``n_chars`` is recomputed from it, so
   the shipped length column describes the shipped bytes.

The raw survivors of stage 3 feed the dedup index (tomorrow's
duplicates carry raw bytes); the scrubbed frame is what ships. Every
doc in is charged to exactly one counter or survives.

Scale shape: stage 1 is the capped posting self-join (or the band
join), stage 2 is map-only plus one tiny aggregate, stage 3 is a
broadcast semi-join probe (the training side never shuffles), stage 4
is map-only. The kill sets and the raw survivors are lazily
materialized once (``localCheckpoint``): the survivors feed both the
scrub and the index writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import near_dup_kill_ids
from irio2024_mapreduce_spark.operators.llm_prep import (
    contaminated_ids,
    scrub_text,
)
from irio2024_mapreduce_spark.operators.text_analysis import (
    FUNNEL_RULES,
    funnel_verdict,
)


def clean_docs(
    docs: DataFrame, family: str, bench_grams: DataFrame | None
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """Run the chain (module docstring) over ``docs``. Returns the raw
    survivors, the scrubbed survivors and the counters ``near_dups``,
    ``killed_<rule>`` for each funnel rule and
    ``contaminated_removed``."""
    near_kills = near_dup_kill_ids(docs, family=family).localCheckpoint(
        eager=False
    )
    counts = {"near_dups": near_kills.count()}
    tagged = docs.join(near_kills, "doc_id", "anti").withColumn(
        "_verdict", funnel_verdict()
    )
    tally = {
        r["_verdict"]: r["cnt"]
        for r in tagged.groupBy("_verdict")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    counts.update({f"killed_{k}": tally.get(k, 0) for k in FUNNEL_RULES})
    survivors = tagged.filter(F.col("_verdict") == "pass").drop("_verdict")
    counts["contaminated_removed"] = 0
    if bench_grams is not None:
        contam = contaminated_ids(survivors, bench_grams).localCheckpoint(
            eager=False
        )
        counts["contaminated_removed"] = contam.count()
        survivors = survivors.join(contam, "doc_id", "anti")
    survivors = survivors.localCheckpoint(eager=False)
    cleaned = scrub_text(survivors).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias(
            "n_redactions"
        ),
        F.length("clean_text").cast("long").alias("n_chars"),
        *[
            c
            for c in survivors.columns
            if c not in ("doc_id", "text", "n_chars")
        ],
    )
    return survivors, cleaned, counts
