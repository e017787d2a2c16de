"""Physical-plan shape assertions — the 100 TB contract.

Correct rows at sf0.01 can still come from a plan that collapses at
scale; these tests pin the plan properties that matter: predicate
pushdown reaching parquet, column pruning, broadcast joins staying
broadcast, top-k staying TakeOrdered (never a global sort), and
aggregates keeping their map-side partial phase.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from irio2024_mapreduce_spark.operators.relational import (
    agg_groupby,
    agg_rollup,
    filter_project,
    join_broadcast,
    sort_limit_topk,
)
from irio2024_mapreduce_spark.operators.similarity import similarity_topk
from irio2024_mapreduce_spark.registry import wordcount_query


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_project_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(filter_project(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "l_discount" in plan.split("PushedFilters:")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    # only the 5 referenced columns reach the scan — not all 11
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema and "l_tax" not in read_schema


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = plan_of(join_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_never_global_sorts(spark, sf_dir):
    plan = plan_of(sort_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # no Exchange rangepartitioning = no global sort
    assert "rangepartitioning" not in plan.lower()


def test_aggregates_have_partial_phase(spark, sf_dir):
    plan = plan_of(agg_groupby(spark, sf_dir), mode="simple")
    # partial (map-side) + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan


def test_wordcount_partial_agg(spark, sf_dir):
    plan = plan_of(wordcount_query(spark, sf_dir), mode="simple")
    assert plan.count("HashAggregate") >= 2


def test_rollup_uses_expand(spark, sf_dir):
    plan = plan_of(agg_rollup(spark, sf_dir), mode="simple")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan  # nation dim broadcast


def test_similarity_broadcasts_queries_not_corpus(spark, sf_dir):
    plan = plan_of(similarity_topk(spark, sf_dir), mode="simple")
    assert "Broadcast" in plan  # query side broadcast; corpus streams


def test_stats_pack_quantile_window_is_bucket_bounded(spark, sf_dir):
    from irio2024_mapreduce_spark.operators.advanced import stats_pack

    plan = plan_of(stats_pack(spark, sf_dir), mode="extended")
    optimized = plan.split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]
    # the row-level ranking window must partition by (flag, bucket, ...),
    # never by the ~3-value flag alone — that would sort the whole fact
    # table in 3 tasks at 100 TB
    rn_lines = [ln for ln in optimized.splitlines() if "row_number()" in ln]
    assert rn_lines, "expected a row_number window in the plan"
    for ln in rn_lines:
        spec = ln.split("windowspecdefinition(")[1]
        assert " b#" in spec or spec.startswith("b#") or ", b#" in ln, ln


def test_minhash_candidates_materialize_pipeline_once(spark, sf_dir):
    """The band self-join must read ONE materialized candidate frame
    (Scan ExistingRDD from the pre-join localCheckpoint) — without it
    both join sides instantiate the whole signature pipeline (K
    minhashes per shingle) as separate parquet-scan subtrees."""
    from irio2024_mapreduce_spark.operators.dedup import dedup_near

    import re

    df = dedup_near(spark, sf_dir)
    # simple mode: one line per node (formatted lists nodes twice)
    plan = plan_of(df, mode="simple")
    # candidate pipeline is behind the checkpoint on BOTH join sides
    assert plan.count("Scan ExistingRDD") == 2, plan
    # the only parquet scan left is the verify side's raw-text read
    assert plan.count("FileScan parquet") == 1, plan
    # ...and both references point at the SAME materialized RDD
    # (formatted mode carries the RDD id in the node arguments)
    detailed = plan_of(df, mode="formatted")
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[\d+\]", detailed))
    assert len(rdd_ids) == 1, rdd_ids


def test_json_extract_parses_once(spark, sf_dir):
    from irio2024_mapreduce_spark.operators.json_array import json_extract

    plan = plan_of(json_extract(spark, sf_dir), mode="extended")
    optimized = plan.split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]
    # one from_json per row — a second parse of the same column would
    # double the dominant per-row cost at 100 TB
    assert optimized.count("from_json") == 1


def test_ivf_corpus_assignment_is_map_only_broadcast(spark, sf_dir):
    """similarity_ivf's corpus-scale work must be shuffle-free: the
    centroid attach is a broadcast of ONE collected row (plans as
    BroadcastNestedLoopJoin), the probe join broadcasts the tiny
    (query, cell) frame (BroadcastHashJoin), and the corpus is never
    sort-merge-joined or cartesian-producted — the only corpus
    exchange allowed is the final per-query top-k window."""
    from irio2024_mapreduce_spark.operators.similarity import similarity_ivf

    plan = plan_of(similarity_ivf(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid attach
    assert "BroadcastHashJoin" in plan  # probe cells join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_count_minmax_push_into_parquet_footer(spark, sf_dir):
    """spark.sql.parquet.aggregatePushdown only engages on the
    DataSource V2 parquet path (parquet defaults to V1 via
    useV1SourceList) — prove that with V2 enabled, COUNT/MIN/MAX over
    a raw parquet scan are answered from footer statistics
    (PushedAggregation in the scan node), never by scanning rows, and
    that the answers match the row-scanned V1 plan."""
    path = f"{sf_dir}/lineitem.parquet"

    def q():
        return spark.read.parquet(path).agg(
            {"l_quantity": "min", "l_extendedprice": "max", "*": "count"}
        )

    v1_rows = sorted(map(tuple, q().collect()))
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = q()
        plan = plan_of(df)
        assert "PushedAggregation" in plan, plan
        seg = plan.split("PushedAggregation:")[1].split("]")[0]
        assert "COUNT(*)" in seg and "MIN(l_quantity)" in seg
        assert "MAX(l_extendedprice)" in seg
        assert sorted(map(tuple, df.collect())) == v1_rows
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_sql_string_api_over_registered_views(spark, sf_dir):
    """register_views + spark.sql is a first-class entry path: a SQL
    string over the registered views must produce the identical rows
    AND the identical physical plan shape (broadcast dim join, partial
    agg) as the DataFrame API twin."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.sources.tables import (
        load_table,
        register_views,
    )

    register_views(spark, sf_dir)
    sql_df = spark.sql(
        """
        SELECT n_name, COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )
    api_df = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )
    assert sorted(map(tuple, sql_df.collect())) == sorted(
        map(tuple, api_df.collect())
    )
    plan = plan_of(sql_df, mode="simple")
    # Catalyst picks the same physical strategy without the hint: the
    # nation dim auto-broadcasts and the agg keeps its partial phase
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_dedup_incremental_plan_shape(spark, sf_dir):
    """No cartesian products anywhere (every candidate step is an
    equi-join on md5 or (band, shingle)), and no whole-corpus
    SinglePartition stage: the admission pipeline must stay
    batch-keyed hash joins at any corpus size."""
    from irio2024_mapreduce_spark.operators.dedup import dedup_incremental

    plan = plan_of(dedup_incremental(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_boilerplate_registry_shuffles_digests_not_bodies(spark, sf_dir):
    """The registry aggregation must exchange on md5(chunk_text) with
    a map-side partial phase; chunk BODIES never appear in any
    exchange (at 100 TB the shuffle carries 16-byte digests +
    counters)."""
    from irio2024_mapreduce_spark.operators.chunking import (
        boilerplate_chunks,
    )

    import re

    plan = plan_of(boilerplate_chunks(spark, sf_dir))
    assert "HashAggregate" in plan
    # formatted plan: each "(N) Exchange" block lists its Input
    # columns and Arguments. The HASH exchanges (the aggregation
    # shuffles) must not carry the text column — the md5 grouping
    # expression is computed map-side, so only digests + counters
    # move. (The one RoundRobin exchange is load_table_parallel's
    # documented single-row-group fixture shim, not an agg shuffle.)
    inputs = re.findall(
        r"\(\d+\) Exchange\n(Input[^\n]*)\nArguments: ([^\n]*)",
        plan,
    )
    hash_exchanges = [
        inp for inp, args in inputs if "hashpartitioning" in args
    ]
    assert hash_exchanges, plan
    assert all("text#" not in inp for inp in hash_exchanges), hash_exchanges


def test_decontaminate_training_side_never_shuffles_bodies(spark, sf_dir):
    """The membership probe must be a broadcast LEFT-SEMI join (the
    benchmark digest set broadcasts; the training side streams
    map-side) — never a sort-merge join, which would shuffle the
    exploded training n-grams. Hash exchanges must carry digests and
    counters only, never the text column."""
    import re

    from irio2024_mapreduce_spark.operators.llm_prep import decontaminate

    plan = plan_of(decontaminate(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), plan
    inputs = re.findall(
        r"\(\d+\) Exchange\n(Input[^\n]*)\nArguments: ([^\n]*)", plan
    )
    hash_exchanges = [
        inp for inp, args in inputs if "hashpartitioning" in args
    ]
    assert all("text#" not in inp for inp in hash_exchanges), hash_exchanges


def test_importance_resample_weights_broadcast_docs_collapse_mapside(
    spark, sf_dir
):
    """The 256-row bucket-weight table must broadcast back onto the
    token stream (BroadcastHashJoin, no SortMergeJoin/Cartesian), and
    the per-doc score aggregation must keep its map-side partial
    phase so the post-join shuffle is one row per doc, not one per
    token. (The bucket table's own SUM() OVER () SinglePartition
    window is bounded at 256 rows by construction — allowed.)"""
    from irio2024_mapreduce_spark.operators.llm_prep import (
        importance_resample,
    )

    plan = plan_of(importance_resample(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # bucket agg + doc agg, partial+final
    assert "partial" in plan


def test_quality_repetition_is_exchange_free(spark, sf_dir):
    """The repetition signals are per-row array expressions — the
    physical plan must contain NO Exchange at all (pure map over the
    scan; this is the property that makes it trivially 100 TB-safe)."""
    from irio2024_mapreduce_spark.operators.text_analysis import (
        quality_repetition,
    )

    plan = plan_of(quality_repetition(spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, plan


def test_bpe_apply_is_map_only(spark, sf_dir):
    """Applying a trained merge table is a pure Arrow-batched map —
    no Exchange anywhere between the scan and the per-doc output."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.bpe import bpe_apply
    from irio2024_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    plan = plan_of(
        bpe_apply(docs, [("a", "b"), ("ab", "c")]), mode="simple"
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan


def test_bm25_corpus_body_never_shuffles(spark, sf_dir):
    """The inverted-index claim: document text reaches only the scan
    and the map-side explode/filter — no Exchange carries the text
    column, and the tf aggregation keeps its map-side partial phase
    so the shuffle is one row per (doc, matched term)."""
    import re

    from irio2024_mapreduce_spark.operators.text_analysis import bm25_search

    plan = plan_of(bm25_search(spark, sf_dir))
    inputs = re.findall(
        r"\(\d+\) Exchange\n(Input[^\n]*)\nArguments: ([^\n]*)", plan
    )
    assert inputs, plan
    assert all("text#" not in inp for inp, _ in inputs), inputs
    simple = plan_of(bm25_search(spark, sf_dir), mode="simple")
    assert simple.count("HashAggregate") >= 2
    assert "partial" in simple
    # r8 (graded-window promotion): top-k is limit-first — the
    # distributed TakeOrderedAndProject merge, with the row_number
    # window running over ≤ BM25_TOP_K rows. The retired shape
    # (row_number over ALL scored docs, filter rank ≤ k) funnels the
    # whole scored set through one WindowExec partition.
    assert "TakeOrderedAndProject" in simple, simple


def test_rank_filter_windows_compile_to_window_group_limit(spark, sf_dir):
    """row_number ≤ k windows must keep Spark's Partial+Final
    WindowGroupLimit rewrite — each map task retains only its local
    per-group top-k BEFORE the shuffle (the per-group analog of
    TakeOrderedAndProject). Without it, a per-query window partition
    buffers one full corpus of scored rows per query at 100 TB."""
    from irio2024_mapreduce_spark.operators.similarity import (
        similarity_topk,
    )

    plan = plan_of(similarity_topk(spark, sf_dir), mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_corpus_split_report_shape(spark, sf_dir):
    """The split tag adds no exchange, the corpus is scanned ONCE
    (the per-lang totals come from a window over the already
    aggregated frame — a second corpus-wide aggregate would double
    scan I/O at 100 TB), and the whole report is join-free."""
    from irio2024_mapreduce_spark.operators.llm_prep import corpus_split

    plan = plan_of(corpus_split(spark, sf_dir))
    assert "Join" not in plan
    # simple mode prints each node once (formatted repeats nodes in
    # the details section)
    assert plan_of(corpus_split(spark, sf_dir), "simple").count(
        "Scan parquet"
    ) == 1
    # map-side partial aggregation present on the corpus-sized agg
    assert "partial_count" in plan or "HashAggregate" in plan


def test_quantize_embeddings_is_one_agg_over_a_map_only_tag(spark, sf_dir):
    """Quantization itself must be map-only (zero shuffle); the
    report pays exactly the per-label aggregate plus its ordered
    presentation — no join, no Python."""
    from irio2024_mapreduce_spark.operators.similarity import (
        quantize_embeddings,
        quantize_vectors,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    # plain loader: the fixture-parallelism repartition in
    # load_table_parallel is the ONLY exchange the tagged frame may
    # carry — the tag itself adds none
    emb = load_table(spark, sf_dir, "embeddings")
    assert "Exchange" not in plan_of(quantize_vectors(emb))
    plan = plan_of(quantize_embeddings(spark, sf_dir))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_split_leakage_exact_family_never_self_joins(spark, sf_dir):
    """The exact family must stay agg-only — digest counts multiply
    into pair counts; the ONLY joins in the whole plan are the near
    family's capped posting join plus the tag/template lookups. No
    cartesian product anywhere."""
    from irio2024_mapreduce_spark.operators.llm_prep import split_leakage

    plan = plan_of(split_leakage(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingle_token_split_is_projected_once(spark, sf_dir):
    """r14 split-once pin: the shingle/n-gram builders must evaluate
    split(text) ONCE per doc via a projected token-array column — if
    CollapseProject ever folds the projection back into the transform
    lambda, the interpreted higher-order path re-splits the whole
    text once PER ELEMENT (O(len·n_elems) per doc; measured 1.3-2x
    on the dedup/decontaminate family, OPTIMIZATION_r14.md). Also
    pins the InferFiltersFromGenerate exclusion: without it the
    inferred size(col)>0 filter is pushed through the defining
    Project and re-substitutes the full array expression as a
    duplicate per-row Filter ("size(transform(" in the plan)."""
    from irio2024_mapreduce_spark.operators.dedup import (
        corpus_index_rep_shingles,
    )
    from irio2024_mapreduce_spark.operators.llm_prep import decontaminate
    from irio2024_mapreduce_spark.sources.tables import load_table

    sh_plan = plan_of(corpus_index_rep_shingles(load_table(spark, sf_dir, "documents")))
    # one split per doc: the transform lambda references the projected
    # _toks attribute, not a re-inlined split(text)
    assert sh_plan.count("split(") == 1, sh_plan.count("split(")
    assert "size(transform" not in sh_plan

    dc_plan = plan_of(decontaminate(spark, sf_dir))
    # one split per Generate side (train + benchmark), not two
    assert dc_plan.count("split(") == 2, dc_plan.count("split(")
    assert "size(transform" not in dc_plan


def test_candidate_verify_is_spread_on_the_pair_key(spark, sf_dir):
    """r15 pin: _verify_candidate_pairs must hash-repartition the
    melted candidate rows on `pair` BEFORE attaching text. Without it
    the candidates arrive from a dropDuplicates exchange AQE coalesces
    to ~1 partition (byte-light rows), the broadcast text attach
    preserves that partitioning, and the per-candidate shingle+Jaccard
    work runs near-serial at any core count (measured 13 s of a 19 s
    wall on one task at a 10x corpus — OPTIMIZATION_r15.md batch 3).
    The groupBy("pair") must REUSE that partitioning: exactly one
    user-numbered pair exchange, no second ENSURE_REQUIREMENTS
    exchange on pair above it."""
    from irio2024_mapreduce_spark.operators.dedup import dedup_near_md5

    plan = plan_of(dedup_near_md5(spark, sf_dir))
    pair_exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(pair" in ln
    ]
    assert len(pair_exchanges) == 1, pair_exchanges
    assert "REPARTITION_BY_NUM" in pair_exchanges[0], pair_exchanges[0]


@pytest.mark.parametrize(
    "index_part", ["corpus_index_postings", "corpus_index_rep_shingles"]
)
def test_incremental_collapse_has_no_sort_aggregate(spark, sf_dir, index_part):
    """r15 pin (VERDICT r14 item 2): the incremental corpus index's
    exact-dup collapse aggregates winner IDS only — a HashAggregate
    over (hex, long) — and attaches text by semi-join, so corpus text
    never enters an aggregation buffer. SortAggregate must not
    reappear in the corpus_index_postings subtree (it was 8 nodes of
    the r14 dedup_incremental plan; 0 after — plans/r15/)."""
    from irio2024_mapreduce_spark.operators import dedup
    from irio2024_mapreduce_spark.sources.tables import load_table

    plan = plan_of(
        getattr(dedup, index_part)(load_table(spark, sf_dir, "documents"))
    )
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
