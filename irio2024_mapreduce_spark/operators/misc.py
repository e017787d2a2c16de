"""Remaining aggregate coverage: conditional aggregation,
deterministic sampling, sketch aggregates and UNPIVOT.

Deterministic sampling is the scale-relevant one: ``TABLESAMPLE`` /
``df.sample`` are seed-dependent across engines and partitionings, so
repeatable pipelines sample by content hash instead — here
``md5(key)`` prefix, which any engine computes identically. At 100 TB
this also means the sample is stable across reruns and cluster sizes
(no dependency on partition layout), and pushes down as a cheap
filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.tables import load_table


def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-style conditional aggregates — one scan, many slices
    (the idiom that replaces N separate filtered queries)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_all"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
            F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R", F.col("l_extendedprice")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("returned_revenue"),
            F.round(
                F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 4
            ).alias("avg_price_hightax"),
        )
        .orderBy("l_linestatus")
    )


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1/16 hash-mod sample of orders by md5(key) first hex char —
    content-addressed, engine/partitioning/seed independent."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("sampled_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_revenue"),
        )
        .orderBy("o_orderstatus")
    )


def sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (sketch) aggregates next to their exact twins:
    HyperLogLog++ distinct counts and t-digest-style quantiles.

    These are THE 100 TB aggregates — bounded memory versus exact
    percentile's O(group) buffer and exact distinct's full dedup
    shuffle. Sketch internals differ across engines, so this is
    rows-only; the exact columns in the same output row make the
    error observable (and are asserted < 5% in tests).

    The exact-distinct twin runs as its OWN aggregation joined back on
    the 3-row result — never in the same ``agg`` as the sketch
    buffers: a distinct aggregate rewrites the plan through an Expand
    (2× every row) and pushes the TypedImperative percentile buffers
    into a sort-based aggregate that serializes them per row —
    measured 17× slower (13.5 s vs 0.8 s at sf0.01) and strictly
    worse at scale, where Expand doubles the shuffle volume of the
    whole table.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    sketched = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias(
            "approx_orders"
        ),
        F.round(
            F.percentile_approx("l_extendedprice", 0.5, 10000), 2
        ).alias("approx_median"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias(
            "exact_median"
        ),
        F.count("*").alias("n"),
    )
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return (
        sketched.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "approx_orders",
            "exact_orders",
            "approx_median",
            "exact_median",
            "n",
        )
        .orderBy("l_returnflag")
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the inverse of pivot_status_priority — the four
    lineitem measure columns become (measure, value) rows, then one
    aggregation per measure per return flag. Map-only reshape (the
    unpivot is a local Expand, no shuffle) feeding a partial+final
    hash agg; at 100 TB the Expand multiplies rows 4× BEFORE the
    map-side combine collapses them, so the shuffle still carries one
    row per (flag, measure, partition)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    melted = lineitem.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return (
        melted.groupBy("l_returnflag", "measure")
        .agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.round(F.avg("value"), 4).alias("mean"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "measure")
    )


# Ungraded local-oracle extras (the 50-entry driver window is full):
# verified every test run by tests/test_query_battery.py. sketches has
# no oracle by design (sketch internals differ across engines), so it
# is checked rows-only there; its real verification is the error-bound
# assertions against the exact twin columns
# (tests/test_advanced.py::test_sketches_error_bounds).
RETIRED_TWIN_ORACLES = {
    "unpivot_measures": """
        SELECT l_returnflag, measure,
               ROUND(SUM(value), 2) AS total,
               ROUND(AVG(value), 4) AS mean,
               COUNT(*) AS n
        FROM (
            SELECT l_returnflag, 'l_quantity' AS measure,
                   l_quantity::DOUBLE AS value FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'l_extendedprice', l_extendedprice
            FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
        )
        GROUP BY l_returnflag, measure
        ORDER BY l_returnflag, measure
    """,
}

RETIRED_TWIN_QUERIES = {
    "unpivot_measures": unpivot_measures,
    "sketches": sketches,
}

ORACLE_SQL = {
    "conditional_agg": """
        SELECT l_linestatus,
               COUNT(*)                                   AS n_all,
               COUNT(*) FILTER (l_discount > 0.05)        AS n_discounted,
               COUNT(*) FILTER (l_quantity >= 25)         AS n_bulk,
               ROUND(SUM(CASE WHEN l_returnflag = 'R'
                              THEN l_extendedprice ELSE 0.0 END), 2)
                                                          AS returned_revenue,
               ROUND(AVG(CASE WHEN l_tax > 0.04
                              THEN l_extendedprice END), 4)
                                                          AS avg_price_hightax
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    "deterministic_sample": """
        SELECT o_orderstatus,
               COUNT(*)                    AS sampled_orders,
               ROUND(SUM(o_totalprice), 2) AS sampled_revenue
        FROM orders
        WHERE substring(md5(o_orderkey::VARCHAR), 1, 1) = '0'
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
}

QUERIES = {
    "conditional_agg": conditional_agg,
    "deterministic_sample": deterministic_sample,
}
