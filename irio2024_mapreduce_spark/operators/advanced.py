"""Advanced relational operators beyond the SURVEY §2.3 core set:
as-of join, range join, pivot, exact quantiles/statistics,
grouping sets, and a multi-resolution time rollup.

The as-of join is the flagship "operator Spark lacks" (SURVEY §2.3
custom-operator guidance): implemented as a composition of existing
DataFrame ops — union the two sides tagged, one window pass per user
ordered by time carrying the last right-side row forward
(``last(..., ignorenulls=True)``), keep left rows. That is the
scalable formulation: one shuffle on the partition key, no range-join
explosion, no per-key driver loop. DuckDB validates it with a native
ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from irio2024_mapreduce_spark.sources.tables import load_table


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every non-purchase event: the user's most recent purchase
    at-or-before that event (value + timestamp), NULL if none yet.

    Union-tag + forward-fill window == ASOF JOIN. At 100 TB this is
    one hash shuffle on user_id and a single ordered pass per user —
    contrast a range join (quadratic per key) or per-key collect.
    """
    events = load_table(spark, sf_dir, "events")
    # Collapse same-instant purchases per user (max value wins) BEFORE
    # the as-of: with ties on (user_id, ts), both Spark's window last()
    # and a native ASOF JOIN would pick an arbitrary row — making the
    # right side unique per instant makes the result deterministic on
    # every engine.
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    left = events.filter(F.col("event_type") != "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.lit(None).cast("double").alias("p_value"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(0).alias("is_right"),
    )
    right = purchases.select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("event_type"),
        "p_value",
        F.col("ts").alias("p_ts"),
        F.lit(1).alias("is_right"),
    )
    # right rows sort BEFORE left rows at equal ts so an exact-tie
    # purchase is visible to the event (ASOF semantics: <=)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_right"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = left.unionByName(right).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "is_right",
        F.last("p_value", ignorenulls=True).over(w).alias("last_purchase_value"),
        F.last("p_ts", ignorenulls=True).over(w).alias("last_purchase_ts"),
    )
    return filled.filter(F.col("is_right") == 0).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "last_purchase_value",
        "last_purchase_ts",
    )


PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 300_000.0),
    ("luxury", 300_000.0, 10_000_000.0),
]


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: orders against a banded dimension on
    ``lo <= price < hi``.

    The bands side is tiny and broadcast, so the non-equi predicate
    evaluates map-side (BroadcastNestedLoopJoin) — the right shape
    when one side is small. For a large×large interval join the plan
    becomes: bucket both sides by ``floor(value/width)``, equi-join
    on the bucket, post-filter the boundary rows — same
    bucket-equi-join trick as the dedup family.
    """
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("band_revenue"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("band")
    )


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIV_COLS = {p: "prio_" + p.split("-")[0] for p in PRIORITIES}


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: rows = order status, columns = priority.
    Pivot values pinned explicitly — with them, Spark skips the
    distinct-values discovery job AND the result schema is stable."""
    orders = load_table(spark, sf_dir, "orders")
    df = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PRIORITIES)
        .count()
        .na.fill(0)
    )
    for p, alias in _PIV_COLS.items():
        df = df.withColumnRenamed(p, alias)
    return df.orderBy("o_orderstatus")


QUANTILES = [("median_price", 0.5), ("p90_price", 0.9)]

# Histogram bucket width for the two-phase exact quantile: wide enough
# that the histogram stays tiny (~value_range/width buckets — shuffle
# and cumulative window are O(histogram), not O(rows)), narrow enough
# that the phase-2 rescan touches only ~rows/buckets values per hit.
QUANTILE_BUCKET_WIDTH = 64


def _exact_quantiles(lineitem: DataFrame) -> DataFrame:
    """Two-phase EXACT interpolated quantiles (quantile_cont) per
    return flag — no O(table) sort anywhere.

    Phase 1: histogram — bucket every row by
    ``floor(price / QUANTILE_BUCKET_WIDTH)`` (width 64) and count per
    (flag, bucket). Map-side partial agg; shuffle volume is #distinct
    buckets (value domain / 64 — ~1.6k here), never #rows. Group
    sizes (``n``) fall out of the same histogram, and a
    cumulative-count window over the TINY histogram (one partition
    per flag of #buckets rows) locates the bucket containing each
    needed global rank.

    Phase 2: rescan only rows in those ≤4 candidate buckets (one
    broadcast join against the hit list), rank within each
    (flag, bucket, target) group (window over O(bucket) rows per task,
    never O(table)), add the bucket's cumulative offset to get the
    exact global rank, and interpolate the two bracketing values.

    At 100 TB the same plan holds: the full table is touched by
    exactly two linear scans; the only sorts are #bucket-sized. If
    the value domain were unbounded/ultra-skewed, tune
    ``QUANTILE_BUCKET_WIDTH`` (finer/coarser) or swap in adaptive
    bucketing — the plan shape is unchanged. Trade-off both ways:
    width ↑ shrinks the histogram but grows each phase-2 rescan
    bucket; width ↓ the reverse.
    """
    bucketed = lineitem.select(
        "l_returnflag",
        "l_extendedprice",
        F.floor(F.col("l_extendedprice") / QUANTILE_BUCKET_WIDTH)
        .cast("long")
        .alias("b"),
    )
    bcounts = bucketed.groupBy("l_returnflag", "b").agg(
        F.count("*").alias("bc")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = bcounts.select(
        "l_returnflag",
        "b",
        (F.sum("bc").over(wcum) - F.col("bc") + 1).alias("cum_start"),
        F.sum("bc").over(wcum).alias("cum_end"),
        F.sum("bc").over(wall).alias("n"),
    )

    # quantile_cont: pos = p*(n-1) (0-based) → bracketing 1-based
    # ranks lo=floor(pos)+1 (weight 1-frac) and lo+1 (weight frac);
    # exploded against every histogram row, kept where the rank falls
    # inside the row's cumulative span. Pure plan — n comes from the
    # histogram itself, so no extra scan of the fact table.
    qdefs = F.array(
        *[
            F.struct(F.lit(name).alias("q"), F.lit(p).alias("p"))
            for name, p in QUANTILES
        ]
    )
    pos = F.col("qd.p") * (F.col("n") - 1)
    spans = cum.select(
        "l_returnflag",
        "b",
        "cum_start",
        "cum_end",
        "n",
        F.explode(qdefs).alias("qd"),
    ).select(
        "l_returnflag",
        "b",
        "cum_start",
        "cum_end",
        F.col("qd.q").alias("q"),
        (F.floor(pos) + 1).alias("lo"),
        (pos - F.floor(pos)).alias("frac"),
    )
    hits = (
        spans.select(
            "l_returnflag", "b", "cum_start", "cum_end", "q",
            F.col("lo").alias("rank"),
            (F.lit(1.0) - F.col("frac")).alias("weight"),
        )
        .unionByName(
            spans.select(
                "l_returnflag", "b", "cum_start", "cum_end", "q",
                (F.col("lo") + 1).alias("rank"),
                F.col("frac").alias("weight"),
            )
        )
        .filter(
            (F.col("weight") > 0)  # also drops out-of-range lo+1=n+1
            & (F.col("rank") >= F.col("cum_start"))
            & (F.col("rank") <= F.col("cum_end"))
        )
        .select("l_returnflag", "b", "cum_start", "q", "rank", "weight")
    )

    # one row per (bucket row × target hitting that bucket); ranking
    # per (flag, bucket, target) keeps row_number correct even when
    # two targets land in the same bucket
    cand = bucketed.join(F.broadcast(hits), ["l_returnflag", "b"])
    wloc = Window.partitionBy("l_returnflag", "b", "q", "rank").orderBy(
        "l_extendedprice"
    )
    picked = (
        cand.withColumn(
            "grank", F.row_number().over(wloc) + F.col("cum_start") - 1
        )
        .filter(F.col("grank") == F.col("rank"))
        .select(
            "l_returnflag",
            "q",
            (F.col("l_extendedprice") * F.col("weight")).alias("wv"),
        )
    )
    return picked.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.sum(F.when(F.col("q") == name, F.col("wv")).otherwise(0.0)),
                4,
            ).alias(name)
            for name, _ in QUANTILES
        ]
    )


def stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: stddev, variance,
    correlation, covariance, exact interpolated median + p90
    (quantile_cont definition).

    Percentiles use the two-phase histogram rank in
    :func:`_exact_quantiles` — the naive alternative (row_number over
    a window partitioned by the ~3-value l_returnflag) sorts the
    entire table in 3 tasks, which is a scale-killer at 100 TB (and
    was the 2nd-slowest headline query at sf0.1). The bounded-memory
    approximate twin is ``sketches``.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    moments = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_discount", "l_tax"), 8).alias("cov_disc_tax"),
    )
    pcts = _exact_quantiles(lineitem)
    return (
        moments.join(pcts, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "sd_price",
            "var_qty",
            "corr_qty_price",
            "cov_disc_tax",
            "median_price",
            "p90_price",
        )
        .orderBy("l_returnflag")
    )


def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube):
    totals by (status), by (priority), and overall — one Expand pass,
    not three scans."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS order_cnt,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority
        """
    )


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly AND daily
    event aggregates in one pass via grouping sets over pre-computed
    buckets (the continuous-aggregate pattern, batch form)."""
    events = load_table(spark, sf_dir, "events")
    bucketed = events.select(
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        F.date_trunc("day", "ts").alias("day_bucket"),
        "event_type",
        "value",
    )
    bucketed.createOrReplaceTempView("_events_tr")
    return spark.sql(
        """
        SELECT hour_bucket, day_bucket, event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS sum_value
        FROM _events_tr
        GROUP BY GROUPING SETS (
            (hour_bucket, event_type),
            (day_bucket, event_type)
        )
        ORDER BY hour_bucket, day_bucket, event_type
        """
    )


ORACLE_SQL = {
    "join_range": """
        WITH bands(band, lo, hi) AS (VALUES
            ('budget', 0.0, 50000.0),
            ('mid', 50000.0, 150000.0),
            ('premium', 150000.0, 300000.0),
            ('luxury', 300000.0, 10000000.0))
        SELECT band,
               COUNT(*)                    AS order_cnt,
               ROUND(SUM(o_totalprice), 2) AS band_revenue,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders JOIN bands
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band
    """,
    "join_asof": """
        SELECT e.event_id, e.user_id, e.ts, e.event_type,
               p.p_value AS last_purchase_value,
               p.ts      AS last_purchase_ts
        FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        ASOF LEFT JOIN (
            SELECT user_id, ts, MAX(value) AS p_value FROM events
            WHERE event_type = 'purchase' GROUP BY user_id, ts
        ) p
          ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    "pivot_status_priority": """
        SELECT o_orderstatus,
               COUNT(*) FILTER (o_orderpriority = '1-URGENT')        AS prio_1,
               COUNT(*) FILTER (o_orderpriority = '2-HIGH')          AS prio_2,
               COUNT(*) FILTER (o_orderpriority = '3-MEDIUM')        AS prio_3,
               COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS prio_4,
               COUNT(*) FILTER (o_orderpriority = '5-LOW')           AS prio_5
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "stats_pack": """
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(STDDEV_SAMP(l_extendedprice), 4)      AS sd_price,
               ROUND(VAR_SAMP(l_quantity), 4)              AS var_qty,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(COVAR_SAMP(l_discount, l_tax), 8)     AS cov_disc_tax,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS median_price,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS order_cnt,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "time_rollup": """
        WITH b AS (
            SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_bucket,
                   date_trunc('day', ts)::TIMESTAMP  AS day_bucket,
                   event_type, value
            FROM events
        )
        SELECT hour_bucket, day_bucket, event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS sum_value
        FROM b
        GROUP BY GROUPING SETS (
            (hour_bucket, event_type),
            (day_bucket, event_type)
        )
        ORDER BY hour_bucket, day_bucket, event_type
    """,
}

QUERIES = {
    "join_range": join_range,
    "join_asof": join_asof,
    "pivot_status_priority": pivot_status_priority,
    "stats_pack": stats_pack,
    "grouping_sets": grouping_sets,
    "time_rollup": time_rollup,
}
