"""Event-time window operators — SURVEY.md §2.3 E17–E19.

Batch analogs of the streaming windows (the streaming variant lives
in ``irio2024_mapreduce_spark/streaming/``). All three are single-
shuffle plans: ``F.window`` / ``F.session_window`` are Catalyst
expressions expanded *before* the aggregate, so the only exchange is
the final hash aggregation on (window, key) — no Python, no UDFs.

Scale: windows partition naturally by (window_start, key); skew only
if one key dominates — AQE skew handling applies. A 100 TB events
table groups map-side first (partial agg), so shuffle volume is
#distinct (window,key) pairs per partition.

Session windows (E19): Spark's ``session_window`` merges two sessions
when the next window's start is ≤ the previous window's end — so an
event exactly 30 min after the previous one still MERGES (verified
empirically in tests/test_operators.py::test_session_window_gap_edge);
only a strictly larger gap starts a new session. The DuckDB oracle
reproduces this with gaps-and-islands:
``new_session = (ts - lag(ts) > gap)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from irio2024_mapreduce_spark.sources.tables import load_table


def event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type: count + sum(value)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — each event lands in
    exactly 4 windows (window expansion is a Catalyst explode, not a
    self-join)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )


def event_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap session windows per user."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SESSION_GAP_S = 30 * 60


def event_session_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands formulation of :func:`event_session` —
    identical output contract and merge semantics (an event exactly
    ``gap`` after the previous one merges: the flag fires on
    strictly-greater gaps, mirroring ``session_window``'s
    next.start <= prev.end merge rule; parity pinned in
    ``tests/test_operators.py``).

    Why both exist: the native ``session_window`` aggregate is the
    idiomatic Catalyst operator (and the one the streaming sessionizer
    semantics mirror), but its physical plan sorts within the
    aggregate via UpdatingSessions; this form trades that for one
    exchange on user_id + in-partition sort + two window passes and a
    final hash aggregate. Measured at 100× events (10 M rows,
    alternating min-of-2 on identical staging; SCALE.md, "Session
    forms A/B"): islands 1.94 s vs native
    3.14 s — 1.6× — so this is the recommended form at the 100 TB end,
    while the registered query keeps the native operator (same
    asymptote, streaming-parity showcase)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.select(
        "user_id",
        "ts",
        "value",
        # microsecond precision, NOT cast('long'): the second-floor
        # form computes floor-second diffs, so a true gap in
        # (GAP, GAP+1s) — e.g. 1800.5 s — would read as exactly GAP
        # and merge sessions the native session_window (full-precision
        # '> gap') splits, breaking the row-identical parity pin at
        # the boundary band
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > SESSION_GAP_S * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn("session_ord", F.sum("new_session").over(w))
    return (
        flagged.groupBy("user_id", "session_ord")
        .agg(
            F.min("ts").alias("session_start"),
            (
                F.max("ts") + F.expr(f"INTERVAL {SESSION_GAP_S} SECONDS")
            ).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


# event_tumbling is ungraded: tumbling is event_sliding with step ==
# size, so the windowing family stays driver-graded through E18/E19.
# It stays implemented and locally oracle-verified every test run
# (tests/test_retired_twins.py), and is the batch reference of the
# streaming parity test in tests/test_streaming.py.
RETIRED_TWIN_ORACLES = {
    "event_tumbling": """
        SELECT time_bucket(INTERVAL '1 hour', ts)                    AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type,
               COUNT(*)             AS cnt,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
}

ORACLE_SQL = {
    "event_sliding": """
        SELECT time_bucket(INTERVAL '15 minutes', ts) - ofs          AS window_start,
               time_bucket(INTERVAL '15 minutes', ts) - ofs + INTERVAL '1 hour'
                                                                     AS window_end,
               COUNT(*) AS cnt
        FROM events
        CROSS JOIN (VALUES (INTERVAL '0 minutes'), (INTERVAL '15 minutes'),
                           (INTERVAL '30 minutes'), (INTERVAL '45 minutes')) t(ofs)
        GROUP BY 1, 2
    """,
    "event_session": """
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts)                          AS session_start,
               MAX(ts) + INTERVAL '30 minutes'  AS session_end,
               COUNT(*)                         AS n_events,
               ROUND(SUM(value), 2)             AS sum_value
        FROM sess
        GROUP BY user_id, sid
    """,
}

QUERIES = {
    "event_sliding": event_sliding,
    "event_session": event_session,
}

RETIRED_TWIN_QUERIES = {"event_tumbling": event_tumbling}
