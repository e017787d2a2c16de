"""Custom stateful streaming operator — ``applyInPandasWithState``.

Streaming sessionization with EXPLICIT state (contrast
``session_window`` in operators/events.py, which is declarative):
per user, the state is the open session (start, last_ts, count,
value sum); an incoming event either extends it or closes it and
opens a new one. Closed sessions are emitted; the open session stays
in state. This is the template for any custom stateful operator the
built-ins can't express (counters with decay, CEP-ish patterns,
dedup-within-horizon, ...).

Scale/ops notes: state lives in the state store (RocksDB in prod —
``SPARK_GRAFT_ROCKSDB_STATE=1`` pins the provider in the session
factory), partitioned by group key — memory per executor is
open-sessions × state row, not history.

Two timeout modes:

* ``timeout="event_time"`` — the PRODUCTION mode: the stream carries
  a watermark and every key arms an event-time timeout at
  ``last + gap``. When the watermark passes it, the open session is
  flushed as closed and the key's state is REMOVED — an idle user
  costs state only until the watermark proves no event can extend
  their session (any later event would be ``> gap`` away and start a
  new session anyway, so eviction is semantics-preserving for an
  unbounded stream). Without this, state grows with the all-time
  user count instead of the active-user count.
* ``timeout="none"`` — the bounded-replay mode the GRADED query uses:
  the fixture is a finite historical file and the contract is "each
  user's final session is still open when the stream drains", so
  nothing may flush early. (Under event-time timeout a mid-replay
  watermark would — correctly, by stream semantics — flush users who
  go idle partway through the fixture, which is exactly what the
  eviction test asserts.)
"""

from __future__ import annotations

import functools
import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from irio2024_mapreduce_spark.session import ensure_session_confs
from irio2024_mapreduce_spark.streaming.jobs import (
    _drain,
    _normalize_event_ts,
    _stage_dir,
)

GAP_MINUTES = 30

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_last timestamp, "
    "n_events long, sum_value double"
)
# What the Python side actually emits: raw int64 microseconds. The
# µs → timestamp conversion is a stateless JVM projection AFTER the
# stateful op — pd.to_datetime on tiny per-key frames is pure
# per-crossing overhead the 100× probe pays ~2 M times (measured in
# SCALE.md, "sessionizer Python-crossing cost").
_PY_OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_last_us long, "
    "n_events long, sum_value double"
)
STATE_SCHEMA = "start long, last long, n long, sv double"

_GAP_US = GAP_MINUTES * 60 * 1_000_000


def _sessionize(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    evict: bool = False,
) -> Iterator[pd.DataFrame]:
    """Fold this key's events (sorted by ts) into sessions; emit the
    closed ones, keep the open one in state. Timestamps are handled
    as integer microseconds inside the state tuple. With ``evict``
    (event-time timeout mode) a timed-out key flushes its open
    session as closed and drops its state."""
    (user_id,) = key
    if state.hasTimedOut:
        # watermark passed last + gap: no event can extend this
        # session any more — flush it as closed and evict the state
        start, last, n, sv = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start_us": [start],
                "session_last_us": [last],
                "n_events": [n],
                "sum_value": [round(sv, 2)],
            }
        )
        return
    if state.exists:
        start, last, n, sv = state.get
    else:
        start, last, n, sv = None, None, 0, 0.0

    # Accumulate ALL chunks before sorting: applyInPandasWithState
    # hands a key's micro-batch rows as multiple Arrow chunks in
    # shuffle order — sorting each chunk independently would fold
    # out-of-order events and corrupt the gap decisions.
    events: list[tuple] = []
    for batch in batches:
        events.extend(zip(batch["ts_us"].tolist(), batch["value"].tolist()))
    closed: list[tuple] = []
    for ts, value in sorted(events):
        if start is None:
            start, last, n, sv = ts, ts, 1, float(value)
        elif ts - last > _GAP_US:
            closed.append((user_id, start, last, n, sv))
            start, last, n, sv = ts, ts, 1, float(value)
        else:
            # ts may be BEFORE `last` when a late event straddles
            # micro-batches: merge it into the open session but never
            # move `last` backwards (a regressed `last` would corrupt
            # every subsequent gap decision and can emit sessions with
            # session_last < session_start). Events later than
            # state-persisted history are merged here rather than
            # re-opening closed sessions — the streaming-standard
            # watermark-style tolerance.
            last, n, sv = max(last, ts), n + 1, sv + float(value)
    if start is not None:
        if evict and last + _GAP_US <= state.getCurrentWatermarkMs() * 1000:
            # The session's close horizon (last + gap) is already
            # BEHIND the watermark. Unlike aggregations/dedup, a
            # stateful group-map operator receives late rows — Spark
            # does not filter them — so this happens whenever a key's
            # events arrive in a later micro-batch than the (other
            # keys') traffic that advanced the watermark; ordinary
            # under multi-batch unordered ingest. Arming the timeout
            # at last + gap would sit behind the watermark, which the
            # engine rejects (INVALID_TIMEOUT_TIMESTAMP — found by
            # tools/stress_streaming.py at 100× multi-batch). Flush
            # the session as closed NOW: in-order traffic can never
            # extend it (anything after the watermark is past
            # last + gap), and any further late stragglers for this
            # key will open their own late fragment — the standard
            # watermark trade, same tolerance the windowed aggs have.
            closed.append((user_id, start, last, n, sv))
            if state.exists:
                state.remove()
        else:
            state.update((start, last, n, sv))
            if evict:
                # arm the event-time timeout: fires when the watermark
                # passes the earliest instant the session could close
                state.setTimeoutTimestamp((last + _GAP_US) // 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start_us": [c[1] for c in closed],
                "session_last_us": [c[2] for c in closed],
                "n_events": [c[3] for c in closed],
                "sum_value": [round(c[4], 2) for c in closed],
            }
        )


def run_sessionize_stream(
    spark: SparkSession,
    src_dir: str,
    raw_schema,
    max_files_per_trigger: int | None = None,
    timeout: str = "none",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Run the stateful sessionizer over a file-stream source
    directory and return the drained result table.

    ``max_files_per_trigger=1`` forces one micro-batch per source
    file — the two-batch state-carry test uses it to prove sessions
    straddling micro-batches are stitched from state, not recomputed.

    ``timeout="event_time"`` is the production mode (see module
    docstring): watermarked stream, per-key timeout at ``last + gap``,
    timed-out sessions flushed and state evicted.
    """
    if timeout not in ("none", "event_time"):
        raise ValueError(f"unknown timeout mode: {timeout!r}")
    ensure_session_confs(spark)
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # ts → session TIMESTAMP via the ONE shared physical-shape
    # dispatch (jobs._normalize_event_ts — a third inline copy here
    # previously had to track the generator's nanos/ntz/timestamp
    # variants by hand), then to int64 microseconds for the Python
    # state machine
    from pyspark.sql import functions as F

    stream = _normalize_event_ts(reader.parquet(src_dir), raw_schema)
    prepared = stream.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    if timeout == "event_time":
        # the timeout clock is the WATERMARK, which needs a timestamp
        # column on the pre-groupBy stream
        prepared = prepared.withColumn(
            "ts_wm", F.timestamp_micros("ts_us")
        ).withWatermark("ts_wm", watermark_delay)
        func = functools.partial(_sessionize, evict=True)
        conf = GroupStateTimeout.EventTimeTimeout
    else:
        func = _sessionize
        conf = GroupStateTimeout.NoTimeout
    sessions = prepared.groupBy("user_id").applyInPandasWithState(
        func,
        outputStructType=_PY_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=conf,
    ).select(
        # stateless JVM projection after the stateful op: µs → ts
        # here instead of pd.to_datetime per key inside it
        "user_id",
        F.timestamp_micros("session_start_us").alias("session_start"),
        F.timestamp_micros("session_last_us").alias("session_last"),
        "n_events",
        "sum_value",
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _drain(sessions.writeStream.outputMode("append"), name)
    return spark.table(name)


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed sessions per user from the event stream (the open tail
    session of each user remains in state, unemitted — exactly the
    semantics a forever-running job would show). Bounded-replay mode
    (``timeout="none"``): the oracle's withheld-open-tails contract
    requires that nothing flushes early; the event-time-timeout
    production mode is exercised by
    tests/test_streaming.py::test_event_time_timeout_evicts_idle_state.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    return run_sessionize_stream(
        spark, _stage_dir(path), raw_schema, timeout="none"
    )


# Oracle: closed sessions == all gaps-and-islands sessions EXCEPT each
# user's last one (which is still open in state when the stream drains).
# The same result holds across MULTIPLE micro-batches (state carries
# the open session) as long as files arrive in event-time order —
# proven by tests/test_streaming.py::test_sessionize_state_carries_across_micro_batches.
ORACLE_SQL = {
    "streaming_sessionize": """
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
        ), agg AS (
            SELECT user_id, sid,
                   MIN(ts)              AS session_start,
                   MAX(ts)              AS session_last,
                   COUNT(*)             AS n_events,
                   ROUND(SUM(value), 2) AS sum_value,
                   MAX(sid) OVER (PARTITION BY user_id) AS last_sid
            FROM sess
            GROUP BY user_id, sid
        )
        SELECT user_id, session_start, session_last, n_events, sum_value
        FROM agg WHERE sid < last_sid
    """,
}

QUERIES = {"streaming_sessionize": streaming_sessionize}
