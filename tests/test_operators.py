"""Operator edge-case unit tests on tiny in-memory DataFrames
(SURVEY.md §5.2: join null semantics, window frames, session-window
gap edges, rollup markers)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_left_join_null_semantics(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    right = spark.createDataFrame([(1, 10)], ["k", "w"])
    rows = {
        (r["k"], r["w"]) for r in left.join(right, "k", "left").collect()
    }
    assert rows == {(1, 10), (2, None)}
    # count() skips nulls from the unmatched side
    agg = left.join(right, "k", "left").agg(F.count("w").alias("c")).collect()
    assert agg[0]["c"] == 1


def test_rollup_produces_grand_total(spark):
    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)], ["a", "b", "n"]
    )
    rows = {
        (r["a"], r["b"], r["s"])
        for r in df.rollup("a", "b").agg(F.sum("n").alias("s")).collect()
    }
    assert (None, None, 7) in rows  # grand total
    assert ("x", None, 3) in rows  # subtotal
    assert ("x", "p", 1) in rows  # leaf


def _ev(uid, minute):
    return (uid, dt.datetime(2024, 1, 1, 0, minute))


def test_session_window_gap_edge(spark):
    """A gap of exactly the session duration still MERGES (Spark
    merges when next start <= previous end); only a strictly larger
    gap splits. The DuckDB oracle in operators/events.py encodes the
    same rule (`> gap` starts a new session)."""
    df = spark.createDataFrame(
        [_ev(1, 0), _ev(1, 29), _ev(1, 59)]  # gaps 29, 30 → all merge
        + [_ev(2, 0), _ev(2, 31)],  # gap 31 > 30 → split
        ["user_id", "ts"],
    )
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(per_user[1]) == [3]
    assert sorted(per_user[2]) == [1, 1]


def _event_session_islands(spark, sf_dir):
    """Gaps-and-islands formulation of ``event_session``: flag an
    event whose gap to the previous one is strictly greater than 30
    min, running-sum the flags into a session ordinal, aggregate.
    Microsecond differences, not ``cast('long')``: floor-second diffs
    would read a 1800.5 s gap as exactly the gap and merge sessions
    the native ``session_window`` splits."""
    from pyspark.sql.window import Window

    from irio2024_mapreduce_spark.sources.tables import load_table

    gap_s = 30 * 60
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.select(
        "user_id",
        "ts",
        "value",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > gap_s * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn("session_ord", F.sum("new_session").over(w))
    return (
        flagged.groupBy("user_id", "session_ord")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr(f"INTERVAL {gap_s} SECONDS")).alias(
                "session_end"
            ),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


def test_session_islands_equals_native(spark, sf_dir):
    """The gaps-and-islands form (the measured 1.6×-faster scale
    path, SCALE.md round-6) must be row-identical to the registered
    native session_window query — including the exactly-gap merge
    edge, which the events fixture's 30-min grid exercises."""
    from irio2024_mapreduce_spark.operators.events import event_session

    native = sorted(map(tuple, event_session(spark, sf_dir).collect()))
    islands = sorted(
        map(tuple, _event_session_islands(spark, sf_dir).collect())
    )
    assert native == islands


def test_window_frame_running_sum(spark):
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 5.0), (1, 3, 1.0), (2, 1, 7.0)],
        ["k", "seq", "x"],
    )
    w = (
        Window.partitionBy("k")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = {
        (r["k"], r["seq"], r["run"])
        for r in df.select("k", "seq", F.sum("x").over(w).alias("run")).collect()
    }
    assert rows == {(1, 1, 10.0), (1, 2, 15.0), (1, 3, 16.0), (2, 1, 7.0)}


def test_semi_anti_partition_of_keys(spark, sf_dir):
    """Semi ∪ anti == all customers, semi ∩ anti == ∅."""
    from irio2024_mapreduce_spark.operators.relational import join_semi_anti
    from irio2024_mapreduce_spark.sources.tables import load_table

    rows = join_semi_anti(spark, sf_dir).collect()
    keys = [r["c_custkey"] for r in rows]
    assert len(keys) == len(set(keys))
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert len(keys) == n_cust


def test_exact_dedup_keeps_min_doc_id(spark):
    from irio2024_mapreduce_spark.operators import dedup

    df = spark.createDataFrame(
        [(3, "same text", 9), (1, "same text", 9), (2, "other", 5)],
        ["doc_id", "text", "n_chars"],
    )
    df.createOrReplaceTempView("_tmp_docs")
    out = {
        (r["doc_id"], r["dup_cnt"])
        for r in df.groupBy(F.sha2("text", 256))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_cnt"),
        )
        .select("doc_id", "dup_cnt")
        .collect()
    }
    assert out == {(1, 2), (2, 1)}


def test_json_extract_integer_guard_parity_on_dirty_values(spark, tmp_path):
    """The integral-string guard must behave IDENTICALLY on Spark and
    DuckDB for every dirty shape that made the engines diverge:
    floats ('1.5' truncates in Spark's plain cast, fails DuckDB's),
    newline-terminated digits (Java $ matches before \\n, RE2 $
    doesn't), over-int64 digit strings (ANSI cast would abort the
    query), missing keys, and non-numeric strings."""
    import duckdb

    from irio2024_mapreduce_spark.operators.json_array import (
        ORACLE_SQL,
        json_extract,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": 7}'),
        (2, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": -3}'),
        (3, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": 1.5}'),
        # \\n in the JSON text = escaped newline = VALID json whose
        # value contains a real newline (the $-anchor trap)
        (4, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": "123\\n"}'),
        (5, dt.datetime(2024, 1, 1), 1, "a", 0.0,
         '{"k": "12345678901234567890123"}'),
        (6, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": "nope"}'),
        (7, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"x": 1}'),
        # raw newline byte inside a JSON string = MALFORMED json:
        # Spark's from_json nulls the row, DuckDB needs json_valid()
        (8, dt.datetime(2024, 1, 1), 1, "a", 0.0, '{"k": "9\n9"}'),
        # single-quoted JSON: Jackson would accept without
        # allowSingleQuotes=false; DuckDB never does
        (9, dt.datetime(2024, 1, 1), 1, "a", 0.0, "{'k': 5}"),
        (10, dt.datetime(2024, 1, 1), 1, "b", 0.0, '{"k": "042"}'),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path / "dirty_events")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = sorted(map(tuple, json_extract(spark, d).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * "
        f"FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(ORACLE_SQL["json_extract"]).fetchall()))
    assert got == want, (got, want)
    # only 7, -3 and 042 survive the guard
    by_type = {r[0]: r for r in got}
    assert by_type["a"][1] == 9 and by_type["a"][2] == 4  # cnt=9, sum=7-3
    assert by_type["b"][2] == 42


def test_boilerplate_chunks_detects_and_removal_anti_join(spark, tmp_path):
    """Crafted docs sharing a >=64-token boilerplate paragraph: the
    registry must flag the shared chunks and miss the unique ones,
    and the removal pass (broadcast anti-join of the registry against
    the chunk stream) must keep every unique chunk while dropping all
    flagged occurrences."""
    import os

    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.chunking import (
        boilerplate_chunks,
        doc_chunk,
    )

    boiler = " ".join(f"b{i}" for i in range(64))
    docs = [
        (10, boiler + " " + " ".join(f"u{i}" for i in range(40)), "en", "s", 1),
        (20, boiler + " " + " ".join(f"v{i}" for i in range(40)), "en", "s", 1),
        (30, boiler + " " + " ".join(f"w{i}" for i in range(40)), "en", "s", 1),
        (40, " ".join(f"x{i}" for i in range(104)), "en", "s", 1),
    ]
    sf = str(tmp_path / "bp_sf")
    os.makedirs(sf)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    reg = boilerplate_chunks(spark, sf)
    flagged = reg.collect()
    # chunk 0 of docs 10/20/30 is the identical boilerplate window
    assert any(r["n_docs"] == 3 and r["first_doc"] == 10 for r in flagged)
    # doc 40's unique chunks are never flagged
    chunks = doc_chunk(spark, sf)
    removal = chunks.join(
        F.broadcast(reg.select("chunk_md5")),
        F.md5(chunks["chunk_text"]) == F.col("chunk_md5"),
        "left_anti",
    )
    kept = removal.collect()
    assert {r["doc_id"] for r in kept} >= {40}
    # every flagged occurrence is gone: re-running detection on the
    # kept stream finds nothing shared by >= 2 docs
    kept_df = spark.createDataFrame(
        [(r["doc_id"], r["chunk_text"]) for r in kept],
        "doc_id long, chunk_text string",
    )
    residual = (
        kept_df.groupBy("chunk_text")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .count()
    )
    assert residual == 0


def test_repetition_signals_crafted_ratios(spark):
    """Gopher repetition metrics on fixtures with hand-computed
    ratios: duplicated lines, duplicated char mass, dominant n-gram
    share, and the degenerate single-line / short-doc cases."""
    from irio2024_mapreduce_spark.operators.text_analysis import (
        repetition_signals,
    )

    rows = [
        # 4 lines, "dup" twice: dup_line_frac = (4-3)/4 = 0.25;
        # dup chars = 2*3 = 6 of 3+3+5+4 = 15 → 0.4
        (1, "dup\ndup\nalpha\nbeta"),
        # single line, no dup lines; text "x y x y x y" (11 chars):
        # top 2-gram "x y" occurs 3x → 9/11; top 3-gram "x y x" 2x
        # (ties "y x y") → 10/11; top 4-gram "x y x y" 2x → 14/11
        # capped? no cap — overlapping occurrences both count
        (2, "x y x y x y"),
        # 1 token: no 2-gram exists → NULL shares
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()}
    assert out[1]["dup_line_frac"] == 0.25
    assert out[1]["dup_line_char_frac"] == 0.4
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_line_char_frac"] == 0.0
    assert out[2]["top2gram_char_frac"] == round(9 / 11, 6)
    assert out[2]["top3gram_char_frac"] == round(10 / 11, 6)
    assert out[3]["top2gram_char_frac"] is None
    assert out[3]["top3gram_char_frac"] is None
    assert out[3]["top4gram_char_frac"] is None


def test_quality_funnel_first_failing_rule_attribution(spark, tmp_path):
    """Each doc is charged to its FIRST failing rule: a doc that is
    both short and stopword-free counts as too_short only; rule
    totals + survivors tile docs_in exactly."""
    import os

    from irio2024_mapreduce_spark.operators.text_analysis import (
        quality_funnel,
    )

    rows = [
        (1, None, "s"),                                  # null_text
        (2, "tiny doc", "s"),                            # too_short
        # 12 tokens, all identical → repetition 10000-10000//12
        (3, " ".join(["dup"] * 12), "s"),                # too_repetitive
        # 12 distinct tokens, no English stopword
        (4, " ".join(f"w{i}" for i in range(12)), "s"),  # no_stopwords
        # 12 distinct tokens incl "the" → passes everything
        (5, "the " + " ".join(f"w{i}" for i in range(11)), "s"),
        # short AND stopword-free: charged to too_short only
        (6, "x y", "s"),
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(os.path.join(stage, "documents.parquet"))

    got = quality_funnel(spark, stage).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert r == {
        "source": "s",
        "docs_in": 6,
        "k_null_text": 1,
        "k_too_short": 2,
        "k_too_repetitive": 1,
        "k_no_stopwords": 1,
        "docs_out": 1,
    }


def test_quality_unigram_lm_semantics_and_plan(spark, sf_dir):
    """The improbability score must separate rare-token docs from
    common-token docs, and the plan must keep the bounded-vocab
    topology: TakeOrderedAndProject for the vocab cut, broadcast join
    back onto the token stream (the corpus side never shuffles for
    the lookup)."""
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.text_analysis import (
        quality_unigram_lm,
    )

    df = quality_unigram_lm(spark, sf_dir)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows
    # every doc's score is >= 1 (N div c <= N, c <= N) and a doc made
    # entirely of vocab-topping tokens scores lower than the corpus max
    scores = [r["mean_improbability"] for r in rows.values()]
    assert all(s >= 1 for s in scores)
    assert min(scores) < max(scores)  # the signal separates docs
    # oov accounting is internally consistent
    assert all(
        0 <= r["oov_tokens"] <= r["n_tokens"] for r in rows.values()
    )

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
