"""JobRegistry (R13 parity), sinks (R9 parity), UDF helper tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.functions.udfs import zscore_by_group, zscore_scalar
from irio2024_mapreduce_spark.registry_jobs import JobRegistry, JobStatus
from irio2024_mapreduce_spark.sources.sinks import (
    write_partitioned,
    write_single_file,
)


def test_job_lifecycle(spark):
    reg = JobRegistry(spark)
    jid = reg.start_job(lambda s: s.range(10).toDF("x"))
    job = reg.job_status(jid)
    assert job.status is JobStatus.FINISHED and job.rows == 10
    assert reg.last_job_status().job_uuid == jid


def test_job_failure_recorded(spark):
    reg = JobRegistry(spark)
    jid = reg.start_job(lambda s: s.sql("select * from missing_table_xyz"))
    job = reg.job_status(jid)
    assert job.status is JobStatus.FAILED
    assert "missing_table_xyz" in (job.error or "")


def test_single_job_lock(spark):
    """Reference parity: one job at a time (database.py:53-55)."""
    import threading

    reg = JobRegistry(spark)
    gate = threading.Event()

    def slow(s):
        gate.wait(timeout=10)
        return s.range(1)

    reg.start_job(slow, block=False)
    with pytest.raises(RuntimeError, match="in progress"):
        reg.start_job(lambda s: s.range(1))
    gate.set()


def test_single_file_sink(spark, tmp_path):
    """R9: exactly one data file, concatenating all partitions."""
    df = spark.range(100).repartition(8).toDF("x")
    out = str(tmp_path / "single")
    write_single_file(df, out, fmt="csv")
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1
    lines = open(os.path.join(out, files[0])).read().strip().split("\n")
    assert len(lines) == 101  # header + 100 rows


def test_partitioned_sink_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], ["x", "part"]
    )
    out = str(tmp_path / "parts")
    write_partitioned(df, out, partition_by=["part"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("part=")
    ) == ["part=a", "part=b"]
    back = spark.read.parquet(out).filter(F.col("part") == "a")
    assert back.count() == 2


def test_partitioned_read_gets_partition_filters(spark, tmp_path):
    """Partition pruning must appear in the scan, not post-filter:
    the 100 TB payoff of hive-style layout."""
    import contextlib
    import io

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(20)], ["x", "part"]
    )
    out = str(tmp_path / "pp")
    write_partitioned(df, out, partition_by=["part"])
    scan = spark.read.parquet(out).filter(F.col("part") == "a")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain(mode="formatted")
    plan = buf.getvalue()
    import re

    assert "PartitionFilters" in plan
    assert re.search(r"part#\d+ = a", plan)


def test_csv_json_source_roundtrip(spark, tmp_path):
    """Source coverage beyond parquet: csv + json read back with
    schema intact through the sink helpers."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], ["k", "v"]
    )
    csv_dir = str(tmp_path / "c")
    json_dir = str(tmp_path / "j")
    write_single_file(df, csv_dir, fmt="csv")
    df.write.mode("overwrite").json(json_dir)
    back_csv = spark.read.option("header", "true").csv(csv_dir)
    back_json = spark.read.json(json_dir)
    assert {tuple(r) for r in back_csv.collect()} == {("1", "x"), ("2", "y")}
    assert {(r["k"], r["v"]) for r in back_json.collect()} == {(1, "x"), (2, "y")}


def test_zscore_scalar_udf(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], ["v"])
    rows = sorted(
        r["z"] for r in df.select(zscore_scalar()("v").alias("z")).collect()
    )
    assert abs(rows[1]) < 1e-9 and abs(rows[0] + rows[2]) < 1e-9


def test_salted_agg_equals_direct(spark, sf_dir):
    """Salted two-phase aggregation must be value-identical to the
    direct groupBy (associative partials compose exactly)."""
    from irio2024_mapreduce_spark.functions.skew import salted_agg_sum
    from irio2024_mapreduce_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    direct = {
        (r["o_orderstatus"], round(r["s"], 2), r["c"])
        for r in orders.groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    salted = {
        (r["o_orderstatus"], round(r["sum_o_totalprice"], 2), r["cnt"])
        for r in salted_agg_sum(
            orders, ["o_orderstatus"], "o_totalprice", buckets=8
        ).collect()
    }
    assert salted == direct


def test_skew_aware_group_apply_equals_direct(spark, sf_dir):
    """Hot-key-only salted group-map must be value-identical to a
    direct applyInPandas — both when the threshold marks a key hot
    (its partials merge across salt buckets) and when nothing
    qualifies (pure pass-through topology)."""
    import pandas as pd

    from irio2024_mapreduce_spark.functions.skew import (
        skew_aware_group_apply,
    )
    from irio2024_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")

    def gstat(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n": [len(pdf)],
                "v_sum": [float(pdf["value"].sum())],
            }
        )

    direct = {
        (r["user_id"], r["n"], round(r["v_sum"], 6))
        for r in ev.groupBy("user_id")
        .applyInPandas(gstat, schema="user_id long, n long, v_sum double")
        .collect()
    }
    for threshold in (5, 10**9):  # most keys hot / nothing hot
        got = {
            (r["user_id"], r["n"], round(r["v_sum"], 6))
            for r in skew_aware_group_apply(
                ev,
                ["user_id"],
                gstat,
                "user_id long, n long, v_sum double",
                {"n": F.sum("n"), "v_sum": F.sum("v_sum")},
                buckets=4,
                hot_threshold=threshold,
            ).collect()
        }
        assert got == direct, f"threshold={threshold}"


def test_zscore_grouped(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 30.0)], ["g", "v"]
    )
    out = zscore_by_group(df, "g", "v").collect()
    by_g: dict[str, list[float]] = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["z"])
    for zs in by_g.values():
        assert sorted(zs) == [-1.0, 1.0]
