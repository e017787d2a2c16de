"""tools/profiler.py: per-span layers and the hash-gated A/B.

Also the only default-gate check that the tool's ``perfbench.spans``
import resolves (``test_tool_imports_resolve`` follows package
imports only)."""

from __future__ import annotations

import pytest

from irio2024_mapreduce_spark import registry
from tools import profiler as P

SPAN_FIELDS = {
    "wall_s", "jobs", "stages", "tasks", "max_tasks_per_stage",
    "executor_run_s", "executor_cpu_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "codegen_compiles", "jit_ms",
}


def test_layers_splits_wordcount_into_build_plan_exec(spark, sf_dir):
    rec = P.layers(spark, sf_dir, ["wordcount"], iters=2)["wordcount"]
    # every run has its own job groups: a later run counts only its jobs
    again, _ = P.run_once(spark, registry.wordcount_query, sf_dir, "wordcount")
    assert again["exec"]["jobs"] == rec["exec"]["jobs"]
    for span in P.SPANS:
        assert set(rec[span]) == SPAN_FIELDS
    ex = rec["exec"]
    assert ex["jobs"] >= 1 and ex["stages"] >= 1
    assert ex["tasks"] >= ex["max_tasks_per_stage"] >= 1
    assert ex["executor_cpu_s"] > 0
    assert rec["plan"]["jobs"] == 0
    # the generated-class cache holds the earlier runs' classes
    assert sum(again[s]["codegen_compiles"] for s in P.SPANS) == 0


def test_ab_identical_arms_report_times_and_restore_conf(spark, sf_dir):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    same = P.parse_patch(
        "irio2024_mapreduce_spark.registry:wordcount_query="
        "irio2024_mapreduce_spark.registry:wordcount_query"
    )
    rep = P.ab(
        spark, sf_dir, ["wordcount"], [same], {key: "false"}, rounds=1
    )["wordcount"]
    for arm in "AB":
        assert rep[arm]["wall_min_s"] > 0
        assert rep[arm]["executor_cpu_median_s"] > 0
        assert rep[arm]["spans"]["exec"]["jobs"] >= 1
    assert spark.conf.get(key) == before


def test_ab_refuses_an_arm_that_drops_a_row_before_timing(
    spark, sf_dir, tmp_path, monkeypatch
):
    src = tmp_path / "drop_one.py"
    src.write_text(
        "from irio2024_mapreduce_spark import registry\n"
        "_orig = registry.wordcount_query\n"
        "def wordcount_query(spark, sf_dir):\n"
        "    df = _orig(spark, sf_dir)\n"
        "    return df.exceptAll(df.limit(1))\n"
    )
    orig = registry.wordcount_query
    wrong = P.parse_patch(
        f"irio2024_mapreduce_spark.registry:wordcount_query={src}:wordcount_query"
    )

    def timed(*_a, **_k):
        pytest.fail("an arm was timed before its hashes matched")

    monkeypatch.setattr(P, "run_once", timed)
    with pytest.raises(P.HashMismatch) as ei:
        P.ab(spark, sf_dir, ["wordcount"], [wrong], rounds=1)
    a, b = ei.value.args[0]["wordcount"]
    assert a != b and len(a) == len(b) == 64
    assert registry.wordcount_query is orig
