"""The session's generated-class cache holds a repeated battery's
classes: running the same plans again compiles nothing, also when AQE
numbers a query's stages in a different order."""

from __future__ import annotations

import re

from conftest import executions_after, last_execution_id
from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    compile_counters,
)

# perfbench's relational battery: about 100 classes at sf0.001, more
# than Spark's default cache keeps (100 entries, evicted per segment,
# so at the default the second run compiles about half of them again)
RELATIONAL = (
    "wordcount",
    "custom_step_udf",
    "join_shuffle",
    "time_rollup",
    "conditional_agg",
    "event_session",
    "json_extract",
    "text_analysis",
)

# queries whose AQE stage numbering differs between runs; with stage
# ids in the generated class names, a run that planned exactly as an
# earlier run still compiled classes with byte-identical bodies
STAGE_ORDER_VARIES = ("stats_pack", "dedup_incremental", "dedup_clusters")


def _run_battery(spark, sf_dir, names=RELATIONAL) -> int:
    """Classes Janino compiled while the battery ran."""
    qs = registry.queries()
    before, _ = compile_counters(spark)
    for name in names:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return compile_counters(spark)[0] - before


def test_repeated_battery_compiles_no_class(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    _run_battery(spark, sf_dir)
    assert _run_battery(spark, sf_dir) == 0


def _plan_shapes(spark, last_id) -> set[str]:
    """The final plan trees of the SQL executions after ``last_id``,
    every number (expression ids, stage ids, statistics) blanked."""
    return {
        re.sub(r"\d+", "N", e.physicalPlanDescription().split("\n\n")[0])
        for e in executions_after(spark, last_id)
    }


def test_stage_ids_stay_out_of_class_names(spark, sf_dir):
    """A query's run that plans exactly as its earlier runs compiles
    nothing. AQE also picks a runtime broadcast join's build side by
    which shuffle side finished first, so a run may plan a variant no
    earlier run planned; only such a run may compile."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    seen: dict[str, set[str]] = {name: set() for name in STAGE_ORDER_VARIES}
    repeats = []
    for _ in range(4):
        for name in STAGE_ORDER_VARIES:
            last_id = last_execution_id(spark)
            compiled = _run_battery(spark, sf_dir, (name,))
            shapes = _plan_shapes(spark, last_id)
            if shapes <= seen[name]:
                repeats.append((name, compiled))
            seen[name] |= shapes
    assert len(repeats) >= 4, repeats
    assert all(compiled == 0 for _, compiled in repeats), repeats
