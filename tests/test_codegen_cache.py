"""The session's generated-class cache holds a repeated battery's
classes: running the same plans again compiles nothing."""

from __future__ import annotations

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


def _run_battery(spark, sf_dir) -> int:
    """Classes Janino compiled while the battery ran."""
    qs = registry.queries()
    before, _ = compile_counters(spark)
    for name in RELATIONAL:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return compile_counters(spark)[0] - before


def test_repeated_battery_compiles_no_class(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    _run_battery(spark, sf_dir)
    assert _run_battery(spark, sf_dir) == 0
