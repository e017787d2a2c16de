"""SparkSession factory with configs pinned for this engine.

Replaces the reference's entire control plane (coordinator process,
Postgres job state, k8s DNS worker discovery — see SURVEY.md §3.1):
on Spark, a session *is* the engine. Configs are chosen for
scale-out correctness first, local[32] testing second:

* AQE on — runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion replace the reference's
  "expected_parts = live workers" elasticity
  (reference ``mapreduce/coordinator/update_loop.py:88-89``).
* UTC session timezone — the events table is timestamp-typed; window
  boundaries must agree with the DuckDB oracle.
* Arrow enabled — every pandas UDF / ``mapInPandas`` crossing is
  Arrow-batched, never row-at-a-time pickling.
* Generated-class cache sized to the working set — Spark keeps each
  whole-stage-codegen class in a JVM-wide LRU of
  ``spark.sql.codegen.cache.maxEntries`` classes (default 100). One
  pass of the 32 headline queries at sf0.1 compiles 622 distinct
  classes, so at the default every repeat of a plan compiles its
  classes again with Janino, and the JIT compiles the new bytecode
  again after that. :data:`CODEGEN_CACHE_ENTRIES` (2000, about 6 MB of
  bytecode) holds them all. The conf is STATIC: it takes effect only
  on a JVM that :func:`get_spark` launches; a session someone else
  built keeps its own size, and :func:`ensure_session_confs` cannot
  change it.
* Stage ids kept out of generated class names
  (``spark.sql.codegen.useIdInClassName=false``) — the cache is keyed
  by the generated source, and by default each class is named after
  its whole-stage-codegen stage id. AQE assigns those ids in the
  order it creates query stages, which depends on which concurrent
  shuffle stage finishes first, so a byte-identical body under a new
  id missed the cache and compiled again (``stats_pack``,
  ``dedup_incremental``, ``dedup_clusters``). Runtime-settable:
  :func:`ensure_session_confs` pins it too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Duplicated subtrees under explode(): explode() over a
# projected array column makes InferFiltersFromGenerate add a
# ``size(col) > 0`` filter, which PushDownPredicates then rewrites
# through the defining Project — re-substituting the FULL array-building
# expression (for the shingle/n-gram paths that is the interpreted
# higher-order transform, with split(text) inlined per element — the
# O(len²)-per-doc form) into a per-row Filter that runs BEFORE and IN
# ADDITION TO the projection itself. Every exploded array in this
# engine is non-empty by construction (``greatest(bound, 1)`` floors
# the sequence), so the inferred filter prunes zero rows: excluding
# the rule removes a full duplicate evaluation of the most expensive
# per-task expressions and cannot change results (explode drops
# empty/null arrays itself). Measured in OPTIMIZATION_r14.md.
EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# Entries in the JVM-wide cache of compiled whole-stage-codegen classes
# (``spark.sql.codegen.cache.maxEntries``, default 100). Basis: one
# iteration of the 32 graded headline queries at sf0.1 compiles 622
# distinct classes, and perfbench's relational and dupheavy warm-ups
# compile 105 and 114; at the default, each repeated plan evicts and
# recompiles its classes. The mean generated class is 2.5-2.9 KB of
# bytecode, so 2000 entries hold about 6 MB.
CODEGEN_CACHE_ENTRIES = 2000


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs correctness depends on, on an
    EXISTING session (the grading driver builds its own session, which
    won't have gone through :func:`get_spark`):

    * ``nanosAsLong`` — events.ts is parquet TIMESTAMP(NANOS); without
      this every read of the events table throws PARQUET_TYPE_ILLEGAL.
    * UTC session timezone — window boundaries / date parts must agree
      with the DuckDB oracle regardless of host timezone.
    * ``InferFiltersFromGenerate`` excluded — see :data:`EXCLUDED_RULES`
      (perf, not correctness: results are identical with the rule on;
      runtime-settable, so pinning it here reaches sessions that never
      went through :func:`get_spark`).
    * ``codegen.useIdInClassName`` off — see the module docstring
      (perf only, like the rule above).
    """
    # Set once per SparkSession object — this runs on EVERY
    # load_table call (several per query build, 3 py4j round-trips
    # each), which profiling showed as measurable driver time across
    # a 32-query battery. The flag rides on the Python session object;
    # a second Python wrapper around the same JVM session just re-sets
    # the same values once (idempotent). A tool that changes one of
    # these confs mid-session restores it itself.
    if getattr(spark, "_irio_confs_ensured", False):
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        spark._irio_confs_ensured = True
    except AttributeError:  # exotic session wrapper with __slots__
        pass


def compile_counters(spark: SparkSession) -> tuple[int, int]:
    """(classes Janino has compiled, ms the JIT has spent compiling) in
    this driver JVM so far — the compile layer, which executor CPU
    does not show. Take differences around the work to attribute."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        .getTotalCompilationTime(),
    )


def drain_driver_backlog(spark: SparkSession | None = None) -> None:
    """Session hygiene for long-lived PySpark drivers running many
    distinct queries: force a Python GC so the py4j JavaObject
    reference backlog (every Column/DataFrame handle a plan build
    creates) detaches NOW, between queries, instead of when Python's
    generational GC happens to fire MID-build — at which point the
    detach RPCs serialize on the same py4j gateway connection the
    build needs and wall time inflates 3-30× with no JVM-side
    signature (root-caused in SCALE.md, "py4j GC bursts"; measured
    stats_pack 50-78 s vs 1.6-3.1 s at sf0.001). Call between queries in any
    multi-query driver loop (bench.py and tools/check_oracle.py do).

    Pass ``spark`` to ALSO trigger a JVM collection: detaching the
    Python refs makes the JVM-side RDD/broadcast handles garbage, but
    the ContextCleaner only unpersists their block-manager entries
    when the JVM actually collects — and a mostly-idle multi-GiB
    driver heap can go a long time between collections, so repeated
    checkpoint-heavy queries accumulate dead blocks and degrade
    (measured: iterative dedup_clusters runs swinging 8-64 s
    uncontrolled vs settling at 5.5-5.9 s with the JVM nudge;
    persistent-RDD count held flat instead of growing). Driver-side
    only; executor JVMs are unaffected.
    """
    import gc
    import time

    gc.collect()
    if spark is not None:
        spark.sparkContext._jvm.System.gc()
        # ContextCleaner processes the newly-enqueued dead references
        # on its OWN thread — give it a beat so the unpersist/remove
        # RPC burst lands HERE, not inside the caller's next timed
        # window (measured: without the pause, a bench battery's tail
        # queries inflated ~1.5-2× from cleaner work running
        # concurrently with them)
        time.sleep(0.3)


def get_spark(
    app_name: str = "irio2024-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the caller passes no ``master`` and
    spark-submit supplies it; locally we default to ``local[N]``
    with N = ``$SPARK_GRAFT_CPUS`` or all cores.

    The generated-class cache is sized to :data:`CODEGEN_CACHE_ENTRIES`.
    That conf is static: it applies only when this call launches the
    JVM, not when ``getOrCreate`` returns a session that already runs.
    ``extra_conf`` is applied last, so a caller can still override it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # results must not depend on AQE: tools/check_oracle.py --conf
    # spark.sql.adaptive.enabled=false re-runs the oracle with it off
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: at 100 TB the default 128 MiB split keeps ~800k tasks for
        # the full scan — fine; don't shrink it. Open cost keeps many tiny
        # files from over-splitting.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in the source (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NB: only engages on the DataSource V2 parquet path — Spark
        # defaults parquet to V1 (spark.sql.sources.useV1SourceList),
        # where this conf is inert. Kept on so deployments that flip
        # to V2 get footer-statistics COUNT/MIN/MAX for free; the V2
        # behavior is pinned by tests/test_plans.py.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # local-mode: driver heap IS the executor heap for all threads;
        # size it so GC pauses don't dominate multi-query batteries
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
        )
        # Long-lived-session hygiene: ContextCleaner only reclaims
        # shuffle files / broadcast blocks / checkpointed RDDs when the
        # JVM garbage-collects their driver-side handles — and a large,
        # mostly-idle heap (24 GiB here, bigger in production) can go
        # HOURS between collections, so a many-query session leaks disk
        # and block-manager entries the whole time. A 15-minute forced
        # GC bounds that window; the default is 30 min.
        .config("spark.cleaner.periodicGC.interval", "15min")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Production state-store: RocksDB keeps streaming state (open
    # sessions, window partials) off-heap and spillable — the default
    # HDFS-backed provider holds every key in executor heap, which at
    # 100 TB / millions of open sessions is an OOM. Off by default
    # locally (tests run both providers the same way); flip on with
    # SPARK_GRAFT_ROCKSDB_STATE=1.
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
