"""Parquet table sources for the synthetic star schema (TESTDATA.md).

The reference's only source is "every text blob under a GCS prefix"
(``mapreduce/coordinator/algorithm.py:19-68``, R1/R10 in SURVEY.md
§2.1) — on Spark that is a one-line multi-file read, provided by
:func:`read_text_dir`. The star-schema tables are columnar parquet;
we read them lazily so Catalyst prunes columns and pushes filters
into the scan (check ``.explain``: ``ReadSchema`` / ``PushedFilters``).

Scale note: at 100 TB these directories are thousands of parquet
files; ``spark.sql.files.maxPartitionBytes`` (128 MiB) controls split
planning — the reference's hand-rolled byte-range splitter
(``algorithm.py:30-57``) has no analog here because the datasource
does split planning natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.session import ensure_session_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# region/nation are fixed-size in TPC-H-style schemas.
BROADCAST_SAFE = ("region", "nation")

# Schema-inference memo. ``spark.read.parquet`` without a
# schema reads parquet footers and runs mergeSchemas on EVERY call —
# profiling showed ~0.1 s per load_table call, several calls per
# query build, on every timed bench iteration. The first read of a
# (dir, table) infers and records the schema; later reads pass it
# explicitly (``spark.read.schema(s).parquet``), exactly what a
# catalog-backed table does in production. This memoizes METADATA
# only — every query still scans the parquet data itself. Keyed by
# absolute path, holding (mtime_ns, schema): a table rewritten in place
# with an evolved schema replaces its entry (explicit-schema parquet
# reads don't fail on drift; dropped columns would silently come back
# as NULLs). The stat is one syscall per load_table call, ~1000×
# cheaper than the footer inference it replaces. A rewrite inside a
# nested partition dir (``t.parquet/k=v/part-*``) does not bump the
# table dir's own mtime and goes unseen; catching it would take a walk
# of every partition dir on every call, which is the per-call cost this
# memo exists to avoid.
_SCHEMA_CACHE: dict[str, tuple[int, object]] = {}


# byte-size memo for the width helper below — one os.walk per
# (path, mtime), the footprint a catalog's table statistics provide
# in production; same key and staleness rule as the schema memo
_SIZE_CACHE: dict[str, tuple[int, int]] = {}


def table_bytes(sf_dir: str, name: str) -> int:
    """Total on-disk bytes of one table's parquet files (memoized per
    (path, mtime)). Used to size user-pinned exchanges to the DATA,
    not the core count."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return 0
    cached_mtime, nbytes = _SIZE_CACHE.get(path, (None, 0))
    if cached_mtime != mtime:
        nbytes = 0
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if not f.startswith(("_", ".")):
                        nbytes += os.path.getsize(os.path.join(root, f))
        else:
            nbytes = os.path.getsize(path)
        _SIZE_CACHE[path] = (mtime, nbytes)
    return nbytes


# Target bytes per shuffle partition for user-pinned exchanges
# (guide §2.1 wants ~100 MB-1 GB post-shuffle partitions; AQE cannot
# coalesce a user-numbered repartition, so the number must be right
# at plan time). Env-tunable so a cluster deployment can align it
# with spark.sql.adaptive.advisoryPartitionSizeInBytes.
EXCHANGE_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_EXCHANGE_TARGET_BYTES", 128 * 1024 * 1024)
)


def exchange_width(spark: SparkSession, nbytes: int | None) -> int:
    """Width for a user-pinned exchange: enough partitions that each
    holds ~EXCHANGE_TARGET_BYTES of the input, floored at the session
    parallelism (never BELOW core count — small inputs still want
    every core on the expression-heavy stages these exchanges feed).
    ``nbytes`` None/0 (no size known) falls back to the parallelism."""
    p = spark.sparkContext.defaultParallelism
    if not nbytes:
        return p
    return max(p, -(-nbytes // EXCHANGE_TARGET_BYTES))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table; no action triggered.

    ``events.ts`` normalization — the synthetic generator has shipped
    the column as parquet TIMESTAMP(NANOS,false) in some rounds and
    TIMESTAMP(MICROS,false) in others, so both shapes are handled:

    * NANOS: Spark has no nanosecond timestamp type, so (with
      ``spark.sql.legacy.parquet.nanosAsLong``) it scans as int64 and
      we truncate to microseconds here, exactly like DuckDB/pandas do
      when downcasting ns→µs.
    * MICROS with ``isAdjustedToUTC=false``: Spark 4 infers
      TIMESTAMP_NTZ; we cast to the session-zoned TIMESTAMP type
      (session tz is pinned UTC, so the wall-clock values are
      unchanged — identical to how DuckDB treats the naive column).

    Either way the cast is a codegen'd expression on top of the scan;
    column pruning still reaches parquet.
    """
    ensure_session_confs(spark)
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # let the Spark reader raise its own error
    cached_mtime, schema = _SCHEMA_CACHE.get(path, (None, None))
    if cached_mtime == mtime:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        _SCHEMA_CACHE[path] = (mtime, schema)
    ts_type = next(
        (f.dataType.simpleString() for f in schema.fields if f.name == "ts"),
        None,
    )
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Scan + round-robin repartition to the session's parallelism.

    The test fixtures are single-row-group parquet files, which scan
    as ONE partition — so any expression-heavy narrow stage (shingle
    building, minhash, per-row cosine, pandas UDFs) would run on one
    core. Production inputs arrive in many splits and don't need
    this; the repartition reproduces that layout locally. Use for
    compute-bound per-row operators; plain aggregations stay on
    :func:`load_table` (their partial-agg is cheaper than a shuffle
    of the raw rows).
    """
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def read_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Reference R1+R10: all text files under a directory as one dataset.

    Each file is read line-by-line into a ``value: string`` column;
    files never bleed into each other (the reference guards the same
    invariant by splitting per-blob —
    ``mapreduce/coordinator/algorithm.py:26-32``).
    """
    return spark.read.text(path)


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """All CSV files under a directory, with an EXPLICIT schema.

    Schema inference is deliberately not offered: at 100 TB inference
    triggers an extra full (or sampled) scan before the real one, and
    a sampling-dependent schema is a correctness hazard (a column can
    silently flip type between runs). PERMISSIVE mode + a corrupt
    column keeps one malformed row from failing a 100 TB job while
    making the damage queryable (``WHERE _corrupt_record IS NOT
    NULL``) instead of silent.

    Note: Spark refuses a query whose only referenced column from a
    raw CSV/JSON scan is the internal corrupt-record column — select
    a data column alongside it (or ``.cache()`` the frame first) when
    filtering on ``_corrupt_record``."""
    return (
        spark.read.schema(_with_corrupt_col(schema, corrupt_col))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def _with_corrupt_col(schema, corrupt_col: str):
    """PERMISSIVE mode only captures the offending line if the schema
    CONTAINS the corrupt column (else malformed rows silently become
    all-NULL rows) — append it when absent. Accepts a StructType or a
    DDL string."""
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col not in schema.fieldNames():
        # build a FRESH StructType: StructType.add mutates in place and
        # returns self, so adding to the caller's (possibly shared /
        # module-level) schema object would silently append the corrupt
        # column to it — and the extra field could leak into writes or
        # DDL derived from that object
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
    return schema
