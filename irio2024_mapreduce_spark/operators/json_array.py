"""Semi-structured operators — SURVEY.md §2.3 E15 (JSON), E16 (array/map).

All JVM-side builtins (``get_json_object``, ``from_json``, array
functions) — JSON parsing happens inside codegen'd expressions, never
in Python. At 100 TB, prefer ``from_json`` with an explicit schema
over repeated ``get_json_object`` calls on the same column: one parse
per row instead of one per extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from irio2024_mapreduce_spark.sources.tables import load_table

PROPS_SCHEMA = T.StructType([T.StructField("k", T.StringType())])

# Only integral strings are cast to BIGINT — engine-specific numeric-
# string coercion ('1.5' truncates in Spark, fails in DuckDB) never
# gets a chance to diverge. Written as regexp_extract+nullif (single
# reference to the parsed value) so the one from_json isn't duplicated
# into a when/otherwise pair by projection collapse. \A/\z anchors,
# NOT ^/$: Java's $ matches before a trailing newline, RE2's doesn't,
# so '123\n' would extract on Spark but not on DuckDB; \A/\z mean
# absolute string edges in both engines.
_INT_RE = r"\A(-?[0-9]+)\z"


def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction from events.props + an aggregate over
    the extracted value (proves the extraction feeds the planner).

    ONE ``from_json`` parse per row (a single JsonToStructs node in
    the optimized plan — asserted in tests/test_plans.py); every
    downstream use extracts from the parsed struct. Casting is
    regex-guarded to integral strings so both engines agree exactly.
    """
    events = load_table(spark, sf_dir, "events")
    # allowSingleQuotes=false: Jackson accepts {'k': 1} by default,
    # DuckDB's json_valid never does — disable so both engines reject
    # it. Residual known asymmetry (documented, out of the oracle
    # contract because the corpus is strict JSON and the dirty-value
    # classes are pinned by tests): Jackson tolerates trailing garbage
    # after the object and rejects trailing commas; yyjson is the
    # reverse. No engine-local switch aligns those two.
    k_raw = F.from_json(
        "props", PROPS_SCHEMA, {"allowSingleQuotes": "false"}
    )["k"]
    parsed = events.select(
        "event_id",
        "event_type",
        # try_cast, not cast: the regex guards integral FORM, not
        # MAGNITUDE — under ANSI mode a >int64 digit string would
        # abort the whole query on one dirty row (TRY_CAST mirrors it
        # in the oracle)
        F.nullif(F.regexp_extract(k_raw, _INT_RE, 1), F.lit(""))
        .try_cast("long")
        .alias("k_int"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k_int").alias("sum_k"),
            F.min("k_int").alias("min_k"),
            F.max("k_int").alias("max_k"),
        )
        .orderBy("event_type")
    )


def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function pack over tokenized documents (split, size,
    contains, distinct, sort, element_at). Map-typed columns are
    exercised in tests (DuckDB map comparison over the driver's
    hash is not portable — SURVEY E16 'mostly')."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(tokens).cast("long").alias("n_tokens"),
        F.array_contains(tokens, "spark").alias("has_spark"),
        F.size(F.array_distinct(tokens)).cast("long").alias("n_unique"),
        F.element_at(tokens, 1).alias("first_token"),
        F.element_at(tokens, -1).alias("last_token"),
        F.element_at(F.array_sort(F.array_distinct(tokens)), 1).alias(
            "min_token"
        ),
    )


ORACLE_SQL = {
    # CAST(SUM(...) AS BIGINT): DuckDB SUM(BIGINT) returns HUGEINT
    # (int128) — uncast it hash-diverges under the driver's
    # canonicalization even when every value matches (a graded
    # mismatch once came from exactly this).
    "json_extract": """
        WITH t AS (
            SELECT event_type,
                   TRY_CAST(NULLIF(regexp_extract(
                            CASE WHEN json_valid(props)
                                 THEN json_extract_string(props, '$.k')
                            END,
                            '\\A(-?[0-9]+)\\z', 1), '') AS BIGINT) AS k_int
            FROM events
        )
        SELECT event_type,
               COUNT(*)                    AS cnt,
               CAST(SUM(k_int) AS BIGINT)  AS sum_k,
               MIN(k_int)                  AS min_k,
               MAX(k_int)                  AS max_k
        FROM t
        GROUP BY event_type
        ORDER BY event_type
    """,
    "array_ops": """
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT                    AS n_tokens,
               list_contains(string_split(text, ' '), 'spark')         AS has_spark,
               len(list_distinct(string_split(text, ' ')))::BIGINT     AS n_unique,
               string_split(text, ' ')[1]                              AS first_token,
               string_split(text, ' ')[-1]                             AS last_token,
               list_sort(list_distinct(string_split(text, ' ')))[1]    AS min_token
        FROM documents
    """,
}

QUERIES = {
    "json_extract": json_extract,
    "array_ops": array_ops,
}
