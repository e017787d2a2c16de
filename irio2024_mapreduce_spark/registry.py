"""Central query registry — the driver contract surface.

Aggregates every implemented query (name → (spark, sf_dir) → DataFrame)
and its DuckDB oracle SQL from the operator modules: the graded
`queries()`/`oracle_sql()` driver contract, and the ungraded
`retired_queries()` pool. It is the only reader of the per-module
dicts. `__spark_entry__.py` at the repo root is a thin re-export of
this module.
"""

from __future__ import annotations

import importlib

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.functions.text import TOKEN_SPLIT_REGEX, wordcount
from irio2024_mapreduce_spark.operators.similarity import (
    DRIVER_ORACLE_SF,
)
from irio2024_mapreduce_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


# --------------------------------------------------------------------------
# E1 wordcount — the reference's flagship query (SURVEY.md §2.2)
# --------------------------------------------------------------------------
def wordcount_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R1–R10 fused: tokenize documents.text, count words.

    Tokenizer parity with ``mapreduce/worker/algorithm.py:9``
    (case-sensitive, ASCII punctuation+whitespace separators,
    empty tokens dropped).
    """
    docs = load_table(spark, sf_dir, "documents")
    return wordcount(docs.select(F.col("text").alias("value")))


WORDCOUNT_ORACLE = f"""
    SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(regexp_split_to_array(text, '{TOKEN_SPLIT_REGEX}')) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word
"""


# The driver grades only the first 50 queries() entries, positionally
# (55 registered once gave exactly 50 graded rows). Every entry must
# stay inside that window: a near-twin of a graded query, or an extra
# with no room left, goes into its module's RETIRED_TWIN_QUERIES
# instead (still implemented, and oracle-checked locally by
# tests/test_query_battery.py).
DRIVER_QUERY_WINDOW = 50

# An oracle is DuckDB SQL, or for a data-dependent one (trained
# centroids injected as constants) a builder sf_dir -> SQL, resolved
# only when an oracle is asked for: resolving at registration would
# make every process that merely lists queries pay the training.
Oracle = str | Callable[[str], str]

# Module order is part of the driver contract: families that once went
# unchecked (pipeline/custom step, streaming, multimodal) are
# registered FIRST so a tighter driver window can never silently drop
# a whole family again.
_OPERATOR_MODULES = (
    "pipeline_queries",
    "streaming_queries",
    "multimodal",
    "relational",
    "advanced",
    "misc",
    "chunking",
    "events",
    "json_array",
    "dedup",
    "similarity",
    "text_analysis",
    "llm_prep",
)


def _build() -> dict[str, dict]:
    """Every operator module's four dicts, merged in module order:
    ``QUERIES``/``ORACLE_SQL`` (graded) and ``RETIRED_TWIN_QUERIES``/
    ``RETIRED_TWIN_ORACLES`` (ungraded; a retired query with no oracle
    entry is checked rows-only)."""
    pools: dict[str, dict] = {
        "QUERIES": {"wordcount": wordcount_query},
        "ORACLE_SQL": {"wordcount": WORDCOUNT_ORACLE},
        "RETIRED_TWIN_QUERIES": {},
        "RETIRED_TWIN_ORACLES": {},
    }
    for mod_name in _OPERATOR_MODULES:
        # imports are strict: a broken operator module must fail the
        # contract loudly, not silently shrink the checked surface
        mod = importlib.import_module(
            f"irio2024_mapreduce_spark.operators.{mod_name}"
        )
        for attr, pool in pools.items():
            pool.update(getattr(mod, attr, {}))
    if len(pools["QUERIES"]) > DRIVER_QUERY_WINDOW:
        raise RuntimeError(
            f"{len(pools['QUERIES'])} queries registered but the driver "
            f"grades only the first {DRIVER_QUERY_WINDOW} — retire/merge a "
            "near-twin (see RETIRED_TWIN_QUERIES) instead of exceeding "
            "the window"
        )
    return pools


def _resolve(oracles: dict[str, Oracle], sf_dir: str) -> dict[str, str]:
    return {
        name: sql if isinstance(sql, str) else sql(sf_dir)
        for name, sql in oracles.items()
    }


def queries() -> dict[str, QueryFn]:
    return _build()["QUERIES"]


def oracle_sql() -> dict[str, str]:
    return oracle_sql_for(DRIVER_ORACLE_SF)


def oracle_sql_for(sf_dir: str) -> dict[str, str]:
    """Graded oracle SQL with the data-dependent entries built for
    ``sf_dir``. ``oracle_sql()`` is this at the driver's SF; local
    tooling (tools/check_oracle.py, perfbench) checks other SFs."""
    return _resolve(_build()["ORACLE_SQL"], sf_dir)


def retired_queries() -> dict[str, QueryFn]:
    """The ungraded pool: every module's RETIRED_TWIN_QUERIES. Names
    never collide with queries(); callers that run both (bench.py,
    tools) let the registered entry win."""
    return _build()["RETIRED_TWIN_QUERIES"]


def retired_oracle_sql_for(sf_dir: str) -> dict[str, str]:
    """Oracle SQL of the retired queries that have one, with the
    data-dependent entries built for ``sf_dir``; the rest of
    ``retired_queries()`` is rows-only."""
    return _resolve(_build()["RETIRED_TWIN_ORACLES"], sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Driver smoke check: flagship wordcount at sf0.001."""
    return wordcount_query(spark, "/root/testdata/sf0.001")
