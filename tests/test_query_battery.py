"""Every query, graded and retired, against its DuckDB oracle and the
plan rules, in one pass.

Each case runs one query once on the session and collects its rows:

* Rows: row count, column names and the order-insensitive value hash
  of tools/check_oracle.py must equal the oracle's. A query with no
  oracle (the rows-only retirees pinned in tests/test_retired_twins.py)
  only has to return rows.
* Plans: the final physical plan of every SQL execution the query
  started — the root action and each ``localCheckpoint`` its build
  opened — is read from Spark's SQL status store. None may hold a
  ``CartesianProduct`` (an unpartitioned cross product, the plan a
  theta-join must never fall back to) or a ``BatchEvalPython`` (a
  row-at-a-time Python UDF; Arrow-batched crossings are the sanctioned
  Python boundary). A cross product with a side under the broadcast
  threshold plans as a ``BroadcastNestedLoopJoin`` instead, and at
  sf0.001 every side is under it, so that operator is allowed only in
  the queries that bound it by design.
"""

from __future__ import annotations

import duckdb
import pytest

from conftest import executions_after, last_execution_id
from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.sources.tables import TABLE_NAMES
from tools.check_oracle import value_hash

QUERIES = {**registry.retired_queries(), **registry.queries()}
FORBIDDEN = ("CartesianProduct", "BatchEvalPython")
# BroadcastNestedLoopJoin bounded by design: join_range's non-equi
# predicate against its tiny broadcast bands, and the similarity
# queries' cosine scoring of the corpus against a bounded, broadcast
# query set
NESTED_LOOP_BY_DESIGN = {"join_range", "similarity_ivf", "similarity_topk"}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles(sf_dir):
    return {
        **registry.retired_oracle_sql_for(sf_dir),
        **registry.oracle_sql_for(sf_dir),
    }


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query(name, spark, sf_dir, duck, oracles):
    last_id = last_execution_id(spark)
    sdf = QUERIES[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    execs = executions_after(spark, last_id)
    assert execs, "the query started no SQL execution"
    forbidden = FORBIDDEN
    if name not in NESTED_LOOP_BY_DESIGN:
        forbidden += ("BroadcastNestedLoopJoin",)
    for e in execs:
        plan = e.physicalPlanDescription()
        bad = [op for op in forbidden if op in plan]
        assert not bad, (
            f"{bad} in execution {e.executionId()} "
            f"({e.description()[:60]}):\n{plan[:4000]}"
        )

    if name not in oracles:
        assert s_rows
        return
    res = duck.execute(oracles[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert value_hash(s_cols, s_rows) == value_hash(d_cols, d_rows)
