"""User-function surface helpers: one Arrow-batched scalar
``pandas_udf`` and one ``applyInPandas`` grouped-map example, exposed
as library utilities.

No engine path calls them: they are the only code behind SURVEY.md
§2.3's UDF line ("expose one ``pandas_udf`` scalar example and one
``applyInPandas`` grouped-map example as library helpers"). They are
the sanctioned escape hatches when built-ins can't express the
semantics — always Arrow-batched (10-100× over row-at-a-time Python
UDFs), never in the hot path of the declared queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def zscore_scalar():
    """Batch-local z-score — SURVEY.md §2.3's scalar pandas UDF
    example (one Arrow batch in, one out; vectorized numpy under the
    hood). Built lazily: the ``pandas_udf`` decorator needs an active
    SparkSession, so it can't run at import time."""

    @pandas_udf("double")
    def _zscore(v: pd.Series) -> pd.Series:
        std = v.std(ddof=0)
        if std == 0 or pd.isna(std):
            return v * 0.0
        return (v - v.mean()) / std

    return _zscore


def zscore_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """SURVEY.md §2.3's grouped-map ``applyInPandas`` example: true
    per-group z-score (the scalar UDF above normalizes per-batch; this
    one shuffles by group and normalizes per-group — the semantics
    built-in window aggs could also express, kept here as the
    canonical grouped-map template)."""
    schema = f"{group_col} string, {value_col} double, z double"

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=0)
        z = (pdf[value_col] - pdf[value_col].mean()) / std if std else 0.0
        return pd.DataFrame(
            {
                group_col: pdf[group_col].astype(str),
                value_col: pdf[value_col],
                "z": z,
            }
        )

    return (
        df.select(F.col(group_col).cast("string"), F.col(value_col))
        .groupBy(group_col)
        .applyInPandas(norm, schema=schema)
    )
