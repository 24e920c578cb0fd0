"""Query plans. Each module exposes ``QUERIES: dict[str, QuerySpec]``;
`__spark_entry__` merges them for the driver harness.

A QuerySpec pairs the Spark implementation with its DuckDB oracle SQL.
Two authoring styles:
- dual rendering: Spark DataFrame code + DuckDB SQL generated from the
  SAME constants (tokenizer queries — dialects genuinely differ);
- shared SQL: one ANSI string executed by both Spark SQL and DuckDB
  (relational pack — dialect subset is common), or a Spark SQL string
  with its DuckDB rendering where the dialects differ.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    note: str = ""


def top_k_ranked(df: DataFrame, top_k: int, *order: Column | str) -> DataFrame:
    """The ranked tail of a top-k query: the first ``top_k`` rows of
    ``df`` by ``order``, plus a long ``rank`` numbering them 1..k in that
    order. ``order`` must be a total order (end it with a unique key)
    so ties break the same way on every engine."""
    rank = F.row_number().over(Window.orderBy(*order)).cast("long")
    return df.orderBy(*order).limit(top_k).select("*", rank.alias("rank"))


def sql_over_views(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run ``sql`` over ``sf_dir``'s fixture tables as temp views."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(sql)


def shared_sql(sql: str, note: str = "", duck: str | None = None) -> QuerySpec:
    """Spark SQL over the fixture views. The DuckDB oracle runs the same
    string, or ``duck`` where the two dialects must differ."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sql_over_views(spark, sf_dir, sql)

    return QuerySpec(fn=fn, oracle=sql if duck is None else duck, note=note)
