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

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    note: str = ""


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
