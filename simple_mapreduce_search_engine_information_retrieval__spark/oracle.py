"""DuckDB-oracle comparison helper — local replica of the driver's
correctness gate (row-count + schema-name + order-insensitive value
compare) so every QuerySpec is verified in-repo before the driver sees it.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType

from .sources.tables import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Replicate the DRIVER's canon order of operations: sort the RAW
    columns first, stringify after. The driver's sort factorizes raw
    cells, so an unhashable cell (a plain list/ndarray output column,
    e.g. an un-joined array<bigint>) hard-errors there; sorting raw here
    reproduces that failure locally instead of masking it (round-3
    embedding_int8_quantize lesson — stringify-before-sort hid it)."""
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df


def compare(spark_df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    issues: list[str] = []
    s = spark_df.toPandas()
    d = con.execute(sql).df()
    if sorted(s.columns) != sorted(d.columns):
        return [f"columns differ: spark={sorted(s.columns)} duck={sorted(d.columns)}"]
    if len(s) != len(d):
        issues.append(f"row count differs: spark={len(s)} duck={len(d)}")
        return issues
    # The driver's value-hash is sensitive to PHYSICAL type, not just the
    # rendered value — e.g. DuckDB widens sum(BIGINT) to HUGEINT (arrives
    # as float64/object in pandas) while Spark stays int64; values agree,
    # hashes don't (round-1 term_stats_k1/tpch_q12 failures). Flag any
    # numeric-kind divergence so it is caught here, not by the driver.
    for c in sorted(s.columns):
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk and {sk, dk} <= {"i", "u", "f", "O"}:
            issues.append(
                f"column {c} dtype kind differs: spark={s[c].dtype} "
                f"duck={d[c].dtype} (cast both sides, e.g. BIGINT)"
            )
    if issues:
        return issues
    try:
        sn, dn = _normalize(s), _normalize(d)
    except TypeError as exc:
        return [
            "driver-canon sort failed — an output column holds raw "
            f"lists/arrays (unhashable under the driver's factorize): {exc}. "
            "Render arrays as strings (array_join / array_to_string) or "
            "explode them to rows."
        ]
    for c in sn.columns:
        sv, dv = sn[c], dn[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            ok = all(
                (math.isnan(a) and math.isnan(b)) or a == b
                for a, b in zip(sv.astype(float), dv.astype(float))
            )
        else:
            ok = sv.astype(str).equals(dv.astype(str))
        if not ok:
            bad = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(sv, dv))
                if str(a) != str(b)
            ][:5]
            issues.append(f"column {c} values differ, first diffs: {bad}")
    return issues


def check_query(
    spark: SparkSession, sf_dir: str, name: str, spec
) -> list[str]:
    con = duck_connect(sf_dir)
    try:
        df = spec.fn(spark, sf_dir)
        # the driver canon cannot hash a top-level array/map column
        # (struct columns are fine: Rows are tuples), whatever the oracle
        raw = [
            f"{name}: raw {f.dataType.simpleString()} output column {f.name}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if raw:
            return raw
        if spec.oracle is None:
            n = df.count()
            return [] if n >= 0 else [f"{name}: negative count?"]
        return [f"{name}: {m}" for m in compare(df, con, spec.oracle)]
    finally:
        con.close()
