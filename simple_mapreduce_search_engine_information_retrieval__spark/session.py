"""SparkSession factory.

Defaults are chosen for the test harness (local[32], 128 GiB box) but the
knobs mirror what a 1000-executor cluster run would set: AQE on (runtime
partition coalescing + skew-join splitting), explicit shuffle partitions,
Arrow for the few pandas-UDF paths, UTC session timezone so results are
byte-identical to the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's one session conf table. get_spark applies it,
    bench_profile.py overrides only spark.ui.enabled, and
    sources.tables.ensure_session_confs re-asserts the keys every plan
    depends on in a caller-provided session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE size the output partitioning of CACHED plans by bytes
        # (guide §2.2: fewer, larger partitions): the warm memo caches
        # (postings, shingles, bands, embeddings) otherwise pin the
        # shuffle-partition count at cache-build time, and every
        # InMemoryTableScan consumer pays that task count forever —
        # measured r17: search_two_term 164→40 tasks (1.10→0.66 s),
        # dedup_incremental_minhash 657→94 tasks (2.80→1.24 s),
        # graph_pagerank_terms 397→25 tasks (1.23→0.72 s) at sf0.1.
        # Scale-adaptive, not a local tune: partitions follow
        # advisoryPartitionSizeInBytes, so a 100 TB cached relation
        # keeps thousands of partitions while a dictionary-sized memo
        # collapses to a handful.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # older fixture generations carried events.ts as TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects — read those as
        # epoch-nanos long; sources/tables.py::ts_as_nanos normalizes the
        # current timestamp[us] generation to the same canonical long.
        # DuckDB side uses epoch_ns() for the same integer value.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


def get_spark(app_name: str = "smse-spark", shuffle_partitions: int | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    return builder.config(map=session_confs(shuffle_partitions)).getOrCreate()
