"""SparkSession factory.

Defaults are chosen for the test harness (local[32], 128 GiB box) but the
knobs mirror what a 1000-executor cluster run would set: AQE on (runtime
partition coalescing + skew-join splitting), explicit shuffle partitions,
Arrow for the few pandas-UDF paths, UTC session timezone so results are
byte-identical to the DuckDB oracle. get_spark also ships the package
to the Python workers, so UDF queries run from any working directory.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


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


def ship_package(spark: SparkSession) -> None:
    """Zip this package's sources once per SparkContext and add the zip
    with ``addPyFile``, so Python workers import the package whatever
    their working directory (UDFs and UDTFs pickle their functions by
    module reference). The zip lives until this Python process exits."""
    sc = spark.sparkContext
    name = os.path.basename(_PACKAGE_DIR) + ".zip"
    if name in sc._python_includes:
        return
    out = tempfile.mkdtemp(prefix="smse-pyfiles-")
    atexit.register(shutil.rmtree, out, True)
    path = os.path.join(out, name)
    root = os.path.dirname(_PACKAGE_DIR)
    with zipfile.ZipFile(path, "w") as zf:
        for src in glob.glob(os.path.join(_PACKAGE_DIR, "**", "*.py"), recursive=True):
            zf.write(src, os.path.relpath(src, root))
    sc.addPyFile(path)


def get_spark(app_name: str = "smse-spark", shuffle_partitions: int | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    spark = builder.config(map=session_confs(shuffle_partitions)).getOrCreate()
    ship_package(spark)
    return spark
