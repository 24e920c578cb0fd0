"""The fixture catalog: every plan reads the Parquet fixture tables (see
TESTDATA.md) through this module.

Each table is resolved once per session and ``sf_dir``: ``raw_table`` is a
``caches.memo`` over ``spark.read.parquet``, so its schema-inference job
runs on the first read only and every later plan reuses the resolved
relation. A DataFrame is a lazy plan over that relation, so sharing it
loses nothing: Catalyst still prunes columns and pushes predicates per
query. ``table`` adds the canonical ``ts`` form for events, and
``register_views`` re-points the ten temp views at the memoized frames on
every call (no job), so switching ``sf_dir`` re-points them too.

Fixture files are treated as immutable for the life of a session. After
rewriting a fixture in place, ``caches.evict(sf_dir)`` drops its reads
and the next call re-resolves them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..caches import memo
from ..session import session_confs

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided SparkSession (e.g. the grading driver's,
    which won't have our session.py defaults) able to run every plan:
    - older fixture generations carried events.ts as TIMESTAMP(NANOS) →
      read as epoch-nanos long (all time queries do exact integer
      arithmetic on it);
    - UTC session timezone so timestamp renderings match the oracle (and
      so naive-timestamp → epoch conversions are timezone-independent).
    Values come from session.py's conf table."""
    confs = session_confs()
    try:
        for key in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"):
            spark.conf.set(key, confs[key])
    except Exception:  # pragma: no cover — conf locked down: proceed
        pass


def ts_as_nanos(df: DataFrame) -> DataFrame:
    """Normalize an events DataFrame so ``ts`` is epoch-nanos BIGINT, the
    canonical form every time plan does exact integer arithmetic on.

    The driver's fixture has shipped ``ts`` as both TIMESTAMP(NANOS)
    (read as long via nanosAsLong) and timestamp[us] (read as
    TIMESTAMP_NTZ); accept either. The NTZ value is interpreted as UTC —
    matching DuckDB, whose naive-TIMESTAMP ``epoch_ns(ts)`` the oracles
    use — via the UTC session timezone set in ensure_session_confs."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    field = df.schema["ts"] if "ts" in df.columns else None
    if field is None or isinstance(field.dataType, LongType):
        return df
    return df.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    )


@memo
def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one read of ``<sf_dir>/<name>.parquet`` per session, with the
    file's physical types (streams take their schema from it). Callers
    run ensure_session_confs first."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = raw_table(spark, sf_dir, name)
    return ts_as_nanos(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Point every fixture temp view (mirrors the oracle's DuckDB-side
    views) at this ``sf_dir``'s tables and return them."""
    out = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
