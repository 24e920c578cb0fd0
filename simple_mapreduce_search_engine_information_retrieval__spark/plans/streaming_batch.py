"""Batch twins of the streaming jobs, oracle-checked.

The headline pair: Spark's built-in ``session_window`` vs a DuckDB
gaps-and-islands reimplementation — two completely different formulations
of sessionization that must agree row-for-row. (Session semantics: a new
session starts when the gap to the previous event is >= the gap duration;
Spark's window is [ts, ts+gap) merged on overlap, which is the same rule.)
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import table
from ..streaming.jobs import hourly_counts, sliding_counts, user_sessions
from . import QuerySpec
from .indexing import duck_postings_flat

_GAP_US = 30 * 60 * 1_000_000


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_sessions(table(spark, sf_dir, "events"), watermark=False)


DUCK_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, (epoch_ns(ts) // 1000) AS us, value FROM events
),
marked AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w >= {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess AS (
  SELECT user_id, us, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(us)  AS session_start_us,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM sess
GROUP BY user_id, sid
"""


def hourly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped hourly windows run in batch (window() + agg) —
    same result contract as relational.events_hourly but via the
    window-function formulation the stream uses."""
    return hourly_counts(table(spark, sf_dir, "events"))


DUCK_HOURLY = """
SELECT (epoch_ns(ts) // 3600000000000) AS hour_bucket,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(table(spark, sf_dir, "events"))


# each event belongs to window/slide = 4 overlapping windows; starts are
# slide-aligned µs since epoch (Spark aligns sliding windows to the epoch)
_SLIDE_US = 15 * 60 * 1_000_000

DUCK_SLIDING = f"""
SELECT ws AS window_start_us, count(*) AS n_events
FROM (
  SELECT (((epoch_ns(ts) // 1000) // {_SLIDE_US}) - k.k) * {_SLIDE_US} AS ws
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
)
GROUP BY ws
"""


_stateful_run = itertools.count()


def _drain(
    spark: SparkSession,
    stream: DataFrame,
    prefix: str,
    state_partitions: int = 8,
    output_mode: str = "append",
) -> DataFrame:
    """Run a finite stream to completion (availableNow) into a memory sink
    and return the sink table.

    State-store partition count = shuffle partitions at stream start, and
    every partition pays fixed store open/commit cost per micro-batch —
    at fixture SF that overhead dominates (32→8 partitions is 3× faster
    for both stateful drains, and the grading driver's vanilla session
    would otherwise pay 200). Size it to active-key/state volume: these
    fixtures hold ≤1.5k users of state; a 100 TB stream raises it to keep
    per-partition state in memory."""
    name = f"{prefix}_{next(_stateful_run)}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL stream-stream interval self-join (streaming/jobs.py::
    click_purchase_joins) to completion. Inner join on unique event ids →
    the emitted pair set is deterministic however the source splits
    micro-batches."""
    from ..streaming.jobs import click_purchase_joins, read_events_stream

    return _drain(
        spark,
        click_purchase_joins(read_events_stream(spark, sf_dir)),
        "smse_interval_join",
    )


DUCK_INTERVAL_JOIN = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       (epoch_ns(c.ts) // 1000) AS click_us,
       (epoch_ns(p.ts) // 1000) AS purchase_us
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND (epoch_ns(p.ts) // 1000)
       BETWEEN (epoch_ns(c.ts) // 1000)
           AND (epoch_ns(c.ts) // 1000) + 24 * 3600000000
"""


def dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL stateful stream dedup (dropDuplicatesWithinWatermark
    on the composite key) to completion; output projects only the key
    columns, so it equals the batch DISTINCT regardless of which duplicate
    arrived first."""
    from ..streaming.jobs import dedup_keys_stream, read_events_stream

    return _drain(
        spark,
        dedup_keys_stream(read_events_stream(spark, sf_dir)),
        "smse_dedup_keys",
    )


DUCK_DEDUP_KEYS = "SELECT DISTINCT user_id, event_type FROM events"


def incremental_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index MAINTENANCE, driver-checked: stream the documents
    table through the foreachBatch LSM upsert (streaming/jobs.py::
    incremental_index), then serve postings from the incrementally-built
    store. Must equal the batch-built inverted index exactly — the
    contract that lets a 100 TB index stay fresh via micro-batch appends
    instead of full rebuilds."""
    import os
    import shutil

    from ..streaming.jobs import incremental_index, read_incremental_index
    from .sinks_sources import _out_path

    path = _out_path("incr_index", sf_dir)
    # the upsert sink APPENDS (LSM layout) — start each run from empty or
    # re-runs would double every tf
    if os.path.exists(path):
        shutil.rmtree(path)
    docs_stream = (
        spark.readStream.schema(table(spark, sf_dir, "documents").schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    incremental_index(spark, docs_stream, path)
    return read_incremental_index(spark, path)


def streaming_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUP maintenance, driver-checked: split the documents
    table into 3 doc_id-range files (r12: down from 4 — the drain cost
    is per-cycle fixed overhead dominated, three cycles exercise the
    same store-accumulation/probe path, and the kill-resume test keeps
    its own 4-way split), stream them one file per micro-batch through
    the foreachBatch probe-and-append job
    (streaming/jobs.py::incremental_near_dups), then read the
    accumulated pair store. Must equal the one-shot batch LSH answer
    (the minhash_near_dups oracle) — the contract that lets a 100 TB
    dedup index stay fresh per ingest batch instead of re-running the
    full self-join."""
    import os
    import shutil

    from ..streaming.jobs import incremental_near_dups
    from .sinks_sources import _out_path

    split_path = _out_path("neardup_splits", sf_dir)
    store_path = _out_path("neardup_store", sf_dir)
    for p in (split_path, store_path):
        if os.path.exists(p):
            shutil.rmtree(p)
    docs = table(spark, sf_dir, "documents")
    docs.repartitionByRange(3, "doc_id").write.parquet(split_path)
    docs_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_path)
    )
    incremental_near_dups(spark, docs_stream, store_path)
    return spark.read.parquet(os.path.join(store_path, "pairs")).select(
        "doc_a", "doc_b", "jaccard"  # drop the batch=<id> partition col
    )


def streaming_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VECTOR-INDEX maintenance, driver-checked — the third
    leg of the maintenance triad (inverted index, dedup store, ANN
    store): build the base-only IVF store batch-side, stream the delta
    vectors through the foreachBatch frozen-codebook ingest
    (streaming/jobs.py::incremental_vector_ingest, one file per
    micro-batch), then serve a top-k query from the accumulated store.
    Must equal the in-session plan that assigns the WHOLE corpus under
    the same frozen base codebook — the contract that keeps a 100 TB
    vector index fresh per ingest epoch without retraining or touching
    base partitions."""
    import os
    import shutil

    from ..streaming.jobs import incremental_vector_ingest
    from .similarity import (
        DELTA_MOD,
        QUERY_VEC_ID,
        _query_vec,
        query_ivf_store,
        write_ivf_store,
    )
    from .sinks_sources import _out_path

    store = _out_path("vec_ingest_store", sf_dir)
    split = _out_path("vec_ingest_splits", sf_dir)
    for p in (store, split):
        if os.path.exists(p):
            shutil.rmtree(p)
    emb = table(spark, sf_dir, "embeddings")
    write_ivf_store(
        spark, sf_dir, store, where=F.col("vec_id") % DELTA_MOD != 0
    )
    (
        emb.filter(F.col("vec_id") % DELTA_MOD == 0)
        .repartitionByRange(2, "vec_id")
        .write.parquet(split)
    )
    emb_stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split)
    )
    incremental_vector_ingest(spark, emb_stream, store)
    return query_ivf_store(
        spark,
        store,
        _query_vec(spark, sf_dir),
        where=F.col("vec_id") != QUERY_VEC_ID,
    )


def _duck_streaming_vector_ingest() -> str:
    from .similarity import (
        DELTA_MOD,
        K_TARGET,
        NPROBE,
        QUERY_VEC_ID,
        TOP_K,
        _duck_cos,
    )

    return f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % {DELTA_MOD} != 0),
     n AS (SELECT greatest(count(*) // {K_TARGET}, 1) AS stride FROM base),
     cents AS (SELECT vec_id AS cent_id, embedding AS cvec
               FROM base, n WHERE vec_id % n.stride = 0),
     pairs AS (SELECT e.vec_id, c.cent_id,
                      {_duck_cos('e.embedding', 'c.cvec')} AS sim
               FROM embeddings e CROSS JOIN cents c),
     cells AS (SELECT vec_id,
                      CAST(-(max({{'s': sim, 'nc': -cent_id}})['nc']) AS BIGINT)
                        AS cell
               FROM pairs GROUP BY vec_id),
     q AS (SELECT embedding AS qvec FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID}),
     probes AS (SELECT cent_id AS cell FROM cents, q
                ORDER BY {_duck_cos('cvec', 'q.qvec')} DESC, cent_id
                LIMIT {NPROBE})
SELECT e.vec_id, round({_duck_cos('e.embedding', 'q.qvec')}, 6) AS cos
FROM embeddings e
JOIN cells USING (vec_id)
JOIN probes ON cells.cell = probes.cell
CROSS JOIN q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id
LIMIT {TOP_K}
"""


def _streaming_near_dup_oracle() -> str:
    from .dedup import _duck_near_dups

    return _duck_near_dups()


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL custom stateful stream (applyInPandasWithState,
    streaming/jobs.py::user_running_stats) to completion with
    availableNow, then reduces the per-batch emissions to the final
    per-user state. Only the order-insensitive fields (count, max) are
    emitted: the running float SUM depends on addition order across
    micro-batches, so it is parity-tested with a tolerance in
    tests/test_stateful_streaming.py instead of hash-compared here.
    n_events and max_value are monotone across batches, so max() over
    the append-mode emissions is exactly the final state regardless of
    how the file source splits micro-batches."""
    from ..streaming.jobs import read_events_stream, user_running_stats

    return (
        _drain(
            spark,
            user_running_stats(read_events_stream(spark, sf_dir)),
            "smse_stateful_drain",
        )
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )


DUCK_STATEFUL_USER_STATS = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events
GROUP BY user_id
"""


def enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL stream-static broadcast enrichment
    (streaming/jobs.py::enrich_with_customers) to completion in complete
    mode: the events stream joins the static customer dim per micro-batch
    (stateless), final aggregate vs the plain batch join oracle."""
    from ..streaming.jobs import enrich_with_customers, read_events_stream

    return _drain(
        spark,
        enrich_with_customers(
            read_events_stream(spark, sf_dir), table(spark, sf_dir, "customer")
        ),
        "smse_enriched_segments",
        output_mode="complete",
    )


DUCK_ENRICHED_SEGMENTS = """
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


NS_PER_WEEK = 7 * 86_400_000_000_000


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = the epoch-week of a user's
    FIRST event; week-k retention = distinct cohort users active k weeks
    later. (cohort_week, week_offset, n_users). Exact integer week math
    on the canonical epoch-nanos ts (float division would lose ulps at
    1e18). Shape: one user-keyed aggregate for first-weeks + a distinct
    over (user, week), joined on user_id — both sides user-cardinality,
    deliberately NO broadcast hint (AQE decides; at 100 TB this is a
    co-partitioned shuffle join). The post-distinct rows are unique per
    (user, week), so the final count(*) IS the distinct-user count —
    no count_distinct shuffle."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts div {NS_PER_WEEK}").cast("long").alias("week")
    )
    firsts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


DUCK_RETENTION = f"""
WITH ev AS (SELECT user_id, epoch_ns(ts) // {NS_PER_WEEK} AS week FROM events),
     firsts AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
     active AS (SELECT DISTINCT user_id, week FROM ev)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset, count(*) AS n_users
FROM active a JOIN firsts f USING (user_id)
GROUP BY 1, 2
"""


QUERIES: dict[str, QuerySpec] = {
    "events_retention_cohorts": QuerySpec(
        fn=retention_cohorts,
        oracle=DUCK_RETENTION,
        note="weekly cohort retention grid via exact integer epoch-week "
        "math; distinct-(user,week) makes the final count shuffle-free",
    ),
    "streaming_enriched_segments": QuerySpec(
        fn=enriched_segments,
        oracle=DUCK_ENRICHED_SEGMENTS,
        note="stream-static broadcast enrichment join actually RUN as a "
        "stream (stateless per-batch dim join) vs batch join oracle",
    ),
    "streaming_stateful_user_stats": QuerySpec(
        fn=stateful_user_stats,
        oracle=DUCK_STATEFUL_USER_STATS,
        note="custom stateful operator (applyInPandasWithState) actually "
        "RUN as a stream and drained; final states vs plain batch "
        "aggregate oracle",
    ),
    "streaming_near_dup_pairs": QuerySpec(
        fn=streaming_near_dup_pairs,
        oracle=_streaming_near_dup_oracle(),
        note="foreachBatch LSH dedup maintenance: per-micro-batch probe "
        "against the persisted band/shingle store, accumulated pairs vs "
        "the one-shot batch minhash_near_dups oracle",
    ),
    "streaming_incremental_index": QuerySpec(
        fn=incremental_index_postings,
        oracle=duck_postings_flat(1),
        note="foreachBatch LSM index maintenance drained as a stream; "
        "served postings vs the batch inverted-index oracle",
    ),
    "streaming_vector_ingest": QuerySpec(
        fn=streaming_vector_ingest,
        oracle=_duck_streaming_vector_ingest(),
        note="foreachBatch frozen-codebook ANN ingest drained as a "
        "stream (exactly-once per epoch via checkpoint replay + dynamic "
        "partition overwrite); served top-k vs the monolithic "
        "base-codebook assignment oracle — the maintenance triad's "
        "third leg",
    ),
    "streaming_interval_join": QuerySpec(
        fn=interval_join,
        oracle=DUCK_INTERVAL_JOIN,
        note="stream-stream watermarked interval self-join actually RUN "
        "as a stream and drained; pair set vs batch join oracle",
    ),
    "streaming_dedup_keys": QuerySpec(
        fn=dedup_keys,
        oracle=DUCK_DEDUP_KEYS,
        note="dropDuplicatesWithinWatermark on composite key, key-only "
        "projection vs batch DISTINCT oracle",
    ),
    "streaming_sliding_windows": QuerySpec(
        fn=sliding_batch,
        oracle=DUCK_SLIDING,
        note="1h windows sliding 15min vs explicit window-enumeration oracle",
    ),
    "streaming_sessionize_users": QuerySpec(
        fn=sessionize_users,
        oracle=DUCK_SESSIONIZE,
        note="session_window vs gaps-and-islands oracle",
    ),
    "streaming_hourly_windows": QuerySpec(
        fn=hourly_batch,
        oracle=DUCK_HOURLY,
        note="window() tumbling agg, batch twin of the stream job",
    ),
}
