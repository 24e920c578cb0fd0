"""Structured Streaming over the events fixture (SURVEY.md §2.9 — the
reference is batch-only; this is the north-star streaming surface).

Every job is readStream → the SAME transformations the batch plans use →
writeStream; tests run them with ``trigger(availableNow=True)`` and
assert equality with the batch result (the Structured Streaming
correctness contract: a stream replay of a finite input must equal the
batch query over it).

Time handling: events.ts arrives as epoch-nanos long (see session.py);
streams convert to a proper timestamp column once
(``timestamp_micros(ts div 1000)``) because watermarks/windows need
TimestampType.

Scale notes: file-source streams at 100 TB are driven by maxFilesPerTrigger
(bounded state per micro-batch); watermarks bound the window state store;
session windows + dropDuplicatesWithinWatermark keep state O(active keys),
not O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


SESSION_GAP = "30 minutes"
NS_PER_HOUR = 3_600_000_000_000


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, normalized so ``ts``
    is epoch-nanos long (the canonical form, see sources/tables.py) no
    matter whether the fixture generation wrote TIMESTAMP(NANOS) or
    timestamp[us]. The stream schema must match the file's physical
    types, so it is the fixture catalog's raw events read."""
    from ..sources.tables import ensure_session_confs, raw_table, ts_as_nanos

    ensure_session_confs(spark)
    stream = (
        spark.readStream.schema(raw_table(spark, sf_dir, "events").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return ts_as_nanos(stream)


def with_event_time(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows with a 10-minute watermark: the streaming
    twin of the batch events_hourly plan (hour bucket = window start)."""
    return (
        with_event_time(events)
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            # exact integer µs→hour bucket (float math would lose ulps at 1e18)
            F.expr(f"unix_micros(window.start) div {NS_PER_HOUR // 1000}")
            .cast("long")
            .alias("hour_bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes."""
    return (
        with_event_time(events)
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
        )
    )


def user_sessions(events: DataFrame, *, watermark: bool = True) -> DataFrame:
    """Session windows per user (gap 30 min) — the stateful operator the
    reference has no analogue for. ``watermark=False`` gives the batch
    twin (withWatermark is streaming-only)."""
    df = with_event_time(events)
    if watermark:
        df = df.withWatermark("event_time", "10 minutes")
    return (
        df.groupBy(F.session_window("event_time", SESSION_GAP), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful exact dedup on event_id within the watermark."""
    return (
        with_event_time(events)
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def dedup_keys_stream(events: DataFrame) -> DataFrame:
    """Stateful dedup on a COMPOSITE key (user_id, event_type), projecting
    only the key columns — which row of a duplicate group survives depends
    on arrival order, so emitting just the keys makes the output the
    deterministic distinct-key set (batch twin: SELECT DISTINCT)."""
    return (
        with_event_time(events)
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


INTERVAL_JOIN_HOURS = 24


def click_purchase_joins(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: each click pairs with the same
    user's purchases that land within the following 24 h. Both sides carry
    watermarks and the join condition bounds purchase_time relative to
    click_time in BOTH directions, so Spark can expire join state (state
    per side is O(watermark window), not O(history) — the required shape
    for an unbounded 100 TB stream)."""
    e = with_event_time(events)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "1 hour")
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_time") >= F.col("click_time"))
            & (
                F.col("purchase_time")
                <= F.col("click_time")
                + F.expr(f"INTERVAL {INTERVAL_JOIN_HOURS} HOURS")
            ),
            "inner",
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.unix_micros("click_time").alias("click_us"),
            F.unix_micros("purchase_time").alias("purchase_us"),
        )
    )


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment — the standard streaming
    pattern Spark gets for free: each micro-batch joins against the
    static dim with NO streaming state (the dim is broadcast per batch;
    at scale, a slowly-changing dim is re-read per trigger). Output:
    per-(segment, event_type) running aggregate."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        # bounded: customer dim table (dimension, not corpus)
        events.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, max) maintained in explicit GroupState across
    micro-batches — the escape hatch for stateful logic the built-in
    windowed aggregations cannot express (reference has no analogue;
    north-star §2.9). Emits the updated stats row per user per batch."""
    import pandas as pd

    def update(key, pdfs, state):
        n, total, mx = (
            state.get if state.exists else (0, 0.0, float("-inf"))
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "max_value": [mx],
            }
        )

    return (
        with_event_time(events)
        .withWatermark("event_time", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def run_to_memory(df: DataFrame, name: str) -> None:
    """Drain a finite stream into an in-memory table (test/demo sink)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_index(
    spark: SparkSession, docs_stream: DataFrame, out_path: str
) -> None:
    """Streaming index maintenance: micro-batches of documents upsert
    into a postings store via foreachBatch (the Spark twin of rebuilding
    the reference's SequenceFile index incrementally).

    Each batch computes its local (term, docno, tf) and appends; readers
    aggregate tf by (term, docno) on load — an LSM-style layout that
    avoids rewriting the index per batch (at scale: compact periodically
    into the index store's layout, range-partitioned and sorted by
    term)."""
    from ..functions.tokenize import tokens_col

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(
                F.col("doc_id").alias("docno"),
                F.explode(tokens_col(F.col("text"))).alias("term"),
            )
            .groupBy("term", "docno")
            .agg(F.count("*").alias("tf"))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        docs_stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_incremental_index(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.parquet(path)
        .groupBy("term", "docno")
        .agg(F.sum("tf").alias("tf"))
    )


def incremental_vector_ingest(
    spark: SparkSession, emb_stream: DataFrame, store_path: str
) -> None:
    """Streaming ANN-index maintenance: micro-batches of new vectors
    assign against the PERSISTED frozen codebook (never retrained per
    batch) and land under (cell, ingest=epoch) partitions of an
    existing `write_ivf_store` layout — the streaming twin of
    `append_ivf_store` (plans/similarity.py), completing the
    maintenance triad (index, dedup, vectors). EXACTLY-ONCE: the
    checkpoint replays a failed epoch with the same epoch_id, and
    dynamic partition overwrite rewrites that epoch's partitions
    instead of duplicating them (epoch+1 keeps ingest=0 reserved for
    the base build). Base partitions are never read or rewritten.
    Each epoch runs the batch twin's ingest body (_ingest_delta), so
    the strict assignment, the checkpointed N x K pass and the
    post-commit orphan sweep are one definition: deterministic
    assignment against the frozen codebook makes a replay normally land
    on the same cells, but a codebook file swapped between attempts
    would re-cell the epoch and strand the first attempt's partitions,
    which the sweep removes."""
    from ..plans.similarity import _ingest_delta

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        _ingest_delta(spark, store_path, batch, int(epoch_id) + 1)

    q = (
        emb_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", f"{store_path}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # deregister promptly: Spark 4's checkpoint-in-use guard flags a
        # follow-up resume as "multiple queries concurrently using" the
        # location if the drained query lingers in streams.active
        q.stop()


def incremental_near_dups(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_path: str | None = None,
) -> None:
    """Streaming near-dup maintenance: each micro-batch of documents is
    shingled and MinHash-banded, PROBED against the persisted band
    store (within-batch self-probe included), verified with exact
    Jaccard against the persisted shingle store, and its pairs appended
    to the store — the streaming twin of plans/dedup.py's
    incremental_minhash (registered as dedup_incremental_minhash), where
    the "increment" is a micro-batch. Shingling, signatures, bands, the
    probe and the exact verify are plans/dedup.py's one MinHash chain.

    The store is three parts under ``store_path`` — shingles, bands and
    pairs — each LSM-style, one ``batch=<id>`` partition per
    micro-batch. A batch writes its own partitions first and then
    reads them back as part of the store, so every batch-sized relation
    is built once and each store part is scanned once (besides a read
    of the partition the batch just wrote):

    1. write the batch's shingles to ``shingles/batch=<id>``;
    2. band the ``batch == id`` shingles and write ``bands/batch=<id>``;
    3. probe: the ``batch == id`` bands against the ``batch <= id``
       bands (a broadcast of the batch side; the store is only scanned);
    4. read the ``batch <= id`` shingles of the candidate docs only;
    5. verify exactly and write ``pairs/batch=<id>``.

    A pair is discovered exactly once — in the first batch where both
    members exist (the probe side is always the batch, so store-store
    pairs never re-form) — so the accumulated pair set equals the
    one-shot batch LSH answer in ANY delivery order."""
    import os

    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..plans.dedup import (
        bands_of,
        probe_candidates,
        signatures_of,
        text_shingles,
    )

    bands_p = os.path.join(store_path, "bands")
    sh_p = os.path.join(store_path, "shingles")
    pairs_p = os.path.join(store_path, "pairs")

    def write_part(df: DataFrame, path: str, batch_id: int) -> DataFrame:
        """Overwrite ``path``'s batch=<id> partition with ``df`` and
        return the whole part, read with an explicit schema (no
        schema-inference jobs). The write coalesces to two files, so
        the store stays a few files per batch instead of one per
        shuffle partition."""
        df.coalesce(2).write.mode("overwrite").parquet(f"{path}/batch={batch_id}")
        schema = StructType(df.schema.fields + [StructField("batch", IntegerType())])
        return spark.read.schema(schema).parquet(path)

    def probe_and_append(batch: DataFrame, batch_id: int) -> None:
        # verify_pairs is looked up per batch so a test can replace it
        from ..plans.dedup import verify_pairs

        # a micro-batch arrives as one file -> one input split; spread
        # it before the tokenizer or the whole shingle pass runs on a
        # single core (the same single-split hazard as replicated
        # fixture reads — see bench.py's index build)
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        this, upto = F.col("batch") == batch_id, F.col("batch") <= batch_id
        shingles = write_part(text_shingles(batch), sh_p, batch_id)
        sh_b = shingles.where(this).select("doc_id", "shingle")
        bands = write_part(bands_of(signatures_of(sh_b)), bands_p, batch_id)
        cand = (
            probe_candidates(
                bands.where(this).select("doc_id", "band_key"),
                bands.where(upto).select("doc_id", "band_key"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .distinct()
            .localCheckpoint()  # the collision residue; read twice below
        )
        cand_docs = cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        # the exact verify reads only the candidate docs' shingles, one
        # scan of the store for its three readers
        sh_cand = (
            shingles.where(upto)
            .select("doc_id", "shingle")
            # bounded: distinct doc ids of the batch collision residue
            .join(F.broadcast(cand_docs), "doc_id")
            .localCheckpoint()
        )
        # pairs go last: a batch that dies before this write leaves only
        # its own shingles/bands partitions, which its replay overwrites
        verify_pairs(cand, sh_cand).coalesce(1).write.mode("overwrite").parquet(
            f"{pairs_p}/batch={batch_id}"
        )

    # ``checkpoint_path`` makes the maintenance restartable: a killed
    # job resumes at the first uncommitted batch and replays it under
    # the same id. Every write overwrites only that batch's own
    # batch=<id> partition and every read stops at ``batch <= id``, so a
    # replay over a half- or fully-written batch sees exactly the store
    # the first attempt saw — exactly-once, including mid-batch kills
    # (tests/test_near_dup_chain.py covers a kill between the bands and
    # pairs writes and a replay forced by deleting a commit marker)
    writer = docs_stream.writeStream.foreachBatch(probe_and_append)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
