"""Structured Streaming correctness: a finite stream replay must equal
the batch query over the same data."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import table
from simple_mapreduce_search_engine_information_retrieval__spark.streaming import jobs


def _collect_sorted(df, cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()])


def test_hourly_counts_stream_equals_batch(spark, sf_dir):
    stream = jobs.hourly_counts(jobs.read_events_stream(spark, sf_dir))
    jobs.run_to_memory(stream, "hourly_stream")
    got = spark.table("hourly_stream")
    want = jobs.hourly_counts(table(spark, sf_dir, "events"))
    cols = ["hour_bucket", "event_type", "n_events", "total_value"]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)


def test_sessions_stream_equals_batch(spark, sf_dir):
    stream = jobs.user_sessions(jobs.read_events_stream(spark, sf_dir))
    jobs.run_to_memory(stream, "sessions_stream")
    got = spark.table("sessions_stream")
    want = jobs.user_sessions(table(spark, sf_dir, "events"), watermark=False)
    cols = ["user_id", "session_start_us", "n_events", "total_value"]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)


def test_dedup_stream(spark, sf_dir):
    stream = jobs.dedup_stream(jobs.read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    n = table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_incremental_index_equals_batch(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.indexing import (
        postings_flat,
    )
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        docs_stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(sf_dir)
        )
        jobs.incremental_index(spark, docs_stream, f"{tmp}/index")
        got = jobs.read_incremental_index(spark, f"{tmp}/index")
        want = postings_flat(spark, sf_dir, 1)
        assert (
            got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0
        )


def test_parquet_sink_checkpoint_exactly_once(spark, sf_dir):
    """Durable-sink surface: a checkpointed parquet-sink stream drained
    with availableNow, then RESTARTED from the same checkpoint, must not
    re-emit rows (the file source+sink exactly-once contract a 100 TB
    pipeline relies on across restarts)."""
    import tempfile

    from simple_mapreduce_search_engine_information_retrieval__spark.streaming.jobs import (
        read_events_stream,
    )

    with tempfile.TemporaryDirectory() as tmp:
        out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"

        def run_once():
            q = (
                read_events_stream(spark, sf_dir)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        n1 = spark.read.parquet(out).count()
        run_once()  # restart: checkpoint marks the input processed
        n2 = spark.read.parquet(out).count()
        want = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert n1 == n2 == want


def test_vector_ingest_checkpoint_resume(spark, sf_dir):
    """Kill-and-resume contract for the streaming ANN ingest (the
    near-dup test's discipline applied to the vector triad leg): ingest
    one delta file, 'die', resume with the second, restart with nothing
    new, then forge a mid-epoch crash (store written, checkpoint commit
    missing) — the served store must equal the in-session frozen-base
    assignment of the whole corpus after every step, never duplicated."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        DELTA_MOD,
        QUERY_VEC_ID,
        TOP_K,
        _ivf_cells,
        _ivf_centroids,
        _ivf_pairs,
        _ivf_serve,
        query_ivf_store,
        write_ivf_store,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.streaming.jobs import (
        incremental_vector_ingest,
    )

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        staged, watched, store = f"{tmp}/staged", f"{tmp}/watched", f"{tmp}/store"
        write_ivf_store(spark, sf, store, where=F.col("vec_id") % DELTA_MOD != 0)
        (
            emb.filter(F.col("vec_id") % DELTA_MOD == 0)
            .repartitionByRange(2, "vec_id")
            .write.parquet(staged)
        )
        parts = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
        assert len(parts) == 2
        os.makedirs(watched)

        def run():
            stream = (
                spark.readStream.schema(
                    "vec_id LONG, embedding ARRAY<FLOAT>, label LONG"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(watched)
            )
            incremental_vector_ingest(spark, stream, store)

        def served():
            qvec = [
                float(x)
                for x in emb.filter(F.col("vec_id") == QUERY_VEC_ID)
                .head()
                .embedding
            ]
            return [
                (r.vec_id, r.cos)
                for r in query_ivf_store(
                    spark, store, qvec,
                    where=F.col("vec_id") != QUERY_VEC_ID,
                ).collect()
            ]

        shutil.copy(f"{staged}/{parts[0]}", f"{watched}/{parts[0]}")
        run()  # epoch 0 lands, then the job "dies"
        shutil.copy(f"{staged}/{parts[1]}", f"{watched}/{parts[1]}")
        run()  # resume: only the new file is processed
        want_rows = emb.count()
        assert spark.read.parquet(f"{store}/vectors").count() == want_rows
        base_cents = _ivf_centroids(emb.filter(F.col("vec_id") % DELTA_MOD != 0))
        all_cells = _ivf_cells(_ivf_pairs(emb, base_cents))
        want = [
            (r.vec_id, r.cos)
            for r in _ivf_serve(emb, base_cents, all_cells).collect()
        ][:TOP_K]
        assert served() == want
        # pure restart with nothing new: byte-stable
        run()
        assert spark.read.parquet(f"{store}/vectors").count() == want_rows
        # forge a mid-epoch crash: drop the LAST checkpoint commit
        # marker so resume replays that epoch over its own committed
        # output — dynamic partition overwrite must dedupe, not append
        commits = f"{store}/_checkpoint/commits"
        last = sorted(
            f for f in os.listdir(commits) if not f.startswith(".")
        )[-1]
        os.remove(f"{commits}/{last}")
        crc = f"{commits}/.{last}.crc"  # Hadoop local-FS shadow
        if os.path.exists(crc):
            os.remove(crc)
        run()
        assert spark.read.parquet(f"{store}/vectors").count() == want_rows
        assert served() == want
        # orphan sweep (r8): strand a partition under this epoch's
        # ingest id at a cell the replay will NOT write (as if a prior
        # attempt's codebook had assigned there), forge another replay,
        # and the post-commit sweep must remove it — store back to
        # exactly the replay's own rows
        last = sorted(
            f for f in os.listdir(commits) if not f.startswith(".")
        )[-1]
        orphan = f"{store}/vectors/cell=888888/ingest={int(last) + 1}"
        spark.createDataFrame(
            [(-5, [0.0] * 64, 0)],
            "vec_id LONG, embedding ARRAY<FLOAT>, label LONG",
        ).coalesce(1).write.parquet(orphan)
        assert spark.read.parquet(f"{store}/vectors").count() == want_rows + 1
        os.remove(f"{commits}/{last}")
        crc = f"{commits}/.{last}.crc"
        if os.path.exists(crc):
            os.remove(crc)
        run()
        assert not os.path.exists(orphan)
        assert spark.read.parquet(f"{store}/vectors").count() == want_rows
        assert served() == want
