"""Sink/source round-trips, driver-checked.

The reference's non-Parquet I/O surface (SURVEY.md §2.1):
- S7: the docid→docno mapping written as a delimited text file
  (reference NumberTrecDocuments writes a TSV sidecar next to the
  SequenceFile index) — here the Spark CSV sink with a tab separator;
- a JSON-lines document feed — the ingestion format every modern corpus
  pipeline consumes; the reference predates it, but a user switching from
  TREC files expects it.

Both are verified as ROUND-TRIPS: write with the Spark sink, read back
with the matching Spark source (explicit schema — no inference pass over
100 TB), and hash-compare the re-read result against a DuckDB oracle over
the ORIGINAL parquet. Write-then-read identity checks the sink and the
source in one driver row; the oracle never sees the intermediate files,
so any corruption (quoting, escaping, type coercion) fails the gate.

Scale notes: both sinks shard by partition (one file per task — the
parallel write path); the TSV mapping is small-per-partition, the JSONL
feed is the 100 TB format whose scan parallelizes by file split.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.tables import table
from . import QuerySpec
from .indexing import duck_postings_flat

_WAREHOUSE = os.path.join(os.path.dirname(__file__), "..", "..", "spark-warehouse")


_cleanup_registered = False


def _register_pid_dir_cleanup(pid_dir: str) -> None:
    # Remove THIS process's roundtrip tree on interpreter exit, and sweep
    # any stale pid dirs left by processes that died before their atexit
    # ran (kill -9, driver timeouts) — otherwise repeated bench/test runs
    # accumulate unbounded on-disk state (r5 ADVICE). Live-process check
    # via signal 0; best-effort on errors.
    global _cleanup_registered
    if _cleanup_registered:
        return
    _cleanup_registered = True
    atexit.register(shutil.rmtree, pid_dir, ignore_errors=True)
    parent = os.path.dirname(pid_dir)
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for name in entries:
        if not name.startswith("pid") or not name[3:].isdigit():
            continue
        pid = int(name[3:])
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except OSError:
            continue


def _out_path(kind: str, sf_dir: str) -> str:
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    # pid-scoped so two local processes running the same (kind, sf) —
    # e.g. bench and the test suite — never race on one write path; a
    # real deployment writes to job-unique locations anyway
    pid_dir = os.path.abspath(
        os.path.join(_WAREHOUSE, "roundtrip", f"pid{os.getpid()}")
    )
    _register_pid_dir_cleanup(pid_dir)
    return os.path.join(pid_dir, kind, sf_name)


_TSV_SCHEMA = StructType(
    [StructField("docid", StringType()), StructField("docno", LongType())]
)


def tsv_docno_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docno mapping → TSV sink → TSV source (reference S7,
    NumberTrecDocuments.java:97-107 writes the same two-column mapping as
    delimited text). Uses the scalable (range-partitioned) numbering."""
    from .indexing import docno_mapping_scalable

    path = _out_path("tsv_docno", sf_dir)
    (
        docno_mapping_scalable(spark, sf_dir)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", "true")
        .csv(path)
    )
    return spark.read.schema(_TSV_SCHEMA).option("sep", "\t").option(
        "header", "true"
    ).csv(path)


DUCK_TSV_DOCNO = (
    "SELECT docid, CAST(row_number() OVER (ORDER BY docid) AS BIGINT) AS docno "
    "FROM (SELECT CAST(doc_id AS VARCHAR) AS docid FROM documents)"
)


def jsonl_documents_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL sink → JSONL source with explicit schema; the
    returned projection recomputes the text length AFTER the round-trip,
    so JSON escaping errors (quotes, unicode, newlines) surface as value
    mismatches, not just row-count drift."""
    path = _out_path("jsonl_docs", sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").json(path)
    return (
        spark.read.schema(docs.schema)
        .json(path)
        .select(
            "doc_id",
            "lang",
            "source",
            F.length("text").cast("long").alias("text_len"),
        )
    )


DUCK_JSONL_DOCS = (
    "SELECT doc_id, lang, source, CAST(length(text) AS BIGINT) AS text_len "
    "FROM documents"
)


def orc_documents_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC sink → ORC source (Spark's second native columnar
    format — the migration path for Hive-era warehouses). Content
    integrity via md5 over the round-tripped text so any encoding drift
    in the ORC writer/reader fails the value hash, not just counts."""
    path = _out_path("orc_docs", sf_dir)
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .write.mode("overwrite")
        .orc(path)
    )
    return spark.read.orc(path).select(
        "doc_id", "lang", "source", F.md5("text").alias("text_md5")
    )


DUCK_ORC_DOCS = (
    "SELECT doc_id, lang, source, md5(text) AS text_md5 FROM documents"
)


def csv_documents_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → RFC-4180 CSV sink (quote doubling) → multiLine CSV
    source. The fixture text is CSV-clean, so the CSV-hostile payload is
    SEEDED (the pii_scrub precedent): every text is wrapped in literal
    quotes, a comma, and an embedded newline before writing, and md5 is
    recomputed over the text AFTER the trip (the ORC sibling's
    discipline — a length check would pass length-preserving corruption
    like newline normalization), so any writer/reader escaping or
    encoding drift fails the value hash.

    Scale caveat (why parquet/ORC are the 100 TB formats): multiLine CSV
    is unsplittable — Spark reads each file single-threaded, so
    parallelism = file count. This query documents the interchange
    fidelity contract for CSV feeds at the edge of the pipeline; data at
    rest belongs in the columnar paths above."""
    hostile = F.concat(F.lit('say "'), F.col("text"), F.lit('",\n end'))
    path = _out_path("csv_docs", sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", hostile.alias("text"), "lang", "source"
    )
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return (
        spark.read.schema(docs.schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
        .select(
            "doc_id",
            "lang",
            "source",
            F.md5("text").alias("text_md5"),
        )
    )


DUCK_CSV_DOCS = (
    "SELECT doc_id, lang, source, "
    "md5('say \"' || text || '\",' || chr(10) || ' end')"
    " AS text_md5 FROM documents"
)


# Sharded twins of the unsplittable sources (r7 verdict #6): multiLine
# CSV and gzip text are read one-file-one-task, so 100 TB ingest shards
# the corpus into N files at WRITE time and re-read parallelism = file
# count. Both roundtrips below write N range-sharded files with
# distributed writer tasks (no driver-side rendering) and re-read the
# whole directory; tests/test_scale_paths.py asserts the shard files
# exist and that no file ever splits across partitions (the
# unsplittable contract — Spark may PACK small files into shared
# partitions, which is the benign direction).
SOURCE_SHARDS = 6


def csv_documents_sharded_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """csv_documents_roundtrip's sharded twin: the same CSV-hostile
    payload and md5 contract, but written as SOURCE_SHARDS range-sharded
    multiLine CSV files (each with its own header) — the layout that
    makes an unsplittable format scale by file count."""
    hostile = F.concat(F.lit('say "'), F.col("text"), F.lit('",\n end'))
    path = _out_path("csv_docs_sharded", sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", hostile.alias("text"), "lang", "source"
    )
    (
        docs.repartitionByRange(SOURCE_SHARDS, "doc_id")
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return (
        spark.read.schema(docs.schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
        .select("doc_id", "lang", "source", F.md5("text").alias("text_md5"))
    )


def trec_gzip_sharded_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TREC-over-gzip at the 100 TB ingest shape: the corpus rendered as
    SOURCE_SHARDS gzip-compressed TREC XML shard files by DISTRIBUTED
    writer tasks (text sink + gzip codec — no driver-side fixture
    rendering), then re-read through the S1/S2 record scanner
    (sources/trec.py) over the whole directory. gzip is non-seekable so
    each shard is one stream — exactly the reference's single-split
    fallback (XMLInputFormat.java:82-90) — and parallelism comes from
    the shard count, which is why the sharded WRITE is the scale path.
    md5 over the re-parsed body proves byte-level fidelity through
    render -> gzip -> record-split -> envelope-strip."""
    from ..sources.trec import read_trec

    path = _out_path("trec_gz_shards", sf_dir)
    rec = F.concat(
        F.lit("<DOC>\n<DOCNO> "),
        F.col("doc_id").cast("string"),
        F.lit(" </DOCNO>\n<TEXT>\n"),
        F.col("text"),
        F.lit("\n</TEXT>\n</DOC>"),
    )
    (
        table(spark, sf_dir, "documents")
        .repartitionByRange(SOURCE_SHARDS, "doc_id")
        .select(rec.alias("value"))
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(path)
    )
    return read_trec(spark, path).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("text_md5"),
    )


DUCK_TREC_GZ_SHARDED = "SELECT doc_id, md5(text) AS text_md5 FROM documents"


BINARYFILE_N = 150  # bounded raw-file slice (constant at every fixture scale)


def binaryfile_documents_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file corpus ingest via Spark's ``binaryFile`` source — THE
    entry path for image/audio/document-file corpora (one row per file:
    path, modificationTime, length, content as BINARY). The fixture
    step writes a bounded {BINARYFILE_N}-doc slice as individual UTF-8
    files (driver-side by design: real corpora already exist as files;
    the bounded collect is fixture CONSTRUCTION, not the operator). The
    QUERY is the distributed read: binaryFile parallelizes by file
    (parallelism = file count — the multimodal shard story in
    SCALE.md), content arrives as raw bytes and is never re-encoded.
    doc_id is recovered from the filename; md5 runs over the raw bytes,
    so the oracle's md5(text) over the same UTF-8 must match
    byte-for-byte — any encoding drift in the trip fails the hash, and
    ``length`` must equal the oracle's byte (not char) length."""
    rows = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARYFILE_N)
        .select("doc_id", "text")
        .collect()  # bounded: BINARYFILE_N fixture-construction rows
    )
    path = _out_path("binfiles", sf_dir)
    os.makedirs(path, exist_ok=True)
    for r in rows:
        with open(os.path.join(path, f"{r['doc_id']}.txt"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
        .select(
            F.regexp_extract(fname, r"^(\d+)", 1).cast("long").alias(
                "doc_id"
            ),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )


DUCK_BINARYFILE = (
    f"SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
    f"md5(text) AS content_md5 FROM documents WHERE doc_id < {BINARYFILE_N}"
)


def partitioned_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-PRUNED source: documents
    written `partitionBy(lang)`, then one language read back with a
    filter that must prune at the directory level (PartitionFilters in
    the scan, asserted in tests/test_plans_physical.py) — the layout that
    turns a 100 TB corpus scan into a read of one language's files."""
    path = _out_path("docs_by_lang", sf_dir)
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


DUCK_PARTITIONED_LANG = (
    "SELECT source, count(*) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents WHERE lang = 'en' GROUP BY source"
)


def index_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM-style BATCH compaction of the index store: a base postings
    shard (even docnos) and a delta shard (odd docnos) are written as
    separate parquet stores, then compacted — union → re-aggregate
    (groupBy (term, docno) sum(tf): a no-op on disjoint append-only
    shards, but it IS the general merge rule) → ONE rewritten store,
    read back and value-compared against the full-corpus postings
    oracle. Complements streaming_incremental_index (the streaming
    append path) with the compaction job a real LSM index runs; at
    100 TB each side is one shuffle-free parquet scan and the merge is
    one combinable aggregate."""
    from .indexing import postings_flat

    post = postings_flat(spark, sf_dir, 1)
    shards_p = _out_path("idx_shards", sf_dir)
    merged_p = _out_path("idx_merged", sf_dir)
    # ONE pass writes both shards via partitionBy (two .filter writes
    # would tokenize the corpus twice); shard directories stand in for
    # the base and delta stores of the LSM layout
    (
        post.withColumn("shard", (F.col("docno") % 2).cast("int"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(shards_p)
    )
    base = spark.read.parquet(shards_p).filter(F.col("shard") == 0)
    delta = spark.read.parquet(shards_p).filter(F.col("shard") == 1)
    (
        base.unionByName(delta)
        .groupBy("term", "docno")
        .agg(F.sum("tf").alias("tf"))
        .write.mode("overwrite")
        .parquet(merged_p)
    )
    return spark.read.parquet(merged_p).select("term", "docno", "tf")


QUERIES: dict[str, QuerySpec] = {
    "index_compaction_roundtrip": QuerySpec(
        fn=index_compaction_roundtrip,
        oracle=duck_postings_flat(1),
        note="LSM base+delta shard write -> compaction merge -> re-read, "
        "value-equal to the full-corpus postings build",
    ),
    "tsv_docno_roundtrip": QuerySpec(
        fn=tsv_docno_roundtrip,
        oracle=DUCK_TSV_DOCNO,
        note="S7 TSV sink + source round-trip vs parquet-side oracle",
    ),
    "jsonl_documents_roundtrip": QuerySpec(
        fn=jsonl_documents_roundtrip,
        oracle=DUCK_JSONL_DOCS,
        note="JSONL sink + schema-first source round-trip, text-length "
        "integrity vs parquet-side oracle",
    ),
    "orc_documents_roundtrip": QuerySpec(
        fn=orc_documents_roundtrip,
        oracle=DUCK_ORC_DOCS,
        note="ORC sink + source round-trip, md5 content integrity vs "
        "parquet-side oracle",
    ),
    "csv_documents_roundtrip": QuerySpec(
        fn=csv_documents_roundtrip,
        oracle=DUCK_CSV_DOCS,
        note="RFC-4180 CSV sink + multiLine source round-trip with "
        "SEEDED quotes/commas/newlines — escaping or encoding drift "
        "fails the md5 value hash; documents the unsplittable-format "
        "scale caveat",
    ),
    "csv_documents_sharded_roundtrip": QuerySpec(
        fn=csv_documents_sharded_roundtrip,
        oracle=DUCK_CSV_DOCS,
        note="sharded twin of the CSV roundtrip: N range-sharded "
        "multiLine files written by distributed tasks — re-read "
        "parallelism = file count, the unsplittable-format scale path",
    ),
    "trec_gzip_sharded_roundtrip": QuerySpec(
        fn=trec_gzip_sharded_roundtrip,
        oracle=DUCK_TREC_GZ_SHARDED,
        note="TREC XML over N gzip shards written distributed, re-read "
        "through the S1/S2 record scanner — one stream per shard (the "
        "reference's non-seekable fallback), parallelism = shard count; "
        "md5 body fidelity through render/gzip/split/strip",
    ),
    "binaryfile_documents_ingest": QuerySpec(
        fn=binaryfile_documents_ingest,
        oracle=DUCK_BINARYFILE,
        note="raw-file corpus ingest via the binaryFile source (the "
        "image/audio-corpus entry path): per-file rows, byte-exact "
        "content md5 + byte length vs the parquet-side oracle, "
        "parallelism = file count",
    ),
    "partitioned_lang_source": QuerySpec(
        fn=partitioned_lang_source,
        oracle=DUCK_PARTITIONED_LANG,
        note="partitionBy(lang) sink + partition-pruned scan vs "
        "parquet-side oracle",
    ),
}
