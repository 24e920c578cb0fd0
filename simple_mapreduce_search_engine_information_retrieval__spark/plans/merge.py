"""CDC-style MERGE (upsert) — the batch-ingestion primitive.

Spark SQL has no MERGE INTO without a table format (Delta/Iceberg); the
engine-level shape behind every such MERGE is exactly this: full-outer
join of base and change-set on the key, change columns coalesced over
base columns, each row tagged insert/update/keep. This module runs that
shape as an oracle-checked query over a deterministic change-set derived
from the documents table itself (updates = every 7th doc rewritten,
inserts = every 13th doc re-keyed above UPSERT_OFFSET), then folds the
merged relation into a per-op audit profile (row counts, key ranges,
char totals, min/max content md5) so the driver hash pins both the merge
logic AND the merged payloads.

Scale: ONE shuffle on the merge key — or zero when base and changes are
already partitioned on it; AQE splits skewed keys. The change-set is usually << base, so the planner broadcasts it
when small — no hint needed (round-3 lesson: never hint a relation whose
cardinality scales with the corpus). The audit rollup is
five-group-tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import table
from . import QuerySpec

UPSERT_OFFSET = 100_000_000  # insert keys live far above any fixture doc_id


def _change_set(base: DataFrame) -> DataFrame:
    """Deterministic CDC batch: rewrites for doc_id % 7 == 0, brand-new
    rows (re-keyed above UPSERT_OFFSET) for doc_id % 13 == 0."""
    updates = base.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.upper(F.substring("text", 1, 80)).alias("c_text")
    )
    inserts = base.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + UPSERT_OFFSET).alias("doc_id"),
        F.concat(F.lit("NEW "), F.substring("text", 1, 40)).alias("c_text"),
    )
    return updates.unionByName(inserts)


def merge_upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    merged = base.join(_change_set(base), "doc_id", "full_outer")
    op = (
        F.when(F.col("text").isNull(), F.lit("insert"))
        .when(F.col("c_text").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    rows = merged.select(
        "doc_id",
        op.alias("op"),
        F.coalesce("c_text", "text").alias("text"),
    )
    return rows.groupBy("op").agg(
        F.count("*").alias("n_rows"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.min(F.md5("text")).alias("min_md5"),
        F.max(F.md5("text")).alias("max_md5"),
    )


DUCK_MERGE_UPSERT = f"""
WITH base AS (SELECT doc_id, text FROM documents),
ch AS (
  SELECT doc_id, upper(substring(text, 1, 80)) AS c_text
  FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + {UPSERT_OFFSET} AS doc_id,
         'NEW ' || substring(text, 1, 40) AS c_text
  FROM base WHERE doc_id % 13 = 0
),
merged AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         CASE WHEN b.doc_id IS NULL THEN 'insert'
              WHEN c.doc_id IS NULL THEN 'keep'
              ELSE 'update' END AS op,
         COALESCE(c.c_text, b.text) AS text
  FROM base b FULL OUTER JOIN ch c ON c.doc_id = b.doc_id
)
SELECT op, count(*) AS n_rows, min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
FROM merged GROUP BY op
"""


# --- snapshot diff --------------------------------------------------------
# MERGE applies a KNOWN change-set; a recurring crawl has no change-set —
# only the previous and current full snapshots — and must DISCOVER the
# delta first. That discovery is this operator: a fingerprint-level
# full-outer diff tagging every key added/removed/changed/unchanged.

DIFF_OFFSET = 200_000_000  # old-only keys (they read as "removed")


def _old_snapshot(base: DataFrame) -> DataFrame:
    """The previous crawl, derived deterministically from the current
    one (the pii_scrub fixture discipline): every 11th doc had not been
    crawled yet (ADDED in the new snapshot), every 5th surviving doc's
    content has since drifted (CHANGED), and a re-keyed slice of every
    17th doc has since been dropped from the site (REMOVED)."""
    kept = base.filter(F.col("doc_id") % 11 != 0)
    aged = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("OLD "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    dropped = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + DIFF_OFFSET).alias("doc_id"), "text"
    )
    return aged.unionByName(dropped)


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(status, n_rows, min_doc, max_doc, total_chars, min_fp, max_fp):
    per-status audit of the old→new snapshot diff.

    Scale shape: each side collapses to (key, md5 fingerprint, length)
    IN THE SCAN PROJECTION — document text never enters the join, which
    carries 32-byte fingerprints on a co-partitionable doc key (ONE
    shuffle; zero when both snapshots are bucketed on the key, the
    plans/index_store.py discipline). The 'changed' keys this emits are
    exactly the re-process work-list of an incremental 100 TB ingest —
    content is re-fetched BY KEY afterwards, never carried through the
    diff."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    new = base.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
    )
    old = _old_snapshot(base).select(
        "doc_id",
        F.md5("text").alias("o_fp"),
        F.length("text").cast("long").alias("o_chars"),
    )
    j = new.join(old, "doc_id", "full_outer")
    status = (
        F.when(F.col("o_fp").isNull(), F.lit("added"))
        .when(F.col("fp").isNull(), F.lit("removed"))
        .when(F.col("fp") != F.col("o_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    rows = j.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("fp", "o_fp").alias("fp"),
        F.coalesce("n_chars", "o_chars").alias("n_chars"),
    )
    return rows.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


DUCK_SNAPSHOT_DIFF = f"""
WITH base AS (SELECT doc_id, text FROM documents),
old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'OLD ' || text ELSE text END AS text
  FROM base WHERE doc_id % 11 != 0
  UNION ALL
  SELECT doc_id + {DIFF_OFFSET} AS doc_id, text
  FROM base WHERE doc_id % 17 = 0
),
new_fp AS (SELECT doc_id, md5(text) AS fp,
                  CAST(length(text) AS BIGINT) AS n_chars FROM base),
old_fp AS (SELECT doc_id, md5(text) AS o_fp,
                  CAST(length(text) AS BIGINT) AS o_chars FROM old),
diff AS (
  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
         CASE WHEN o.o_fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN n.fp != o.o_fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(n.fp, o.o_fp) AS fp,
         COALESCE(n.n_chars, o.o_chars) AS n_chars
  FROM new_fp n FULL OUTER JOIN old_fp o ON o.doc_id = n.doc_id
)
SELECT status, count(*) AS n_rows, min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(fp) AS min_fp, max(fp) AS max_fp
FROM diff GROUP BY status
"""


QUERIES: dict[str, QuerySpec] = {
    "merge_upsert_documents": QuerySpec(
        fn=merge_upsert_documents,
        oracle=DUCK_MERGE_UPSERT,
        note="CDC MERGE shape (full-outer coalesce + op tagging) with a "
        "content-pinned audit rollup",
    ),
    "corpus_snapshot_diff": QuerySpec(
        fn=snapshot_diff,
        oracle=DUCK_SNAPSHOT_DIFF,
        note="incremental-crawl snapshot diff: fingerprint-level "
        "full-outer audit tagging every key added/removed/changed/"
        "unchanged — text never enters the join, only 32-byte md5s "
        "on a co-partitionable doc key",
    ),
}
