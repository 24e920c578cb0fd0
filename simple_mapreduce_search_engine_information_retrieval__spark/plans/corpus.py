"""Shared tokenized-corpus intermediate.

Tokenization is the single most expensive expression over the documents
table, and several operator families need the SAME token stream (quality
gates, repetition signals, fingerprints, shingles). At 100 TB each extra
"tokenize the corpus again" subplan is a full corpus pass — the
cleaning-pipeline composition went from 5 tokenize passes to 1 by
deriving every consumer from this one cached (doc_id, toks, kept) scan
(round-3 verdict, Performance #1).

The cache is a session-lifetime ``caches.memo`` per (session, sf_dir),
released by caches.evict like the shingle/pairs memos. Storage is
MEMORY_AND_DISK: at scale the tokenized corpus spills instead of OOMing,
and one spilled read still beats re-running the regex tokenizer over the
raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..caches import memo
from ..functions.tokenize import filter_stopwords, tokens_col
from ..sources.tables import table


@memo
def tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks, kept): the full split-char token stream
    (stopworded=False) and its stopword-filtered derivation — identical
    to tokens_col(stopworded=True) since the stopword probe is the same
    INSET filter applied after the same split/length filter. Cached per
    (session, sf_dir) so every consumer pays ONE tokenize pass."""
    docs = table(spark, sf_dir, "documents")
    # NOT widened with a parallelism-restoring repartition (r17,
    # measured and reverted): the fill tokenizes on the scan's 1-2
    # fixture splits (4.5 s vs 1.2 s wide, paid once per session),
    # but consumers over the MATERIALIZED cache measured neutral
    # (0.22 vs 0.20 s) and the repartition's Exchange breaks the
    # narrow-transform contract consumers like chunk_windows pin
    # (tests/test_eval_and_chunks.py::
    # test_chunk_windows_plan_is_shuffle_free) — a fill-only win is
    # not worth a plan-shape guarantee; a real corpus arrives as
    # many splits and never hits the narrow-fill case.
    return (
        docs.select(
            "doc_id",
            tokens_col(F.col("text"), stopworded=False).alias("toks"),
        )
        .withColumn("kept", filter_stopwords(F.col("toks")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
