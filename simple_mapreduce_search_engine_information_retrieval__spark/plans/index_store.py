"""Materialized index store — the on-disk engine layout for query serving.

The reference's answer to "how do I look up a term fast" is a hand-built
byte-offset forward index over SequenceFiles
(BuildIntDocVectorsForwardIndex.java + the Hashtable load at
IntDocVectorsForwardIndex.java:106-120). The Spark-native answer is
plain parquet parts, each range-partitioned and sorted by its key:

    postings  (term, docno, tf)  -> by (term, docno)
    stats     (term, df, cf)     -> by term
    chargrams (gram, term)       -> by (gram, term)   optional
    meta      (n_docs)           -> one row; gramk (gram_k) likewise

- Sorted by term, each file holds one term range and its row groups
  and pages hold narrower ones, so a pushed-down ``term IN (...)``
  scan skips the rest by footer min/max statistics: the forward-index
  seek done by the parquet reader (*Columnar Formatted Inverted
  Index*, ICDE 2025). A heavy term spreads over neighbouring files,
  since ``docno`` is the second range key.
- The store's parameters travel in its schema: the meta part's
  ``n_docs`` column carries ``{"n_docs": N, "format": FORMAT}`` as Spark
  field metadata, which the parquet footer keeps and every
  ``spark.read.parquet`` open restores. A ranked serve reads them off
  the view's schema and runs no job; a store of another format is
  refused, not guessed at.
- No catalog: every part is opened by path (``open_index``), in the
  building session and in a fresh process alike.
- At scale the file count follows AQE's advisory partition size, and a
  serve still opens every file's footer to skip it. A per-file
  term-range index that prunes files before they are opened is the
  job of a store manifest.

Serving, all over the ``<name>_<part>`` session views:
- ``open_index`` registers a built store's parts from their paths, so
  a fresh process (the REPL's ``--index``) serves it;
- ``search_indexed`` ranks documents for query terms;
- ``wildcard_indexed`` (``pre*suf``) and ``fuzzy_indexed``
  (levenshtein <= MAX_EDITS) look up vocabulary terms: candidates from
  the optional chargrams part through ``gram_candidates``, then an
  exact verify; a store without the part serves from the stats scan.

Each serve is ONE ``spark.sql`` statement, parsed and analyzed once,
with terms, grams and pattern pieces bound as named parameters. The
store scan sits in a ``/*+ COALESCE(1) */`` subquery, so the pushed-down
``IN`` scan, df, the aggregate, top-k and ``row_number`` run as one task
with no ``Exchange``: a lookup reads a few row groups, cheaper in one
task than spread behind shuffles. Wildcard and fuzzy serves read
``store_gram_k`` eagerly first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import table
from .indexing import postings_flat

# The store layout version the serves accept, kept in the meta part's
# schema. Bump it when a layout change would make old stores misserve.
FORMAT = 1
# k for the optional chargram part — matches wildcard_terms' default
# (plans/search.py) so store-served lookups and the oracled corpus-side
# queries use the same gram space.
CHARGRAM_K = 3
# fuzzy_indexed's edit budget. The levenshtein verify bound AND the
# q-gram candidate threshold (len(grams) - MAX_EDITS*k) both derive
# from it: a threshold looser than the verify would silently drop true
# matches the verify can never recover.
MAX_EDITS = 2


def build_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    k: int = 1,
    name: str = "smse_index",
    chargrams: bool = False,
) -> str:
    """Build + persist the index, then open it as ``name``'s views;
    returns ``name``.

    With ``chargrams=True`` the store additionally gets a ``chargrams``
    part — the reference's CharKGramTermIndexer layout (F9: $-padded
    char-3-gram -> term), sorted by gram so wildcard / fuzzy term
    lookups serve as pushed-down ``gram IN (...)`` scans — and a
    ``gramk`` part holding the k it was written with. Derived from the
    written stats part (dictionary-sized), so the extra write is
    vocabulary-bounded, never corpus-bounded. Default off: the
    r13-oracled roundtrips pin the 3-part layout's cost."""
    _write_sorted(postings_flat(spark, sf_dir, k), f"{out_dir}/postings", "term", "docno")
    stats = (
        spark.read.parquet(f"{out_dir}/postings")
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )
    _write_sorted(stats, f"{out_dir}/stats", "term")
    if chargrams:
        from ..functions.tokenize import chargrams_col

        grams = spark.read.parquet(f"{out_dir}/stats").select(
            F.explode(chargrams_col(F.col("term"), CHARGRAM_K)).alias("gram"),
            "term",
        )
        _write_sorted(grams.distinct(), f"{out_dir}/chargrams", "gram", "term")
        spark.createDataFrame([(CHARGRAM_K,)], "gram_k long").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/gramk")
    write_meta(spark, f"{out_dir}/meta", table(spark, sf_dir, "documents").count())
    return open_index(spark, out_dir, name)


def _write_sorted(df: DataFrame, path: str, *keys: str) -> None:
    """Write ``df`` as parquet range-partitioned and sorted by ``keys``:
    each file holds one key range. No partition count, so AQE sizes
    the files."""
    df.repartitionByRange(*keys).sortWithinPartitions(*keys).write.mode(
        "overwrite"
    ).parquet(path)


def write_meta(spark: SparkSession, path: str, n_docs: int) -> None:
    """Write the 1-row meta part, with the store's parameters as the
    ``n_docs`` column's field metadata (what ``search_indexed`` reads)."""
    params = {"n_docs": n_docs, "format": FORMAT}
    spark.createDataFrame([(n_docs,)], "n_docs long").select(
        F.col("n_docs").alias("n_docs", metadata=params)
    ).write.mode("overwrite").parquet(path)


def _store_params(spark: SparkSession, name: str) -> dict:
    """The parameters in the meta view's schema, read with no job.
    Raises ``ValueError`` for a store of an unknown format."""
    params = spark.table(f"`{name}_meta`").schema["n_docs"].metadata
    if params.get("format") != FORMAT:
        raise ValueError(
            f"index store {name!r} has format {params.get('format')!r}, "
            f"not {FORMAT}: rebuild it with build_index"
        )
    return params


def open_index(spark: SparkSession, path: str, name: str) -> str:
    """Register the store built at ``path`` as the ``<name>_<part>``
    session views the serves read, so any session — a fresh process
    included — serves it. The optional chargrams/gramk views are
    dropped first, then registered when their directories exist: a
    second open under the same name must not serve the previous
    store's chargram part. Returns ``name``."""
    for part in ("postings", "stats", "meta", "chargrams", "gramk"):
        spark.catalog.dropTempView(f"{name}_{part}")
        part_dir = os.path.join(path, part)
        optional = part in ("chargrams", "gramk")
        if not optional or os.path.isdir(part_dir):
            spark.read.parquet(part_dir).createOrReplaceTempView(f"{name}_{part}")
    return name


def _has_part(spark: SparkSession, name: str, part: str) -> bool:
    """Whether the store registered a ``part`` view. Only a missing
    view means "no part": a part whose files are gone fails its scan."""
    return spark.catalog.tableExists(f"{name}_{part}")


def _scan(view: str) -> str:
    """A store part as a SQL relation read in one task: the serves'
    filters push through the coalesce into the parquet scan."""
    return f"(SELECT /*+ COALESCE(1) */ * FROM `{view}`)"


def _in_list(prefix: str, values: list[str]) -> tuple[str, dict]:
    """Named parameter markers ``:<prefix>0, :<prefix>1, ...`` for an
    ``IN`` list, and their bindings. An empty list renders ``NULL``:
    ``IN ()`` does not parse, and ``IN (NULL)`` matches no row."""
    args = {f"{prefix}{i}": v for i, v in enumerate(values)}
    return ", ".join(f":{p}" for p in args) or "NULL", args


def store_gram_k(spark: SparkSession, name: str = "smse_index") -> int:
    """The gram k the store's chargrams part was WRITTEN with, read
    from its 1-row gramk part. Stores without one were written at the
    CHARGRAM_K constant (build_index had no other k)."""
    if not _has_part(spark, name, "gramk"):
        return CHARGRAM_K
    return int(spark.table(f"`{name}_gramk`").head().gram_k)


def gram_candidates(index: str, grams: set[str], min_common: int) -> tuple[str, dict]:
    """Terms of a ``(gram, term)`` char-k-gram relation that hold at
    least ``min_common`` of ``grams`` — the candidate step of the k-gram
    scheme (reference CharKGramTermIndexer: intersect gram posting
    lists, then verify). Returns a SQL query over ``index`` (a view or
    subquery) and its parameters: a ``gram IN (...)`` filter, which
    pushes into a parquet scan of the store's chargrams part, and a
    per-term count. The caller's verify closes the false positives."""
    marks, args = _in_list("g", sorted(grams))
    return (
        f"SELECT term FROM {index} WHERE gram IN ({marks}) "
        "GROUP BY term HAVING count(*) >= :min_common",
        {**args, "min_common": min_common},
    )


def _term_candidates(
    spark: SparkSession, name: str, grams: set[str], min_common: int
) -> tuple[str, dict]:
    """gram_candidates over the store's chargrams part, or every stats
    term when the probe is too short for a positive threshold or the
    store has no chargrams part — a dictionary-sized scan, never a
    corpus scan."""
    if min_common > 0 and _has_part(spark, name, "chargrams"):
        return gram_candidates(_scan(f"{name}_chargrams"), grams, min_common)
    return f"SELECT term FROM {_scan(f'{name}_stats')}", {}


def wildcard_indexed(
    spark: SparkSession,
    pattern: str,
    *,
    name: str = "smse_index",
) -> DataFrame:
    """Wildcard term lookup served from the PERSISTED chargram part —
    the store twin of plans/search.py wildcard_terms (reference F9,
    CharKGramTermIndexer). A term must contain ALL pattern grams
    (gram_candidates, probed at store_gram_k), then the shared verify
    filter closes the k-gram false positives. A pattern too short to
    yield a gram, or a store without the chargrams part, serves from
    the stats scan instead. Either scan is dictionary-sized.

    Only patterns with exactly one '*' are supported: a no-star pattern
    would silently act as a prefix glob and a multi-star pattern would
    silently return empty, so both raise."""
    from ..functions.tokenize import pattern_grams, wildcard_verify_cond

    if pattern.count("*") != 1:
        raise ValueError(
            f"wildcard pattern needs exactly one '*': {pattern!r}"
        )
    pre, _, suf = pattern.partition("*")
    grams = pattern_grams(f"${pre}*{suf}$".split("*"), store_gram_k(spark, name))
    cand, args = _term_candidates(spark, name, grams, len(grams))
    verify, vargs = wildcard_verify_cond(pre, suf)
    return spark.sql(f"SELECT term FROM ({cand}) WHERE {verify}", {**args, **vargs})


def fuzzy_indexed(
    spark: SparkSession,
    term: str,
    *,
    name: str = "smse_index",
) -> DataFrame:
    """Store terms within MAX_EDITS levenshtein edits of ``term`` (spelling
    correction). Candidates share at least ``len(grams) - MAX_EDITS*k``
    of the term's $-padded k-grams — the q-gram lemma: one edit
    destroys at most k padded grams — then the levenshtein verify keeps
    the true matches. Same rows as the stats scan, which serves when
    that threshold is <= 0 or the store has no chargrams part."""
    from ..functions.tokenize import pattern_grams

    k = store_gram_k(spark, name)
    grams = pattern_grams([f"${term}$"], k)
    cand, args = _term_candidates(spark, name, grams, len(grams) - MAX_EDITS * k)
    return spark.sql(
        f"SELECT term FROM ({cand}) WHERE levenshtein(term, :term) <= :max_edits",
        {**args, "term": term, "max_edits": MAX_EDITS},
    )


def search_indexed(
    spark: SparkSession,
    terms: list[str],
    *,
    top_k: int = 10,
    name: str = "smse_index",
) -> DataFrame:
    """Top-k over the PREBUILT index as one SQL statement: a pushed-down
    ``term IN (...)`` scan of a few row groups and a tiny aggregate, in
    one task, since spreading so little work costs shuffles. df is
    counted on the term's scanned postings rows, which is how
    build_index defines ``stats.df``, so no stats part is read;
    ``n_docs`` comes from the meta view's schema, so the call runs no
    job."""
    n_docs = _store_params(spark, name)["n_docs"]
    marks, args = _in_list("t", terms)
    return spark.sql(
        f"""
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM (SELECT docno, round(sum((1 + ln(tf)) * log10(:n_docs / df)), 6) AS score
      FROM (SELECT docno, tf, count(*) OVER (PARTITION BY term) AS df
            FROM {_scan(f"{name}_postings")} WHERE term IN ({marks}))
      GROUP BY docno ORDER BY score DESC, docno LIMIT :top_k)""",
        {**args, "n_docs": n_docs, "top_k": top_k},
    )
