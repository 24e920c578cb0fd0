"""Interactive-query plan — the reference REPL
(IntDocVectorsForwardIndex.java:243-322) as one declarative chain:

    query terms -> postings lookup (broadcast semi-join, J2)
                -> score accumulate (A10) -> top-k (O5) -> docid display (J3)

Scoring preserves the reference's exact mixed-log-base formula
(IntDocVectorsForwardIndex.java:211):

    score(doc) = sum_over_query_terms( (1 + ln(tf)) * log10(N / df) )

``_rank_tfidf`` is that ranker for search, search_phrase and
search_fidelity; every global top-k tail here is ``top_k_ranked``.

Two df modes (SURVEY.md A8):
- ``correct``   : df = docs containing the term (what the code intends);
- ``compat_df1``: df = 1 (what the reference actually computes — reduce
  never calls setDf on real keys, TermKGramDocIndexer.java:116).

Tie-break: score desc, docno asc (the reference's integer-truncated
comparator, IntDocVectorsForwardIndex.java:360-365, is order-unstable on
near-ties — documented divergence, SURVEY.md O6).

Scale: the query side is a handful of terms — Catalyst broadcasts it
(BroadcastHashJoin) so the index side never shuffles; with the index
stored sorted by term the lookup is a pruned scan, the exact Spark
analogue of the reference's forward-index seek (and why that job is
obsolete here).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caches import memo
from ..functions.stopwords import STOPWORD_SET
from ..functions.tokenize import SPLIT_RE, MAX_TOKEN_BYTES, duck_tokens_list, stopword_member
from ..sources.tables import table
from . import QuerySpec, top_k_ranked
from .index_store import CHARGRAM_K
from .indexing import duck_postings_flat, duck_term_stats, postings_flat

TOP_K = 10  # reference truncates at 10 (IntDocVectorsForwardIndex.java:218-222)


def tokenize_query(text: str) -> list[str]:
    """Driver-side query tokenization (tiny input — no cluster work),
    mirroring the expression tokenizer's semantics."""
    import re

    toks = [t for t in re.split(SPLIT_RE, text.lower().replace("'", "")) if t]
    toks = [t for t in toks if len(t.encode()) < MAX_TOKEN_BYTES]
    return [t for t in toks if t not in STOPWORD_SET]


# Warm-index memo: a real engine queries a built index, it does not
# re-tokenize the corpus per query. Keyed on (session id, sf_dir, k);
# cache() keeps the flat postings hot across the query workload (the
# in-memory analogue of the materialized term-sorted index in
# plans/index_store.py — which is the on-disk path at 100 TB).
@memo
def _warm_index(spark: SparkSession, sf_dir: str, k: int):
    post = postings_flat(spark, sf_dir, k).cache()
    # cache stats too: it is dictionary-sized, and uncached every
    # query would re-aggregate the full postings cache to derive it
    stats = post.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).cache()
    n_docs = table(spark, sf_dir, "documents").count()
    return post, stats, n_docs


def _tfidf(n: int, df: Column | None = None) -> Column:
    """A posting's tf-idf contribution (1 + ln tf) * log10(n / df) over
    the ``tf`` column and the ``df`` column, or ``df`` where given."""
    return (1 + F.log(F.col("tf"))) * F.log10(
        F.lit(n) / (F.col("df") if df is None else df)
    )


def _query_hits(post: DataFrame, stats: DataFrame, qdf: DataFrame) -> DataFrame:
    """The ``post`` rows of the ``qdf`` terms with their ``stats``. The
    tiny query side is broadcast into both joins; a missing term drops
    out (inner join == the reference's silent dictionary-miss skip, J2)."""
    return post.join(F.broadcast(qdf), "term").join(
        F.broadcast(stats.join(F.broadcast(qdf), "term")), "term"
    )


def _rank_tfidf(
    spark: SparkSession,
    index: Callable[[], tuple[DataFrame, DataFrame, int]],
    terms: list[str],
    top_k: int,
    df: Column | None = None,
) -> DataFrame:
    """(docno, score, rank): top-k docs by summed tf-idf of the distinct
    ``terms`` over the warm (post, stats, n_docs) that ``index()``
    returns; no terms, no rows and no index build."""
    if not terms:
        return spark.createDataFrame([], "docno long, score double, rank long")
    post, stats, n_docs = index()
    qdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    scored = (
        _query_hits(post, stats, qdf)
        .groupBy("docno")
        .agg(F.round(F.sum(_tfidf(n_docs, df)), 6).alias("score"))
    )
    return top_k_ranked(scored, top_k, F.desc("score"), F.asc("docno"))


def search(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    *,
    k: int = 1,
    top_k: int = TOP_K,
    df_mode: str = "correct",
) -> DataFrame:
    """Top-k docs for a free-text query. Returns (docno, score, rank)."""
    index = partial(_warm_index, spark, sf_dir, k)
    df = F.lit(1) if df_mode == "compat_df1" else None
    return _rank_tfidf(spark, index, tokenize_query(query), top_k, df)


# Stemmed-index memo, same contract as _warm_index: the reference REPL
# queries a PREBUILT stemmed index (IntDocVectorsForwardIndex.java:243-322)
# — it never re-tokenizes the corpus per query, and neither do we. The
# pandas-UDF tokenize+stem runs once per (session, sf_dir); every query
# after that is a broadcast lookup against the cached postings.
@memo
def _warm_fidelity_index(spark: SparkSession, sf_dir: str):
    from .indexing import postings_flat_fidelity

    post = postings_flat_fidelity(spark, sf_dir).cache()
    stats = post.groupBy("term").agg(F.count("*").alias("df")).cache()
    n_docs = table(spark, sf_dir, "documents").count()
    return post, stats, n_docs


def search_fidelity(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """Reference-parity search over the STEMMED fidelity index: the query
    goes through the identical tokenize→stopword→stem pipeline the
    documents did (reference REPL uses the same GalagoTokenizer for
    queries, IntDocVectorsForwardIndex.java:295)."""
    from ..functions.fidelity import tokenize_text

    index = partial(_warm_fidelity_index, spark, sf_dir)
    return _rank_tfidf(spark, index, tokenize_text(query), top_k)


def duck_search(query: str, *, k: int = 1, top_k: int = TOP_K, df_mode: str = "correct") -> str:
    terms = tokenize_query(query)
    lits = ", ".join("'" + t + "'" for t in set(terms))
    df_expr = "1" if df_mode == "compat_df1" else "stats.df"
    return f"""
WITH post AS ({duck_postings_flat(k)}),
     stats AS ({duck_term_stats(k)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / {df_expr})), 6) AS score
       FROM post JOIN stats USING (term) CROSS JOIN n
       WHERE post.term IN ({lits})
       GROUP BY post.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


def search_with_docids(
    spark: SparkSession, sf_dir: str, query: str, **kw
) -> DataFrame:
    """Search results joined back to display docids (reference J3:
    docno→docid array lookup at print time becomes a broadcast join
    against the docno mapping)."""
    from .indexing import docno_mapping

    res = search(spark, sf_dir, query, **kw)
    mapping = docno_mapping(spark, sf_dir)
    # our corpus uses doc_id == docno; the reference's mapping is keyed by
    # its own 1-based docno — join on the docid rendering of docno.
    # bounded: broadcast the TOP-K result (10 rows) against the mapping —
    # the mapping is one row per doc (corpus-cardinality), so it is the
    # probe side and never moves; the reference's DistributedCache of the
    # whole mapping (J1) inverts at scale.
    return (
        F.broadcast(res)
        .join(mapping, res["docno"] == mapping["docid"].cast("long"))
        .select(res["docno"], mapping["docid"], res["score"], res["rank"])
    )


# The synthetic documents fixture draws from this fixed word pool
# (TESTDATA.md) — no acronym/period shapes, so on THIS corpus the
# fidelity tokenizer (acronym rules + stem) equals the expression
# tokenizer followed by a per-word stem lookup. That equivalence is
# asserted doc-for-doc in tests/test_search_extras.py; it is what makes
# the stemmed search oracle-checkable without a stemmer in DuckDB.
FIXTURE_POOL = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
)


def duck_search_fidelity(query: str, *, top_k: int = TOP_K) -> str:
    """DuckDB oracle for the stemmed-index search: expression tokenize
    (stopworded) -> embedded (token, stem) dictionary -> the identical
    postings/df/scoring SQL as duck_search. Only the per-word stem
    mapping is shared with the engine; the Porter2 stemmer producing it
    is independently golden-tested against the published Snowball
    vocabulary (tests/test_stemmer_snowball.py)."""
    from ..functions.fidelity import tokenize_text
    from ..functions.stemmer import stem

    terms = sorted(set(tokenize_text(query)))
    lits = ", ".join("'" + t + "'" for t in terms) or "''"
    values = ", ".join(f"('{w}', '{stem(w)}')" for w in FIXTURE_POOL)
    toks = duck_tokens_list("text", stopworded=True)
    return f"""
WITH stemmap(token, stem) AS (VALUES {values}),
     toks AS (SELECT doc_id AS docno, unnest({toks}) AS token FROM documents),
     post AS (
       SELECT coalesce(m.stem, t.token) AS term, t.docno, count(*) AS tf
       FROM toks t LEFT JOIN stemmap m ON m.token = t.token
       GROUP BY 1, 2
     ),
     stats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
     n AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN stats USING (term) CROSS JOIN n
       WHERE post.term IN ({lits})
       GROUP BY post.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


def duck_search_with_docids(query: str, **kw) -> str:
    from .indexing import DUCK_DOCNO_MAPPING

    return f"""
WITH res AS ({duck_search(query, **kw)}),
     m AS ({DUCK_DOCNO_MAPPING})
SELECT res.docno, m.docid, res.score, res.rank
FROM res JOIN m ON res.docno = CAST(m.docid AS BIGINT)
"""


WORKLOAD = {
    1: "spark join",
    2: "merge sort",
    3: "the window",          # stopword dropped
    4: "vector",
    5: "zzznothing found",    # partial miss
}


def batch_workload(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, str] | None = None,
    *,
    k: int = 1,
    top_k: int = TOP_K,
) -> DataFrame:
    """Score MANY queries in ONE job: (query_id, docno, score, rank).

    The scale-correct serving shape — the index is scanned once for the
    whole workload (query terms broadcast, per-query top-k via ranking
    window) instead of once per query. This is the FIXTURES.md
    query_results contract."""
    queries = queries or WORKLOAD
    pairs = [
        (qid, t)
        for qid, qtext in queries.items()
        for t in sorted(set(tokenize_query(qtext)))
    ]
    if not pairs:
        return spark.createDataFrame(
            [], "query_id long, docno long, score double, rank long"
        )
    qdf = spark.createDataFrame(pairs, "query_id long, term string")
    post, stats, n_docs = _warm_index(spark, sf_dir, k)
    scored = (
        post.join(F.broadcast(qdf), "term")
        .join(F.broadcast(stats.join(F.broadcast(qdf.select("term").distinct()), "term")), "term")
        .groupBy("query_id", "docno")
        .agg(F.round(F.sum(_tfidf(n_docs)), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("docno"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "docno", "score", "rank")
    )


def duck_batch_workload(
    queries: dict[int, str] | None = None, *, k: int = 1, top_k: int = TOP_K
) -> str:
    queries = queries or WORKLOAD
    pairs = [
        (qid, t)
        for qid, qtext in queries.items()
        for t in sorted(set(tokenize_query(qtext)))
    ]
    values = ", ".join(f"({qid}, '{t}')" for qid, t in pairs)
    return f"""
WITH post AS ({duck_postings_flat(k)}),
     stats AS ({duck_term_stats(k)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     q(query_id, term) AS (VALUES {values}),
     scored AS (
       SELECT q.query_id, post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN q USING (term) JOIN stats USING (term) CROSS JOIN n
       GROUP BY q.query_id, post.docno
     ),
     ranked AS (
       SELECT query_id, docno, score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, docno) AS rk
       FROM scored
     )
SELECT query_id, docno, score, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {top_k}
"""


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation harness: P@10 / recall@10 / MRR / NDCG@10
# of the tf-idf ranking against an exactly-defined gold set (strong
# conjunctive containment: a doc is relevant iff it contains EVERY query
# term at tf >= 2 — computable bit-exactly on both engines from the
# postings; the tf floor keeps the gold set selective enough that the
# metrics discriminate instead of saturating at 1.0).
# The float-free trick: DCG weights 1/log2(rank+1) are
# precomputed ONCE driver-side as half-up micro-units (a 10-entry
# constant), so DCG/IDCG are integer sums — associative, partition-order
# -proof — and NDCG is an integer ppm ratio. Queries whose gold set is
# empty (no doc has all terms) drop out, deterministically on both
# engines. Plan shape: the gold build is one broadcast-query-side join
# over the warm postings; metrics join the 10-row-per-query ranking with
# gold — everything after the postings scan is query-cardinality.
import math as _math

EVAL_MIN_TF = 2  # gold = docs with every query term at tf >= this
EVAL_DCG_W = tuple(
    int(1_000_000 / _math.log2(r + 1) + 0.5) for r in range(1, TOP_K + 1)
)
EVAL_IDCG_PS = tuple(
    sum(EVAL_DCG_W[: i + 1]) for i in range(TOP_K)
)  # prefix sums: IDCG for |gold| = 1..10 (binary relevance)


def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_gold, hits10, p10_ppm, recall10_ppm, mrr_micro,
    dcg_micro, idcg_micro, ndcg_ppm) per workload query."""
    pairs = [
        (qid, t)
        for qid, qtext in WORKLOAD.items()
        for t in sorted(set(tokenize_query(qtext)))
    ]
    qdf = spark.createDataFrame(pairs, "query_id long, term string")
    qn = qdf.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    post, _stats, _n_docs = _warm_index(spark, sf_dir, 1)
    gold = (
        post.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "docno")
        .agg(F.count("*").alias("nt"), F.min("tf").alias("min_tf"))
        .join(F.broadcast(qn), "query_id")
        .filter((F.col("nt") == F.col("n_terms")) & (F.col("min_tf") >= EVAL_MIN_TF))
        .select("query_id", "docno")
    )
    per_q = gold.groupBy("query_id").agg(F.count("*").alias("n_gold"))
    warr = F.array(*[F.lit(w) for w in EVAL_DCG_W])
    psarr = F.array(*[F.lit(p) for p in EVAL_IDCG_PS])
    # ranked is TOP_K rows per query — broadcast it into gold (which is
    # corpus-cardinality in the worst case: every doc can be relevant)
    hit_agg = (
        F.broadcast(batch_workload(spark, sf_dir))
        .join(gold, ["query_id", "docno"])
        .groupBy("query_id")
        .agg(
            F.count("*").alias("h10"),
            F.min("rank").alias("first_rank"),
            F.sum(F.element_at(warr, F.col("rank").cast("int"))).alias("dcg"),
        )
    )
    return (
        per_q.join(hit_agg, "query_id", "left")
        .withColumn("hits10", F.coalesce("h10", F.lit(0)))
        .withColumn("dcg_micro", F.coalesce("dcg", F.lit(0)))
        .withColumn(
            "idcg_micro",
            F.element_at(psarr, F.least(F.lit(TOP_K), F.col("n_gold")).cast("int")),
        )
        .select(
            "query_id",
            "n_gold",
            "hits10",
            F.expr(f"hits10 * 1000000 div {TOP_K}").alias("p10_ppm"),
            F.expr("hits10 * 1000000 div n_gold").alias("recall10_ppm"),
            F.expr(
                "CASE WHEN first_rank IS NULL THEN 0 "
                "ELSE 1000000 div first_rank END"
            ).alias("mrr_micro"),
            "dcg_micro",
            "idcg_micro",
            F.expr("dcg_micro * 1000000 div idcg_micro").alias("ndcg_ppm"),
        )
    )


def duck_eval_metrics() -> str:
    from .indexing import duck_postings_flat, duck_term_stats

    pairs = [
        (qid, t)
        for qid, qtext in WORKLOAD.items()
        for t in sorted(set(tokenize_query(qtext)))
    ]
    values = ", ".join(f"({qid}, '{t}')" for qid, t in pairs)
    wlist = "[" + ", ".join(str(w) for w in EVAL_DCG_W) + "]"
    pslist = "[" + ", ".join(str(p) for p in EVAL_IDCG_PS) + "]"
    return f"""
WITH post AS ({duck_postings_flat(1)}),
     stats AS ({duck_term_stats(1)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     q(query_id, term) AS (VALUES {values}),
     qn AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY query_id),
     gold AS (
       SELECT m.query_id, m.docno
       FROM (SELECT q.query_id, post.docno, count(*) AS nt,
                    min(post.tf) AS min_tf
             FROM post JOIN q USING (term) GROUP BY 1, 2) m
       JOIN qn USING (query_id)
       WHERE m.nt = qn.n_terms AND m.min_tf >= {EVAL_MIN_TF}
     ),
     per_q AS (SELECT query_id, count(*) AS n_gold FROM gold GROUP BY query_id),
     scored AS (
       SELECT q.query_id, post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN q USING (term) JOIN stats USING (term) CROSS JOIN n
       GROUP BY q.query_id, post.docno
     ),
     ranked AS (
       SELECT query_id, docno,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, docno) AS rk
       FROM scored
     ),
     ha AS (
       SELECT r.query_id, count(*) AS h10, min(r.rk) AS first_rank,
              CAST(sum({wlist}[r.rk]) AS BIGINT) AS dcg
       FROM ranked r JOIN gold g
         ON r.query_id = g.query_id AND r.docno = g.docno
       WHERE r.rk <= {TOP_K}
       GROUP BY r.query_id
     )
SELECT per_q.query_id, per_q.n_gold,
       CAST(coalesce(ha.h10, 0) AS BIGINT) AS hits10,
       CAST(coalesce(ha.h10, 0) * 1000000 // {TOP_K} AS BIGINT) AS p10_ppm,
       CAST(coalesce(ha.h10, 0) * 1000000 // per_q.n_gold AS BIGINT)
         AS recall10_ppm,
       CAST(CASE WHEN ha.first_rank IS NULL THEN 0
                 ELSE 1000000 // ha.first_rank END AS BIGINT) AS mrr_micro,
       CAST(coalesce(ha.dcg, 0) AS BIGINT) AS dcg_micro,
       CAST({pslist}[least({TOP_K}, per_q.n_gold)] AS BIGINT) AS idcg_micro,
       CAST(coalesce(ha.dcg, 0) * 1000000
              // {pslist}[least({TOP_K}, per_q.n_gold)] AS BIGINT) AS ndcg_ppm
FROM per_q LEFT JOIN ha ON per_q.query_id = ha.query_id
"""


# ---------------------------------------------------------------------------
# Passage retrieval — the RAG serving path: retrieve CHUNKS, not
# documents. The chunk corpus is text_chunk_windows' output (fixed-
# stride overlapping token windows); each chunk gets its own postings
# and df, and the standard tf-idf formula ranks chunks directly, so the
# top-10 results are the context windows a RAG prompt would splice in.
# Composition, not new machinery: chunk derivation and the scoring
# formula are each already oracle-checked; this query chains them on
# both engines. Plan shape: one pass over the shared tokenized scan →
# narrow chunk explode → one (chunk, term) groupBy; the query side is a
# broadcast literal; df/n are dictionary/1-row broadcasts.


def search_passages(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """(doc_id, chunk_id, start_tok, score, rank): top-k chunks by
    tf-idf over the chunk corpus."""
    from .textstats import chunk_windows

    terms = sorted(set(tokenize_query(query)))
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, chunk_id long, start_tok long, score double, rank long"
        )
    chunks = chunk_windows(spark, sf_dir)
    ctoks = chunks.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.explode(F.split("chunk_text", " ")).alias("term"),
    ).filter((F.col("term") != "") & ~stopword_member(F.col("term")))
    post = ctoks.groupBy("doc_id", "chunk_id", "start_tok", "term").agg(
        F.count("*").alias("tf")
    )
    n_chunks = chunks.count()  # plan-time scalar (chunk census)
    stats = post.groupBy("term").agg(
        F.countDistinct("doc_id", "chunk_id").alias("df")
    )
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    scored = (
        _query_hits(post, stats, qdf)
        .groupBy("doc_id", "chunk_id", "start_tok")
        .agg(F.round(F.sum(_tfidf(n_chunks)), 6).alias("score"))
    )
    return top_k_ranked(scored, top_k, F.desc("score"), "doc_id", "chunk_id")


def duck_search_passages(query: str, *, top_k: int = TOP_K) -> str:
    from ..functions.stopwords import sql_not_in_stopwords
    from .textstats import _duck_chunk_windows

    terms = sorted(set(tokenize_query(query)))
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH chunks AS ({_duck_chunk_windows()}),
     ctoks AS (
       SELECT doc_id, chunk_id, start_tok,
              unnest(string_split(chunk_text, ' ')) AS term
       FROM chunks
     ),
     post AS (
       SELECT doc_id, chunk_id, start_tok, term, count(*) AS tf
       FROM ctoks
       WHERE term <> '' AND {sql_not_in_stopwords("term")}
       GROUP BY 1, 2, 3, 4
     ),
     n AS (SELECT count(*) AS n_chunks FROM chunks),
     q(term) AS (VALUES {values}),
     stats AS (
       SELECT term, count(*) AS df
       FROM (SELECT DISTINCT doc_id, chunk_id, term FROM post
             JOIN q USING (term)) GROUP BY term
     ),
     scored AS (
       SELECT post.doc_id, post.chunk_id, post.start_tok,
              round(sum((1 + ln(post.tf)) * log10(n.n_chunks / stats.df)), 6)
                AS score
       FROM post JOIN q USING (term) JOIN stats USING (term) CROSS JOIN n
       GROUP BY 1, 2, 3
     )
SELECT doc_id, chunk_id, start_tok, score,
       row_number() OVER (ORDER BY score DESC, doc_id, chunk_id) AS rank
FROM scored
ORDER BY score DESC, doc_id, chunk_id LIMIT {top_k}
"""


def search_phrase(
    spark: SparkSession, sf_dir: str, phrase: str, *, top_k: int = TOP_K
) -> DataFrame:
    """Exact-phrase search: an n-word phrase is ONE term in the word-
    n-gram index (this is what the reference builds k>1 TermKGram
    indexes FOR — the phrase postings are precomputed, no positional
    intersection needed). tf = phrase occurrence count; scoring formula
    unchanged."""
    terms = tokenize_query(phrase)
    index = partial(_warm_index, spark, sf_dir, len(terms))
    return _rank_tfidf(spark, index, [" ".join(terms)] if terms else [], top_k)


def search_indexed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_index + search_indexed composed in ONE query: the on-disk
    index store written and then SERVED — a pushed-down `term IN (...)`
    scan of the persisted postings plus the meta n_docs, no corpus
    re-tokenize. Same query and value oracle as search_two_term: the
    DuckDB-oracled twin of the search_indexed_warm bench line."""
    from .index_store import build_index, search_indexed
    from .sinks_sources import _out_path

    out = _out_path("index_store_served", sf_dir)
    name = build_index(spark, sf_dir, out, name="smse_index_served")
    return search_indexed(spark, tokenize_query("spark join"), name=name)


def search_phrase_indexed_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The phrase twin of search_indexed_roundtrip: a phrase is ONE term
    in the persisted k=2 store, so serving is the identical pushed-down
    single-term lookup. Same value oracle as search_phrase_2gram."""
    from .index_store import build_index, search_indexed
    from .sinks_sources import _out_path

    out = _out_path("index_store2_served", sf_dir)
    name = build_index(spark, sf_dir, out, k=2, name="smse_index2_served")
    return search_indexed(spark, [" ".join(tokenize_query("spark join"))], name=name)


def wildcard_indexed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_index(chargrams=True) + a wildcard lookup served from the
    PERSISTED chargram part, composed in ONE query, so the value oracle
    reads <store>/chargrams: a pushed-down `gram IN (...)` scan plus the
    post-filter verify. The oracle is the corpus-side duck_wildcard at
    the store's CHARGRAM_K (the stats part's terms ARE the k=1
    vocabulary)."""
    from .index_store import build_index, wildcard_indexed
    from .sinks_sources import _out_path

    out = _out_path("index_store_cg_served", sf_dir)
    name = build_index(
        spark, sf_dir, out, chargrams=True, name="smse_index_cg_served"
    )
    return wildcard_indexed(spark, "*ark", name=name)


def duck_search_phrase(phrase: str, *, top_k: int = TOP_K) -> str:
    terms = tokenize_query(phrase)
    gram = " ".join(terms)
    k = max(len(terms), 1)
    return f"""
WITH post AS ({duck_postings_flat(k)}),
     stats AS ({duck_term_stats(k)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN stats USING (term) CROSS JOIN n
       WHERE post.term = '{gram}'
       GROUP BY post.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


def wildcard_terms(
    spark: SparkSession, sf_dir: str, pattern: str, *, k: int = 3
) -> DataFrame:
    """Wildcard term lookup via the char-k-gram index — what the
    reference builds CharKGramTermIndexer FOR (k-gram index over
    $-padded terms answers `pre*`/`*suf`/`pre*suf` lookups by
    intersecting gram posting lists, then post-filtering).

    Returns the matching vocabulary terms. Only patterns with a single
    '*' are supported (the classic k-gram wildcard scheme). Probe grams
    come from the shared pattern_grams extraction, candidates from the
    store serve's index_store.gram_candidates over the corpus-derived
    chargram index, and the post-filter verify from the shared
    wildcard_verify_cond."""
    from ..functions.tokenize import pattern_grams, wildcard_verify_cond
    from .index_store import gram_candidates
    from .indexing import chargram_flat, doc_terms

    # Same exactly-one-'*' contract as the store twin wildcard_indexed
    # (r15 review / r15 verdict #5): a no-star pattern would silently
    # behave as a gram-filtered prefix glob and a multi-star pattern
    # would silently return empty rows.
    if pattern.count("*") != 1:
        raise ValueError(
            f"wildcard pattern needs exactly one '*': {pattern!r}"
        )
    pre, _, suf = pattern.partition("*")
    grams = pattern_grams(f"${pre}*{suf}$".split("*"), k)
    if grams:  # a term must contain ALL pattern grams
        index = chargram_flat(spark, sf_dir, k)
        cand, args = gram_candidates("{index}", grams, len(grams))
    else:  # no k-gram in the pattern (e.g. bare '*'): vocabulary scan
        index = doc_terms(spark, sf_dir, 1)
        cand, args = "SELECT DISTINCT term FROM {index}", {}
    # post-filter kills k-gram false positives (standard verify step)
    verify, vargs = wildcard_verify_cond(pre, suf)
    return spark.sql(
        f"SELECT term FROM ({cand}) WHERE {verify}", {**args, **vargs}, index=index
    )


def duck_wildcard(pattern: str, *, k: int = 3) -> str:
    """Oracle-SQL twin of wildcard_terms. Same exactly-one-'*' contract
    as wildcard_terms / wildcard_indexed (r16 ADVICE, closed r17): a
    multi-star pattern would render a broken `LIKE 'a%b*c'` and a
    no-star pattern a silent prefix glob. Output is byte-identical to
    pre-guard for every valid single-star pattern (the guard is
    reject-only — hash-diffed over the four registry literals r17)."""
    from ..functions.tokenize import pattern_grams
    from .indexing import duck_chargram_flat

    if pattern.count("*") != 1:
        raise ValueError(
            f"wildcard pattern needs exactly one '*': {pattern!r}"
        )
    pre, _, suf = pattern.partition("*")
    grams = pattern_grams(f"${pre}*{suf}$".split("*"), k)
    lits = ", ".join("'" + g + "'" for g in sorted(grams))
    return f"""
WITH idx AS ({duck_chargram_flat(k)}),
     cand AS (
       SELECT term FROM idx WHERE gram IN ({lits})
       GROUP BY term HAVING count(*) = {len(grams)}
     )
SELECT term FROM cand
WHERE term LIKE '{pre}%{suf}'
  AND length(term) >= {len(pre) + len(suf)}
"""


# Okapi BM25 constants (standard Robertson values)
BM25_K1 = 1.2
BM25_B = 0.75


def search_bm25(
    spark: SparkSession, sf_dir: str, query: str, *, k: int = 1, top_k: int = TOP_K
) -> DataFrame:
    """Okapi BM25 top-k over the same warm index as the tf-idf search —
    the modern ranking function next to the reference's REPL formula
    (public Robertson/Lucene form with the positive idf variant):

        idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
        norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Doc length dl = sum(tf) over the doc's indexed terms — derived from
    the cached postings, NO extra corpus scan; avgdl broadcast as a
    one-row aggregate. The dl join keys on docno with the tiny hit side
    broadcast (dl is doc-cardinality — never the broadcast side)."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docno long, score double, rank long")
    post, stats, n_docs = _warm_index(spark, sf_dir, k)
    dl = post.groupBy("docno").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    qdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    hits = _query_hits(post, stats, qdf).join(dl, "docno").crossJoin(
        F.broadcast(avgdl)
    )
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = hits.groupBy("docno").agg(F.round(F.sum(idf * norm), 6).alias("score"))
    return top_k_ranked(scored, top_k, F.desc("score"), F.asc("docno"))


def duck_search_bm25(query: str, *, k: int = 1, top_k: int = TOP_K) -> str:
    terms = tokenize_query(query)
    lits = ", ".join("'" + t + "'" for t in set(terms))
    # e0-suffixed literals: a bare 1.2 parses as DECIMAL in DuckDB and
    # decimal arithmetic would diverge from Spark's IEEE doubles
    K1, B = f"{BM25_K1}e0", f"{BM25_B}e0"
    return f"""
WITH post AS ({duck_postings_flat(k)}),
     stats AS ({duck_term_stats(k)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     dl AS (SELECT docno, sum(tf) AS dl FROM post GROUP BY docno),
     ad AS (SELECT avg(dl) AS avgdl FROM dl),
     scored AS (
       SELECT post.docno,
              round(sum(
                ln(1e0 + (n.n_docs - stats.df + 0.5e0) / (stats.df + 0.5e0))
                * (post.tf * ({K1} + 1)) /
                  (post.tf + {K1} * (1 - {B} + {B} * dl.dl / ad.avgdl))
              ), 6) AS score
       FROM post JOIN stats USING (term) JOIN dl USING (docno)
       CROSS JOIN n CROSS JOIN ad
       WHERE post.term IN ({lits})
       GROUP BY post.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


# Dirichlet-prior query-likelihood smoothing parameter (standard
# Zhai/Lafferty value range; 2000 is the common default)
LM_MU = 2000.0


def search_lm_dirichlet(
    spark: SparkSession, sf_dir: str, query: str, *, k: int = 1, top_k: int = TOP_K
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing — the language-
    modeling ranker next to tf-idf (the reference REPL formula) and BM25:

        score(doc) = sum_q ln( (tf + mu * cf_q / C) / (dl + mu) )

    Full QL semantics: every query term contributes to every CANDIDATE
    doc (docs with >=1 hit), absent terms through the collection prior —
    so candidates x query-terms is built with the tiny term side
    broadcast and tf left-joined from the warm postings. cf and C come
    from the cached dictionary (stats already carries cf); dl is one
    partial agg over the cached postings. No extra corpus scan."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docno long, score double, rank long")
    post, stats, _ = _warm_index(spark, sf_dir, k)
    qdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    # qstats: (term, cf) for query terms present in the dictionary
    # (missing terms have cf=0 — a zero-probability event under the pure
    # collection prior — so the miss-skip drops them, J2's semantics)
    qstats = stats.join(F.broadcast(qdf), "term").select("term", "cf")
    coll = stats.agg(F.sum("cf").cast("double").alias("c_total"))
    dl = post.groupBy("docno").agg(F.sum("tf").alias("dl"))
    cand = post.join(F.broadcast(qdf), "term").select("docno").distinct()
    grid = cand.join(dl, "docno").crossJoin(F.broadcast(qstats)).crossJoin(
        F.broadcast(coll)
    )
    hits = post.join(F.broadcast(qdf), "term").select("docno", "term", "tf")
    scored = (
        grid.join(hits, ["docno", "term"], "left")
        .select(
            "docno",
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + F.lit(LM_MU) * F.col("cf") / F.col("c_total")
                )
                / (F.col("dl") + F.lit(LM_MU))
            ).alias("contrib"),
        )
        .groupBy("docno")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return top_k_ranked(scored, top_k, F.desc("score"), F.asc("docno"))


def duck_search_lm_dirichlet(query: str, *, k: int = 1, top_k: int = TOP_K) -> str:
    terms = tokenize_query(query)
    lits = ", ".join("'" + t + "'" for t in set(terms))
    mu = f"{LM_MU}e0" if "e" not in repr(LM_MU) else repr(LM_MU)
    return f"""
WITH post AS MATERIALIZED (
       SELECT * FROM ({duck_postings_flat(k)}) ),
     stats AS ({duck_term_stats(k)}),
     qstats AS (SELECT term, cf FROM stats WHERE term IN ({lits})),
     coll AS (SELECT CAST(sum(cf) AS DOUBLE) AS c_total FROM stats),
     dl AS (SELECT docno, sum(tf) AS dl FROM post GROUP BY docno),
     cand AS (SELECT DISTINCT docno FROM post WHERE term IN ({lits})),
     grid AS (SELECT cand.docno, dl.dl, qstats.term, qstats.cf, coll.c_total
              FROM cand JOIN dl USING (docno) CROSS JOIN qstats CROSS JOIN coll),
     scored AS (
       SELECT grid.docno,
              round(sum(ln(
                (CAST(coalesce(post.tf, 0) AS DOUBLE) + {mu} * grid.cf / grid.c_total)
                / (grid.dl + {mu})
              )), 6) AS score
       FROM grid LEFT JOIN post
         ON post.docno = grid.docno AND post.term = grid.term
       GROUP BY grid.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


TOP_TERMS_PER_DOC = 3


def top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k tf-idf terms — the sparse keyword-extraction
    pass (doc → representative terms) a corpus-analytics or retrieval
    pipeline materializes. One ranking window over the warm postings
    joined to dictionary-sized stats; output is docs×k rows, never the
    full postings."""
    post, stats, n_docs = _warm_index(spark, sf_dir, 1)
    tfidf = F.round(_tfidf(n_docs), 6)
    w = Window.partitionBy("docno").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        post.join(stats.select("term", "df"), "term")
        .select("docno", "term", tfidf.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_TERMS_PER_DOC)
    )


def duck_top_terms_per_doc() -> str:
    return f"""
WITH post AS ({duck_postings_flat(1)}),
     stats AS ({duck_term_stats(1)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT post.docno, post.term,
              round((1 + ln(post.tf)) * log10(n.n_docs / stats.df), 6) AS tfidf
       FROM post JOIN stats USING (term) CROSS JOIN n
     ),
     ranked AS (
       SELECT docno, term, tfidf,
              row_number() OVER (PARTITION BY docno
                                 ORDER BY tfidf DESC, term) AS rk
       FROM scored
     )
SELECT docno, term, tfidf, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {TOP_TERMS_PER_DOC}
"""


RELATED_MIN_SHARED = 2  # pairs must share >= 2 of their top terms
RELATED_TERM_CAP = 100  # drop terms that are a top term of > CAP docs


def related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'More-like-this' doc-doc similarity over the sparse top-terms
    representation (the classic keyword-profile related-articles pass):
    pairs of docs sharing >= RELATED_MIN_SHARED of their top-3 tf-idf
    terms, scored by the sum of shared-term tf-idf products.

    Scale shape: the self-join runs on the docs×3 top-terms relation
    (NOT the full postings), so per-term pair fan-out is bounded by how
    many docs elect the term — and terms electing > RELATED_TERM_CAP
    docs are dropped first (the standard common-feature cut in sparse
    similarity joins; tf-idf election already makes such terms rare).
    Worst case is CAP² pairs per term, never df². Scoring accumulates
    half-up micro-units (floor(x*1e6 + 0.5) as BIGINT) so the sum is
    integer-associative — immune to cross-engine float summation order
    (the int8_quantize discipline applied to a join-aggregate)."""
    top = top_terms_per_doc(spark, sf_dir).select("docno", "term", "tfidf")
    tc = top.groupBy("term").agg(F.count("*").alias("tc"))
    top = top.join(tc.filter(F.col("tc") <= RELATED_TERM_CAP), "term").drop(
        "tc"
    )
    a = top.select(
        "term", F.col("docno").alias("d1"), F.col("tfidf").alias("s1")
    )
    b = top.select(
        "term", F.col("docno").alias("d2"), F.col("tfidf").alias("s2")
    )
    micro = F.floor(F.col("s1") * F.col("s2") * 1e6 + F.lit(0.5)).cast("long")
    return (
        a.join(b, "term")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(micro).cast("long").alias("score_micro"),
        )
        .filter(F.col("n_shared") >= RELATED_MIN_SHARED)
    )


def duck_related_docs() -> str:
    return f"""
WITH top0 AS ({duck_top_terms_per_doc()}),
     tc AS (SELECT term, count(*) AS tc FROM top0 GROUP BY term),
     top AS (SELECT top0.docno, top0.term, top0.tfidf
             FROM top0 JOIN tc USING (term)
             WHERE tc.tc <= {RELATED_TERM_CAP})
SELECT a.docno AS d1, b.docno AS d2, count(*) AS n_shared,
       CAST(sum(CAST(floor(a.tfidf * b.tfidf * 1000000 + 0.5) AS BIGINT))
            AS BIGINT) AS score_micro
FROM top a JOIN top b ON a.term = b.term AND a.docno < b.docno
GROUP BY a.docno, b.docno
HAVING count(*) >= {RELATED_MIN_SHARED}
"""


RRF_K = 60  # standard reciprocal-rank-fusion constant


def search_rrf(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """Reciprocal-rank fusion of the tf-idf and BM25 rankers:
    rrf(doc) = Σ_systems 1/(K + rank_system(doc)) over the systems that
    returned the doc in their top-k. The standard zero-training ensemble
    for combining rankers; exact rational arithmetic in doubles, so both
    engines agree bit-for-bit. Output (docno, rrf, rank)."""
    a = search(spark, sf_dir, query, top_k=top_k).select(
        "docno", F.col("rank").alias("rank_tfidf")
    )
    b = search_bm25(spark, sf_dir, query, top_k=top_k).select(
        "docno", F.col("rank").alias("rank_bm25")
    )
    fused = (
        a.join(b, "docno", "full_outer")
        .select(
            "docno",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rank_tfidf")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rank_bm25")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return top_k_ranked(fused, top_k, F.desc("rrf"), F.asc("docno"))


def duck_search_rrf(query: str, *, top_k: int = TOP_K) -> str:
    return f"""
WITH a AS ({duck_search(query, top_k=top_k)}),
     b AS ({duck_search_bm25(query, top_k=top_k)}),
     fused AS (
       SELECT coalesce(a.docno, b.docno) AS docno,
              round(coalesce(1e0 / ({RRF_K} + a.rank), 0e0)
                    + coalesce(1e0 / ({RRF_K} + b.rank), 0e0), 6) AS rrf
       FROM a FULL OUTER JOIN b ON a.docno = b.docno
     ),
     topk AS (SELECT docno, rrf FROM fused ORDER BY rrf DESC, docno LIMIT {top_k})
SELECT docno, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, docno) AS BIGINT) AS rank
FROM topk
"""


def search_hybrid_rrf(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """Hybrid text+vector retrieval — the modern serving default: fuse
    the BM25 lexical ranking with the embedding-cosine vector ranking
    (each doc_id has a same-id vector in the embeddings table) by
    reciprocal-rank fusion. RRF needs only ranks, so the incomparable
    score scales (BM25 logs vs cosine) never mix — the reason RRF is
    the standard zero-training hybrid combiner. Both arms are their own
    oracle-checked top-10s; fusion is exact rational arithmetic.
    Output (docno, rrf, rank)."""
    from .similarity import knn_brute_force

    lex = search_bm25(spark, sf_dir, query, top_k=top_k).select(
        "docno", F.col("rank").alias("rank_lex")
    )
    wv = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    # top_k threads into BOTH arms (ADVICE r4: a hard-wired vector
    # depth would silently fuse a truncated vector ranking at top_k>10)
    vec = knn_brute_force(spark, sf_dir, top_k=top_k).select(
        F.col("vec_id").alias("docno"),
        F.row_number().over(wv).cast("long").alias("rank_vec"),
    )
    fused = (
        lex.join(vec, "docno", "full_outer")
        .select(
            "docno",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rank_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return top_k_ranked(fused, top_k, F.desc("rrf"), F.asc("docno"))


def duck_search_hybrid_rrf(query: str, *, top_k: int = TOP_K) -> str:
    from .similarity import duck_knn_brute

    return f"""
WITH a AS ({duck_search_bm25(query, top_k=top_k)}),
     knn AS ({duck_knn_brute(top_k)}),
     b AS (
       SELECT vec_id AS docno,
              CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT)
                AS rank
       FROM knn
     ),
     fused AS (
       SELECT coalesce(a.docno, b.docno) AS docno,
              round(coalesce(1e0 / ({RRF_K} + a.rank), 0e0)
                    + coalesce(1e0 / ({RRF_K} + b.rank), 0e0), 6) AS rrf
       FROM a FULL OUTER JOIN b ON a.docno = b.docno
     ),
     topk AS (SELECT docno, rrf FROM fused ORDER BY rrf DESC, docno LIMIT {top_k})
SELECT docno, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, docno) AS BIGINT) AS rank
FROM topk
"""


def search_proximity(
    spark: SparkSession,
    sf_dir: str,
    term_a: str,
    term_b: str,
    *,
    top_k: int = TOP_K,
) -> DataFrame:
    """Positional proximity search: docs ranked by the MINIMUM token gap
    between two query terms — the classic positional-index proximity
    operator the reference's recorded positions (TagTokenizer.java:449-451)
    enable. Output (docno, mindist, rank), closest-first.

    Plan shape: ONE corpus scan — the positional stream is filtered to
    the two terms (predicate under the explode), then a single per-doc
    aggregation collects both position lists and computes the min gap
    with higher-order array functions (JVM-side). No position-x-position
    join shuffle: the pairwise min-gap expansion happens per doc in
    memory, bounded by tf_a x tf_b of a single document — at 100 TB the
    shuffle carries only the two terms' posting rows."""
    from .indexing import positional_terms

    pos = positional_terms(spark, sf_dir).filter(
        F.col("term").isin([term_a, term_b])
    )
    g = pos.groupBy("docno").agg(
        F.collect_list(
            F.when(F.col("term") == term_a, F.col("pos"))
        ).alias("pa"),
        F.collect_list(
            F.when(F.col("term") == term_b, F.col("pos"))
        ).alias("pb"),
    )
    mindist = F.array_min(
        F.flatten(
            F.transform(
                F.col("pa"),
                lambda x: F.transform(F.col("pb"), lambda y: F.abs(x - y)),
            )
        )
    )
    d = g.filter((F.size("pa") > 0) & (F.size("pb") > 0)).select(
        "docno", mindist.alias("mindist")
    )
    return top_k_ranked(d, top_k, F.asc("mindist"), F.asc("docno"))


def duck_search_proximity(term_a: str, term_b: str, *, top_k: int = TOP_K) -> str:
    from .indexing import DUCK_POSITIONAL_TERMS

    return f"""
WITH p AS ({DUCK_POSITIONAL_TERMS}),
     a AS (SELECT docno, pos FROM p WHERE term = '{term_a}'),
     b AS (SELECT docno, pos FROM p WHERE term = '{term_b}'),
     d AS (SELECT a.docno, min(abs(a.pos - b.pos)) AS mindist
           FROM a JOIN b USING (docno) GROUP BY a.docno),
     topk AS (SELECT docno, mindist FROM d
              ORDER BY mindist, docno LIMIT {top_k})
SELECT docno, CAST(mindist AS BIGINT) AS mindist,
       CAST(row_number() OVER (ORDER BY mindist, docno) AS BIGINT) AS rank
FROM topk
"""


# Fuzzy term matching (spelling correction) constants
FUZZY_K = 2        # char-gram width for candidate generation
FUZZY_MAX_LEV = 2  # classic spell-correct edit-distance tolerance
FUZZY_TOP = 5


def fuzzy_terms(
    spark: SparkSession, sf_dir: str, query_term: str, *, k: int = FUZZY_K
) -> DataFrame:
    """Spelling correction over the char-k-gram index: candidate terms
    share >=1 $-padded gram with the misspelled query (generated by the
    SAME index the wildcard lookup uses — CharKGramTermIndexer's other
    classic application), scored by gram-set Jaccard, verified by
    edit distance <= FUZZY_MAX_LEV. Output (term, lev, jacc).

    Scale: candidates come from the gram-index join (never a vocab scan
    against the query), the per-term gram counts are dictionary-sized,
    and the levenshtein verify runs only on the candidate set."""
    from ..functions.tokenize import pattern_grams
    from .indexing import chargram_flat

    qgrams = sorted(pattern_grams([f"${query_term}$"], k))
    idx = chargram_flat(spark, sf_dir, k)
    tn = idx.groupBy("term").agg(F.count("*").alias("tn"))
    gdf = spark.createDataFrame([(g,) for g in qgrams], "gram string")
    cand = (
        idx.join(F.broadcast(gdf), "gram")
        .groupBy("term")
        .agg(F.count("*").alias("matches"))
        .join(tn, "term")
    )
    jacc = F.round(
        F.col("matches").cast("double")
        / (F.lit(len(qgrams)) + F.col("tn") - F.col("matches")),
        6,
    )
    return (
        cand.select(
            "term",
            F.levenshtein(F.col("term"), F.lit(query_term))
            .cast("long")
            .alias("lev"),
            jacc.alias("jacc"),
        )
        .filter(F.col("lev") <= FUZZY_MAX_LEV)
        .orderBy(F.asc("lev"), F.desc("jacc"), F.asc("term"))
        .limit(FUZZY_TOP)
    )


def duck_fuzzy_terms(query_term: str, *, k: int = FUZZY_K) -> str:
    from ..functions.tokenize import pattern_grams
    from .indexing import duck_chargram_flat

    qgrams = sorted(pattern_grams([f"${query_term}$"], k))
    lits = ", ".join("'" + g + "'" for g in qgrams)
    return f"""
WITH idx AS ({duck_chargram_flat(k)}),
     tn AS (SELECT term, count(*) AS tn FROM idx GROUP BY term),
     cand AS (SELECT term, count(*) AS matches FROM idx
              WHERE gram IN ({lits}) GROUP BY term),
     scored AS (
       SELECT cand.term,
              CAST(levenshtein(cand.term, '{query_term}') AS BIGINT) AS lev,
              round(CAST(matches AS DOUBLE) / ({len(qgrams)} + tn.tn - matches), 6) AS jacc
       FROM cand JOIN tn USING (term)
     )
SELECT term, lev, jacc FROM scored
WHERE lev <= {FUZZY_MAX_LEV}
ORDER BY lev, jacc DESC, term
LIMIT {FUZZY_TOP}
"""


# Pseudo-relevance-feedback (Rocchio-style) expansion constants
PRF_EXP = 3     # expansion terms taken from the feedback docs
PRF_BETA = 0.5  # expansion-term weight (original terms weigh 1.0)


def search_prf(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """Rocchio-style pseudo-relevance feedback: run the base tf-idf
    query, take its top-k docs as the feedback set, pick the PRF_EXP
    highest-weight non-query terms inside those docs (weight = summed
    tf-idf contribution, rounded to 6dp before ranking so both engines
    cut the same top), then re-score the corpus with the expanded
    weighted query (originals 1.0, expansions PRF_BETA).

    Scale: the feedback set is top_k rows (broadcast), the candidate
    postings are the feedback docs' rows only, and the expanded query
    is <= |terms|+PRF_EXP rows (broadcast) — the re-score is the same
    broadcast-lookup shape as the base search, so PRF costs one extra
    dictionary-sized aggregation, not an extra corpus pass."""
    terms = sorted(set(tokenize_query(query)))
    if not terms:
        return spark.createDataFrame([], "docno long, score double, rank long")
    post, stats, n_docs = _warm_index(spark, sf_dir, 1)
    fb = search(spark, sf_dir, query, top_k=top_k).select("docno")
    contrib = _tfidf(n_docs)
    cw = (
        post.join(F.broadcast(fb), "docno")
        .filter(~F.col("term").isin(terms))
        .join(stats.select("term", "df"), "term")
        .groupBy("term")
        .agg(F.round(F.sum(contrib), 6).alias("w"))
    )
    exp = (
        cw.orderBy(F.desc("w"), F.asc("term"))
        .limit(PRF_EXP)
        .select("term", F.lit(float(PRF_BETA)).alias("weight"))
    )
    orig = spark.createDataFrame(
        [(t, 1.0) for t in terms], "term string, weight double"
    )
    qw = orig.unionByName(exp)
    scored = (
        post.join(F.broadcast(qw), "term")
        .join(F.broadcast(stats.join(F.broadcast(qw.select("term")), "term")), "term")
        .groupBy("docno")
        .agg(F.round(F.sum(F.col("weight") * contrib), 6).alias("score"))
    )
    return top_k_ranked(scored, top_k, F.desc("score"), F.asc("docno"))


def duck_search_prf(query: str, *, top_k: int = TOP_K) -> str:
    terms = sorted(set(tokenize_query(query)))
    lits = ", ".join("'" + t + "'" for t in terms)
    values = ", ".join(f"('{t}', 1.0e0)" for t in terms)
    return f"""
WITH post AS ({duck_postings_flat(1)}),
     stats AS ({duck_term_stats(1)}),
     n AS (SELECT count(*) AS n_docs FROM documents),
     s0 AS (
       SELECT post.docno,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN stats USING (term) CROSS JOIN n
       WHERE post.term IN ({lits})
       GROUP BY post.docno
     ),
     fb AS (SELECT docno FROM s0 ORDER BY score DESC, docno LIMIT {top_k}),
     cw AS (
       SELECT post.term,
              round(sum((1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS w
       FROM post JOIN fb USING (docno) JOIN stats USING (term) CROSS JOIN n
       WHERE post.term NOT IN ({lits})
       GROUP BY post.term
     ),
     expn AS (SELECT term, {PRF_BETA}e0 AS weight FROM cw
              ORDER BY w DESC, term LIMIT {PRF_EXP}),
     qw AS (SELECT * FROM (VALUES {values}) AS t(term, weight)
            UNION ALL SELECT term, weight FROM expn),
     scored AS (
       SELECT post.docno,
              round(sum(qw.weight * (1 + ln(post.tf)) * log10(n.n_docs / stats.df)), 6) AS score
       FROM post JOIN qw USING (term) JOIN stats USING (term) CROSS JOIN n
       GROUP BY post.docno
     ),
     topk AS (SELECT docno, score FROM scored
              ORDER BY score DESC, docno LIMIT {top_k})
SELECT docno, score,
       CAST(row_number() OVER (ORDER BY score DESC, docno) AS BIGINT) AS rank
FROM topk
"""


# --- boolean retrieval ----------------------------------------------------
# Classic boolean-model evaluation over the postings the reference builds
# (its REPL only ranks, IntDocVectorsForwardIndex.java:295-319; AND/NOT
# compose the same dictionary lookups). MUST terms become a postings
# group-filter (count == |must|), NOT terms an anti-join.


def search_boolean(
    spark: SparkSession,
    sf_dir: str,
    must: tuple[str, ...],
    must_not: tuple[str, ...],
) -> DataFrame:
    """(docno, tf_sum): docs containing EVERY `must` term and NO
    `must_not` term; tf_sum sums the must-terms' tf as a crude rank.

    Scale: both legs are term-IN filters over the warm postings — the
    scan prunes to |must|+|must_not| terms' rows; the AND is a partial-
    aggregable per-doc count (no self-join per term, which would be
    |must| shuffles); the NOT leg's cardinality is the excluded terms'
    df, joined unhinted so AQE picks broadcast only when it is small."""
    post, _stats, _n = _warm_index(spark, sf_dir, 1)
    sel = (
        post.filter(F.col("term").isin(list(must)))
        .groupBy("docno")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("tf").cast("long").alias("tf_sum"),
        )
        .filter(F.col("n_terms") == len(must))
        .drop("n_terms")
    )
    neg = (
        post.filter(F.col("term").isin(list(must_not)))
        .select("docno")
        .distinct()
    )
    return sel.join(neg, "docno", "left_anti").select("docno", "tf_sum")


def duck_search_boolean(must: tuple[str, ...], must_not: tuple[str, ...]) -> str:
    must_l = ", ".join(f"'{t}'" for t in must)
    not_l = ", ".join(f"'{t}'" for t in must_not)
    return f"""
WITH post AS ({duck_postings_flat(1)}),
     sel AS (SELECT docno, CAST(sum(tf) AS BIGINT) AS tf_sum
             FROM post WHERE term IN ({must_l})
             GROUP BY docno HAVING count(*) = {len(must)})
SELECT docno, tf_sum FROM sel
WHERE docno NOT IN (SELECT docno FROM post WHERE term IN ({not_l}))
"""


# --- exact phrase via positional adjacency --------------------------------
# The alternative phrase plan to the k-gram index (search_phrase_2gram):
# instead of precomputing phrase postings, intersect the phrase terms'
# POSITION lists with +1 offsets — the standard positional-index phrase
# walk. Trades index space (no k-gram postings) for query-time work
# bounded by the phrase terms' tf.


def search_phrase_positional(
    spark: SparkSession, sf_dir: str, phrase: str, *, top_k: int = TOP_K
) -> DataFrame:
    """(docno, occurrences, rank) for an exact phrase of ANY length >= 2,
    matched by position adjacency (the standard positional-index phrase
    walk: an occurrence is a position p with term_i at p+i for every i).
    One corpus scan: the positional stream filters to the phrase terms
    before the per-doc aggregation, so the shuffle carries only those
    terms' occurrence rows; the adjacency check runs per doc on the
    collected position arrays (JVM higher-order functions), never a
    position-x-position join across docs. Phrases that tokenize to <2
    terms (a stopword operand, a single word) take the graceful
    empty-result path of the other search entry points (ADVICE r4)."""
    import functools

    from .indexing import positional_terms

    terms = tokenize_query(phrase)
    if len(terms) < 2:
        return spark.createDataFrame(
            [], "docno long, occurrences long, rank long"
        )
    pos = positional_terms(spark, sf_dir).filter(F.col("term").isin(terms))
    # one position array per PHRASE SLOT (repeated terms get one array
    # per slot, each carrying that term's full position list)
    g = pos.groupBy("docno").agg(
        *[
            F.collect_list(F.when(F.col("term") == t, F.col("pos"))).alias(
                f"p{i}"
            )
            for i, t in enumerate(terms)
        ]
    )
    occ = F.size(
        F.filter(
            F.col("p0"),
            lambda x: functools.reduce(
                lambda a, b: a & b,
                [
                    F.array_contains(F.col(f"p{i}"), x + i)
                    for i in range(1, len(terms))
                ],
            ),
        )
    ).cast("long")
    d = g.select("docno", occ.alias("occurrences")).filter(
        F.col("occurrences") > 0
    )
    return top_k_ranked(d, top_k, F.desc("occurrences"), F.asc("docno"))


def duck_search_phrase_positional(phrase: str, *, top_k: int = TOP_K) -> str:
    from .indexing import DUCK_POSITIONAL_TERMS

    terms = tokenize_query(phrase)
    if len(terms) < 2:  # same empty-result contract as the Spark builder
        return (
            "SELECT CAST(NULL AS BIGINT) AS docno, "
            "CAST(NULL AS BIGINT) AS occurrences, "
            "CAST(NULL AS BIGINT) AS rank WHERE FALSE"
        )
    slots = ",\n     ".join(
        f"a{i} AS (SELECT docno, pos FROM p WHERE term = '{t}')"
        for i, t in enumerate(terms)
    )
    joins = " ".join(
        f"JOIN a{i} ON a{i}.docno = a0.docno AND a{i}.pos = a0.pos + {i}"
        for i in range(1, len(terms))
    )
    return f"""
WITH p AS ({DUCK_POSITIONAL_TERMS}),
     {slots},
     d AS (SELECT a0.docno, CAST(count(*) AS BIGINT) AS occurrences
           FROM a0 {joins}
           GROUP BY a0.docno),
     topk AS (SELECT docno, occurrences FROM d
              ORDER BY occurrences DESC, docno LIMIT {top_k})
SELECT docno, occurrences,
       CAST(row_number() OVER (ORDER BY occurrences DESC, docno) AS BIGINT) AS rank
FROM topk
"""


# --- snippet extraction ---------------------------------------------------
SNIPPET_RADIUS = 3  # tokens of context either side of the first hit


def search_snippets(
    spark: SparkSession, sf_dir: str, query: str, *, top_k: int = TOP_K
) -> DataFrame:
    """(docno, rank, snippet): the result-page context line — for each
    top-k doc of the ranked query, the +/-SNIPPET_RADIUS-token window
    around the FIRST occurrence of any query term in the doc's raw
    (unstopworded) token stream.

    Scale: the top-k side is 10 rows and broadcast, so the corpus-side
    token scan never shuffles — the snippet slice runs only on rows the
    broadcast join keeps, and payload text never moves for the 99.99%
    of docs outside the result page."""
    from .corpus import tokenized_docs

    terms = sorted(set(tokenize_query(query)))
    hits = search(spark, sf_dir, query, top_k=top_k).select("docno", "rank")
    toks = tokenized_docs(spark, sf_dir).select(
        F.col("doc_id").alias("docno"), "toks"
    )
    j = toks.join(F.broadcast(hits), "docno")
    # 0-based index of the first query-term occurrence in the raw stream
    first = F.array_min(
        F.filter(
            F.transform(
                F.col("toks"),
                lambda t, i: F.when(t.isin(terms), i),
            ),
            lambda v: v.isNotNull(),
        )
    )
    start1 = F.greatest(first - (SNIPPET_RADIUS - 1), F.lit(1))  # 1-based
    snippet = F.array_join(
        F.slice(F.col("toks"), start1, 2 * SNIPPET_RADIUS + 1), " "
    )
    return j.select("docno", "rank", snippet.alias("snippet"))


def duck_search_snippets(query: str, *, top_k: int = TOP_K) -> str:
    terms = sorted(set(tokenize_query(query)))
    lits = ", ".join(f"'{t}'" for t in terms)
    toks_sql = duck_tokens_list("text", stopworded=False)
    r = SNIPPET_RADIUS
    return f"""
WITH topk AS ({duck_search(query, top_k=top_k)}),
     toks AS (SELECT doc_id AS docno, {toks_sql} AS toks FROM documents),
     j AS (SELECT topk.docno, topk.rank, toks.toks
           FROM toks JOIN topk USING (docno)),
     firsts AS (SELECT docno, rank, toks,
                       list_min(list_filter(
                         list_transform(range(1, len(toks)+1),
                           i -> CASE WHEN toks[i] IN ({lits}) THEN i END),
                         v -> v IS NOT NULL)) AS f
                FROM j)
SELECT docno, rank,
       array_to_string(
         list_slice(toks, greatest(f - {r}, 1),
                    greatest(f - {r}, 1) + {2 * r}), ' ') AS snippet
FROM firsts
"""


QUERIES: dict[str, QuerySpec] = {
    "search_proximity_pair": QuerySpec(
        fn=lambda s, d: search_proximity(s, d, "spark", "join"),
        oracle=duck_search_proximity("spark", "join"),
        note="positional min-gap proximity ranking — single-scan "
        "per-doc higher-order-function plan over the positional stream",
    ),
    "search_boolean_and_not": QuerySpec(
        fn=lambda s, d: search_boolean(s, d, ("hash", "join"), ("merge",)),
        oracle=duck_search_boolean(("hash", "join"), ("merge",)),
        note="boolean-model retrieval: MUST terms as a per-doc count "
        "filter (no per-term self-joins), NOT terms as an anti-join",
    ),
    "search_phrase_positional": QuerySpec(
        fn=lambda s, d: search_phrase_positional(s, d, "hash join"),
        oracle=duck_search_phrase_positional("hash join"),
        note="exact phrase match by positional adjacency — the "
        "positional-index twin of the k-gram phrase index",
    ),
    "search_snippets": QuerySpec(
        fn=lambda s, d: search_snippets(s, d, "spark join"),
        oracle=duck_search_snippets("spark join"),
        note="result-page snippet extraction: +/-3-token context around "
        "the first hit, top-k side broadcast so text never shuffles",
    ),
    "search_fuzzy_term": QuerySpec(
        fn=lambda s, d: fuzzy_terms(s, d, "sart"),
        oracle=duck_fuzzy_terms("sart"),
        note="spelling correction via the char-2-gram index: gram-join "
        "candidates, Jaccard score, levenshtein<=2 verify",
    ),
    "search_prf_expanded": QuerySpec(
        fn=lambda s, d: search_prf(s, d, "spark join"),
        oracle=duck_search_prf("spark join"),
        note="Rocchio pseudo-relevance feedback: top-10 feedback docs -> "
        "3 expansion terms (6dp-rounded weights) -> weighted re-score, "
        "all broadcast-lookup shaped",
    ),
    "search_bm25": QuerySpec(
        fn=lambda s, d: search_bm25(s, d, "spark join"),
        oracle=duck_search_bm25("spark join"),
        note="Okapi BM25 ranking over the warm index (positive-idf "
        "Robertson form, dl/avgdl derived from the cached postings)",
    ),
    "search_lm_dirichlet": QuerySpec(
        fn=lambda s, d: search_lm_dirichlet(s, d, "spark join"),
        oracle=duck_search_lm_dirichlet("spark join"),
        note="Dirichlet-smoothed query-likelihood ranking (Zhai/Lafferty "
        "LM) — full semantics: absent query terms contribute the "
        "collection prior over the candidate x term grid",
    ),
    "search_rrf_fusion": QuerySpec(
        fn=lambda s, d: search_rrf(s, d, "spark join"),
        oracle=duck_search_rrf("spark join"),
        note="reciprocal-rank fusion of the tf-idf and BM25 top-10s — "
        "the standard zero-training ranker ensemble",
    ),
    "search_top_terms_per_doc": QuerySpec(
        fn=top_terms_per_doc,
        oracle=duck_top_terms_per_doc(),
        note="per-doc top-3 tf-idf keyword extraction via one ranking "
        "window over the warm postings",
    ),
    "search_related_docs": QuerySpec(
        fn=related_docs,
        oracle=duck_related_docs(),
        note="more-like-this pairs via top-terms self-join (common-"
        "feature cap, integer-associative micro-unit scoring)",
    ),
    "search_one_term": QuerySpec(
        fn=lambda s, d: search(s, d, "spark"),
        oracle=duck_search("spark"),
        note="A10/O5 tf-idf top-10, 1-term query (reference REPL shape)",
    ),
    "search_two_term": QuerySpec(
        fn=lambda s, d: search(s, d, "spark join"),
        oracle=duck_search("spark join"),
        note="2-term query — reference REPL max (P4)",
    ),
    "search_with_stopwords_and_miss": QuerySpec(
        fn=lambda s, d: search(s, d, "the spark zzzmissing"),
        oracle=duck_search("the spark zzzmissing"),
        note="stopword dropped pre-lookup; missing term silently skipped (J2)",
    ),
    "search_with_docids": QuerySpec(
        fn=lambda s, d: search_with_docids(s, d, "spark join"),
        oracle=duck_search_with_docids("spark join"),
        note="J3 display join: results joined back to docid via the "
        "broadcast docno mapping (IntDocVectorsForwardIndex.java:310-312)",
    ),
    "search_batch_workload": QuerySpec(
        fn=lambda s, d: batch_workload(s, d),
        oracle=duck_batch_workload(),
        note="whole-workload batch scorer: one index scan for N queries, "
        "per-query top-k via ranking window (query_results contract)",
    ),
    "search_hybrid_rrf": QuerySpec(
        fn=lambda s, d: search_hybrid_rrf(s, d, "spark join"),
        oracle=duck_search_hybrid_rrf("spark join"),
        note="hybrid text+vector retrieval: RRF of the BM25 top-10 and "
        "the embedding-cosine top-10 (same-id doc↔vector fixture "
        "correspondence) — rank-only fusion, no score-scale mixing",
    ),
    "search_passages": QuerySpec(
        fn=lambda s, d: search_passages(s, d, "spark join"),
        oracle=duck_search_passages("spark join"),
        note="RAG passage retrieval: tf-idf top-10 over the fixed-stride "
        "chunk corpus (composition of the oracle-checked chunk windows "
        "and scoring formula)",
    ),
    "search_eval_metrics": QuerySpec(
        fn=eval_metrics,
        oracle=duck_eval_metrics(),
        note="retrieval-quality harness: P@10/recall@10/MRR/NDCG@10 of "
        "the tf-idf ranking vs the strong-conjunctive (tf>=2) gold set — "
        "integer micro-unit DCG weights make NDCG cross-engine exact; on "
        "this topically-homogeneous fixture precision saturates (top-10 "
        "all strongly relevant) while n_gold/recall discriminate",
    ),
    "search_compat_df1": QuerySpec(
        fn=lambda s, d: search(s, d, "spark join", df_mode="compat_df1"),
        oracle=duck_search("spark join", df_mode="compat_df1"),
        note="reference-score compat: df pinned to 1 (the A8 df bug, "
        "TermKGramDocIndexer.java:116) so idf == log10(N)",
    ),
    "search_phrase_2gram": QuerySpec(
        fn=lambda s, d: search_phrase(s, d, "spark join"),
        oracle=duck_search_phrase("spark join"),
        note="exact-phrase search over the word-2-gram index (the point "
        "of the reference's k>1 TermKGram indexes)",
    ),
    "search_indexed_roundtrip": QuerySpec(
        fn=search_indexed_roundtrip,
        oracle=duck_search("spark join"),
        note="store-SERVED search: build_index (term-range-sorted parquet) "
        "then search_indexed in one query — pushed-down term IN scan of "
        "the persisted postings, same value oracle as search_two_term "
        "(the search_indexed_warm bench line's driver-oracled twin)",
    ),
    "search_phrase_indexed_roundtrip": QuerySpec(
        fn=search_phrase_indexed_roundtrip,
        oracle=duck_search_phrase("spark join"),
        note="store-served phrase search over the persisted k=2 index — "
        "a phrase is one term in the store, serving is the identical "
        "pushed-down lookup; same oracle as search_phrase_2gram",
    ),
    "search_phrase_warm": QuerySpec(
        fn=lambda s, d: search_phrase(s, d, "customer orders"),
        oracle=duck_search_phrase("customer orders"),
        note="second phrase against the warm memoized k=2 index — the "
        "serving-latency twin of search_phrase_2gram (the store-served "
        "variant is benched as search_phrase_indexed_warm)",
    ),
    "wildcard_prefix": QuerySpec(
        fn=lambda s, d: wildcard_terms(s, d, "sp*", k=2),
        oracle=duck_wildcard("sp*", k=2),
        note="char-k-gram wildcard lookup (CharKGramTermIndexer's purpose)",
    ),
    "wildcard_suffix": QuerySpec(
        fn=lambda s, d: wildcard_terms(s, d, "*rk", k=2),
        oracle=duck_wildcard("*rk", k=2),
        note="*suf wildcard via trailing $-gram",
    ),
    "wildcard_infix": QuerySpec(
        fn=lambda s, d: wildcard_terms(s, d, "s*k", k=2),
        oracle=duck_wildcard("s*k", k=2),
        note="pre*suf wildcard with post-filter verify",
    ),
    "wildcard_indexed_roundtrip": QuerySpec(
        fn=wildcard_indexed_roundtrip,
        # the oracle probes the same gram space the persisted part is
        # written in
        oracle=duck_wildcard("*ark", k=CHARGRAM_K),
        note="store-served wildcard: chargram part written then served "
        "via a pushed-down gram IN scan (r14 verdict #2 — the one "
        "store surface the DuckDB gate never saw)",
    ),
    "search_fidelity_stemmed": QuerySpec(
        fn=lambda s, d: search_fidelity(s, d, "merges sorting"),
        oracle=duck_search_fidelity("merges sorting"),
        note="stemmed-index search via the fidelity pandas UDF, served "
        "from the memoized warm index; oracled via expression tokenize "
        "+ embedded stem dictionary (equivalence on the fixture corpus "
        "asserted in tests/test_search_extras.py)",
    ),
    "search_fidelity_warm": QuerySpec(
        fn=lambda s, d: search_fidelity(s, d, "customer tables valued"),
        oracle=duck_search_fidelity("customer tables valued"),
        note="second stemmed query against the warm memoized index — "
        "benches the serving latency the reference REPL shape implies "
        "(index built once, queries are lookups)",
    ),
}
