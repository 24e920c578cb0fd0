"""Index-build plans — the reference's three MapReduce jobs re-expressed
as single declarative DataFrame chains (SURVEY.md §3.1-3.2).

Scale design (100 TB):
- The PRIMARY index representation is FLAT postings ``(term, docno, tf)``
  — one shuffle (hash by (term, docno), partial aggregation = the
  reference's combiner, TermKGramDocIndexer.java:273, is automatic).
  Written out it is range-partitioned and sorted by term, so Parquet
  footer min/max stats prune term-lookup scans (replaces the
  reference's hand-built byte-offset forward index,
  BuildIntDocVectorsForwardIndex.java — obsolete under Parquet).
- The array-of-struct postings form (reference SequenceFile layout,
  TermKGramDocIndexer.java:269-275) is a DERIVED view: ``collect_list``
  per term is skew-prone for stopword-like heavy hitters, so it is not on
  the query hot path; ``postings_arrays`` caps nothing but documents the
  two-level-agg mitigation for heavy terms.
- docno assignment: ``row_number() over (order by docid)`` matches the
  reference's single-reducer sequential numbering
  (NumberTrecDocuments.java:97-107). A global window is a single-task
  sort at 100 TB — ``docno_mapping_scalable`` shows the
  sort + per-partition-offset formulation that parallelizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.tokenize import (
    chargrams_col,
    duck_chargrams,
    duck_kgrams,
    duck_tokens_list,
    kgrams_col,
    tokens_col,
)
from ..sources.tables import table
from . import QuerySpec


def doc_terms(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """(docno, term) — one row per k-gram occurrence, in-document order
    irrelevant downstream. The tokenizer is pure built-in expressions:
    the whole chain is one WholeStageCodegen span over the Parquet scan
    (only doc_id and text are read — column pruning)."""
    docs = table(spark, sf_dir, "documents")
    # materialize the tokens array in its own projection BEFORE any
    # expression that references it more than once: kgrams_col uses the
    # array in both the sequence bound and the slice, and codegen does
    # NOT common-subexpression-eliminate inside Generate — inlining the
    # tokenizer there re-tokenizes per reference (measured 11x slower)
    return (
        docs.select(
            F.col("doc_id").alias("docno"),
            tokens_col(F.col("text")).alias("toks"),
        )
        .select("docno", F.explode(kgrams_col(F.col("toks"), k)).alias("term"))
    )


def duck_doc_terms(k: int = 1) -> str:
    # Materialize the token list in a subquery before the k-gram lambda:
    # duck_kgrams references its list argument per gram position, and
    # DuckDB inlines (does not CSE) the tokenizer expression — measured
    # 37x slower when the regex tokenizer is pasted into the lambda.
    # (Same lesson as the Spark side's staged projection in doc_terms.)
    lst = duck_tokens_list("text")
    if k == 1:
        return f"SELECT doc_id AS docno, unnest({lst}) AS term FROM documents"
    return (
        f"SELECT docno, unnest({duck_kgrams('toks', k)}) AS term "
        f"FROM (SELECT doc_id AS docno, {lst} AS toks FROM documents)"
    )


def postings_flat(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """Inverted index, flat form: (term, docno, tf).

    Reference: map emit + combiner + reducer tf-merge
    (TermKGramDocIndexer.java:135-213) == groupBy(term, docno).sum —
    Catalyst's partial/final HashAggregate IS the combiner."""
    return (
        doc_terms(spark, sf_dir, k)
        .groupBy("term", "docno")
        .agg(F.count("*").alias("tf"))
    )


def postings_flat_acronym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """postings_flat with the reference's acronym/period rules (F4,
    TagTokenizer.java:479-527) on the expression-tokenizer hot path:
    'i.b.m' indexes as 'ibm', 'umass.edu' as 'umass','edu' — still pure
    built-in expressions, one WholeStageCodegen span, no Python."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").alias("docno"),
            tokens_col(F.col("text"), acronyms=True).alias("toks"),
        )
        .select("docno", F.explode("toks").alias("term"))
        .groupBy("term", "docno")
        .agg(F.count("*").alias("tf"))
    )


DUCK_POSTINGS_ACRONYM = (
    "SELECT term, docno, count(*) AS tf FROM (SELECT doc_id AS docno, "
    f"unnest({duck_tokens_list('text', acronyms=True)}) AS term "
    "FROM documents) GROUP BY term, docno"
)


def positional_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(docno, pos, term): the positional token stream — what a
    positional/phrase-proximity index ingests (the reference's
    TagTokenizer records the same positions, TagTokenizer.java:449-451).
    Default plan is posexplode (pure JVM); the Python-UDTF twin lives in
    operators/udtf.py as the table-function extension-point exerciser."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").alias("docno"),
            tokens_col(F.col("text")).alias("toks"),
        )
        .select(
            "docno",
            F.posexplode("toks").alias("pos", "term"),
        )
        .select("docno", F.col("pos").cast("long").alias("pos"), "term")
    )


DUCK_POSITIONAL_TERMS = f"""
SELECT docno, CAST(s.pos AS BIGINT) AS pos, s.term AS term
FROM (SELECT docno,
             unnest(list_transform(range(1, len(toks)+1),
                    i -> {{'pos': i - 1, 'term': toks[i]}})) AS s
      FROM (SELECT doc_id AS docno, {duck_tokens_list('text')} AS toks
            FROM documents))
"""


def duck_postings_flat(k: int = 1) -> str:
    return (
        f"SELECT term, docno, count(*) AS tf FROM ({duck_doc_terms(k)}) "
        f"GROUP BY term, docno"
    )


def term_stats(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """Dictionary: (term, df, cf). df computed CORRECTLY (number of docs
    containing the term); the reference leaves df=1 for every real term
    (the A8 'df bug', TermKGramDocIndexer.java:116,174-213) — search.py
    offers compat_df1 scoring to reproduce reference scores."""
    return (
        postings_flat(spark, sf_dir, k)
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            # Explicit BIGINT on both engines: DuckDB sum(BIGINT) widens to
            # HUGEINT (int128) while Spark stays BIGINT — identical values,
            # different physical type, which fails the driver's value-hash.
            F.sum("tf").cast("long").alias("cf"),
        )
    )


def duck_term_stats(k: int = 1) -> str:
    return (
        f"SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf "
        f"FROM ({duck_postings_flat(k)}) GROUP BY term"
    )


def _canonical_postings(tf_docno_array):
    """Sort an array<struct<tf,docno>> to the index contract: tf desc,
    docno asc tiebreak (FIXTURES.md; the reference's tf-only comparator,
    PostingWritable.java:56-59, is order-unstable on ties), emitted as
    struct<docno,tf>. NOTE reverse(array_sort(...)) would flip the docno
    tiebreak to desc as well — sort on a negated-tf key instead."""
    keyed = F.transform(
        tf_docno_array,
        lambda s: F.struct(
            (-s["tf"]).alias("ntf"), s["docno"].alias("docno"), s["tf"].alias("tf")
        ),
    )
    return F.transform(
        F.array_sort(keyed),
        lambda s: F.struct(s["docno"].alias("docno"), s["tf"].alias("tf")),
    )


def postings_arrays(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """Derived array form matching the reference SequenceFile layout:
    (term, df, postings array<struct<docno,tf>> sorted tf desc, docno asc).

    Heavy-hitter note: at 100 TB a single term's postings can exceed one
    task's memory; mitigation is chunked rows (term, chunk_id, postings)
    via an extra bucketing key — not needed at test SF."""
    return (
        postings_flat(spark, sf_dir, k)
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            _canonical_postings(
                F.collect_list(F.struct("tf", "docno"))
            ).alias("postings"),
        )
    )


def postings_flat_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the FULL reference pipeline (acronym rules +
    stopwords + Porter2 stem) via the Arrow-batched fidelity UDF — the
    reference-parity index (stemmed terms, e.g. 'running'→'run').
    Not oracle-checkable (no stemmer in DuckDB here); covered by golden
    unit tests instead (tests/test_tokenizer_fidelity.py)."""
    from ..functions.fidelity import tokenize_udf

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").alias("docno"),
            F.explode(tokenize_udf(F.col("text"))).alias("term"),
        )
        .groupBy("term", "docno")
        .agg(F.count("*").alias("tf"))
    )


def postings_arrays_salted(
    spark: SparkSession, sf_dir: str, k: int = 1, salt: int = 8
) -> DataFrame:
    """Heavy-hitter-safe array build (SURVEY.md hard part 3): two-level
    aggregation — postings first collect within (term, salt) chunks
    (bounded state per task), then chunk arrays concat+sort per term.
    Output identical to ``postings_arrays``; the intermediate per-group
    state is 1/salt the size, which is what survives a stopword-like term
    with 10^9 postings at 100 TB."""
    post = postings_flat(spark, sf_dir, k)
    chunked = (
        post.withColumn("salt", F.pmod(F.hash("docno"), F.lit(salt)))
        .groupBy("term", "salt")
        .agg(
            F.count("*").alias("df_part"),
            F.collect_list(F.struct("tf", "docno")).alias("chunk"),
        )
    )
    return (
        chunked.groupBy("term")
        .agg(
            F.sum("df_part").alias("df"),
            _canonical_postings(
                F.flatten(F.collect_list("chunk"))
            ).alias("postings"),
        )
    )


def docno_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docid(string) -> docno(long), 1-based, ordered by docid — the
    reference's NumberTrecDocuments + TrecDocnoMapping (docno = sorted
    array index, TrecDocnoMapping.java:59,137-155)."""
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("docid")
    )
    w = Window.orderBy("docid")
    return docs.select(
        "docid", F.row_number().over(w).cast("long").alias("docno")
    )


DUCK_DOCNO_MAPPING = (
    "SELECT docid, CAST(row_number() OVER (ORDER BY docid) AS BIGINT) AS docno "
    "FROM (SELECT CAST(doc_id AS VARCHAR) AS docid FROM documents)"
)


def docno_mapping_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result without a single-task global window: range-partitioned
    sort, then per-partition counts broadcast back as offsets. This is
    the 100 TB path (the global-window version funnels every row through
    one task)."""
    docs = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("string").alias("docid"))
        .repartitionByRange(32, "docid")
        .sortWithinPartitions("docid")
    )

    rdd = docs.rdd.map(lambda r: r[0])
    counts = rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    offsets = [0]
    for c in counts[:-1]:
        offsets.append(offsets[-1] + c)

    def assign(pid, it, offs=offsets):
        base = offs[pid]
        for i, docid in enumerate(it):
            yield (docid, base + i + 1)

    out = rdd.mapPartitionsWithIndex(assign)
    return spark.createDataFrame(out, schema="docid string, docno long")


def chargram_flat(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Char-k-gram -> term index, flat (gram, term) distinct pairs.
    Reference: CharKGramTermIndexer ($-padding F9, in-mapper dedup A4,
    sorted-merge union O4) == distinct over exploded chargrams."""
    vocab = doc_terms(spark, sf_dir, 1).select("term").distinct()
    return (
        vocab.select(
            F.explode(chargrams_col(F.col("term"), k)).alias("gram"),
            "term",
        )
        .distinct()
    )


def duck_chargram_flat(k: int = 3) -> str:
    return (
        f"SELECT DISTINCT unnest({duck_chargrams('term', k)}) AS gram, term "
        f"FROM (SELECT DISTINCT term FROM ({duck_doc_terms(1)}))"
    )


def chargram_arrays(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """The reference's char-gram index ARRAY layout — gram -> sorted
    distinct term list (CharKGramTermIndexer.java:75,257-258 stores
    ArrayListWritable<Text> per gram) — exposed flat as (gram, pos, term)
    via posexplode so the oracle can verify the in-array ORDER, mirroring
    inv_postings_ranked's treatment of the postings arrays."""
    arr = (
        chargram_flat(spark, sf_dir, k)
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("term")).alias("terms"))
    )
    return arr.select("gram", F.posexplode("terms").alias("pos", "term")).select(
        "gram", (F.col("pos") + 1).cast("long").alias("pos"), "term"
    )


def duck_chargram_arrays(k: int = 3) -> str:
    return f"""
SELECT gram,
       CAST(row_number() OVER (PARTITION BY gram ORDER BY term) AS BIGINT) AS pos,
       term
FROM ({duck_chargram_flat(k)})
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row stats table (n_docs, n_tokens, n_vocab) — replaces the
    reference's sentinel-record smuggling of N through the index
    (TermKGramDocIndexer.java:84,125-126,174-183)."""
    docs = table(spark, sf_dir, "documents")
    toks = doc_terms(spark, sf_dir, 1)
    n_docs = docs.select(F.count("*").alias("n_docs"))
    tok_stats = toks.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_vocab"),
    )
    return n_docs.crossJoin(tok_stats)


DUCK_CORPUS_STATS = None  # filled below (needs duck_doc_terms)


def _duck_corpus_stats() -> str:
    return (
        f"SELECT (SELECT count(*) FROM documents) AS n_docs, "
        f"count(*) AS n_tokens, count(DISTINCT term) AS n_vocab "
        f"FROM ({duck_doc_terms(1)})"
    )


def postings_ranked(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """The array form's ordering (O3: tf desc, docno asc —
    TermKGramDocIndexer.java:211 with deterministic tiebreak) exposed as
    flat (term, pos, docno, tf) so the oracle can verify order: pos is
    the 1-based array index after posexplode."""
    arr = postings_arrays(spark, sf_dir, k)
    return arr.select(
        "term", F.posexplode("postings").alias("pos", "p")
    ).select(
        "term",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("p.docno").alias("docno"),
        F.col("p.tf").alias("tf"),
    )


def duck_postings_ranked(k: int = 1) -> str:
    return f"""
SELECT term,
       CAST(row_number() OVER (PARTITION BY term
                               ORDER BY tf DESC, docno) AS BIGINT) AS pos,
       docno, tf
FROM ({duck_postings_flat(k)})
"""


QUERIES: dict[str, QuerySpec] = {
    "inv_postings_ranked_salted": QuerySpec(
        fn=lambda s, d: postings_arrays_salted(s, d, 1)
        .select("term", F.posexplode("postings").alias("pos", "p"))
        .select(
            "term",
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.col("p.docno").alias("docno"),
            F.col("p.tf").alias("tf"),
        ),
        oracle=duck_postings_ranked(1),
        note="two-level salted heavy-hitter postings build held to the "
        "SAME positional oracle as the plain array form — the skew path "
        "driver-verified, not just locally equality-tested",
    ),
    "inv_postings_ranked": QuerySpec(
        fn=postings_ranked,
        oracle=duck_postings_ranked(1),
        note="O3 postings order (tf desc, docno tiebreak) oracle-checked "
        "via posexplode position vs row_number",
    ),
    "docno_mapping": QuerySpec(
        fn=docno_mapping,
        oracle=DUCK_DOCNO_MAPPING,
        note="A9 sequential numbering (NumberTrecDocuments.java:97-107)",
    ),
    "inv_postings_k1": QuerySpec(
        fn=lambda s, d: postings_flat(s, d, 1),
        oracle=duck_postings_flat(1),
        note="A1/A2/A3 inverted index, word 1-grams (TermKGramDocIndexer)",
    ),
    "inv_postings_k2": QuerySpec(
        fn=lambda s, d: postings_flat(s, d, 2),
        oracle=duck_postings_flat(2),
        note="W1 word-2-gram slide (TermKGramDocIndexer.java:135-159)",
    ),
    "inv_postings_k3": QuerySpec(
        fn=lambda s, d: postings_flat(s, d, 3),
        oracle=duck_postings_flat(3),
        note="arbitrary-k parameter parity (reference CLI arg K)",
    ),
    "term_stats_k1": QuerySpec(
        fn=lambda s, d: term_stats(s, d, 1),
        oracle=duck_term_stats(1),
        note="A8 df computed correctly (reference df bug documented)",
    ),
    "positional_terms": QuerySpec(
        fn=positional_terms,
        oracle=DUCK_POSITIONAL_TERMS,
        note="positional token stream via posexplode (the positional-"
        "index ingest; TagTokenizer.java:449-451 records the same)",
    ),
    "positional_terms_udtf": QuerySpec(
        fn=lambda s, d: __import__(
            "simple_mapreduce_search_engine_information_retrieval__spark."
            "operators.udtf",
            fromlist=["udtf"],
        ).positional_terms_udtf(s, d),
        oracle=DUCK_POSITIONAL_TERMS,
        note="Python UDTF twin (LATERAL table function) — §2.10 "
        "extension-point exerciser held to the same oracle",
    ),
    "inv_postings_k1_acronym": QuerySpec(
        fn=lambda s, d: postings_flat_acronym(s, d),
        oracle=DUCK_POSTINGS_ACRONYM,
        note="F4 acronym/period rules on the expression-tokenizer hot "
        "path (TagTokenizer.java:479-527): i.b.m→ibm, umass.edu→umass,edu; "
        "equivalence with the fidelity UDF asserted corpus-wide in "
        "tests/test_tokenizer_fidelity.py",
    ),
    "chargram_k2": QuerySpec(
        fn=lambda s, d: chargram_flat(s, d, 2),
        oracle=duck_chargram_flat(2),
        note="F9/A4/A5/O4 char-2-gram term index (CharKGramTermIndexer)",
    ),
    "chargram_k3": QuerySpec(
        fn=lambda s, d: chargram_flat(s, d, 3),
        oracle=duck_chargram_flat(3),
        note="char-3-gram term index",
    ),
    "corpus_stats": QuerySpec(
        fn=corpus_stats,
        oracle=_duck_corpus_stats(),
        note="A6 global doc count (sentinel replaced by stats table)",
    ),
    "docno_mapping_scalable": QuerySpec(
        fn=docno_mapping_scalable,
        oracle=DUCK_DOCNO_MAPPING,
        note="A9 numbering via range-partition + per-partition offsets — "
        "the 100 TB formulation (no single-task global window); identical "
        "output contract to docno_mapping, same oracle",
    ),
    "chargram_arrays": QuerySpec(
        fn=lambda s, d: chargram_arrays(s, d, 2),
        oracle=duck_chargram_arrays(2),
        note="reference char-gram ARRAY layout (gram -> sorted distinct "
        "terms, CharKGramTermIndexer.java:75,257-258), order verified "
        "positionally via posexplode vs row_number",
    ),
}
