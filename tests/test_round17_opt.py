"""Round-17 optimization-round contracts.

Each optimization that changed an operator's INTERNALS gets a focused
pin here (round rule): the cached stopword IN-list must stay
semantically identical to the per-call isin it replaced.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stopword_member_matches_isin(spark):
    """stopword_member (one cached JVM literal seq) == t.isin(*STOPWORDS)
    row-for-row, including the empty string and non-stopwords."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.stopwords import (
        STOPWORDS,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        stopword_member,
    )

    probe = list(STOPWORDS[:25]) + ["spark", "zzzz", "", "THE", "the"]
    df = spark.createDataFrame([(t,) for t in probe], "t string")
    rows = df.select(
        "t",
        stopword_member(F.col("t")).alias("cached"),
        F.col("t").isin(*STOPWORDS).alias("plain"),
    ).collect()
    assert rows, "probe frame must not be empty"
    for r in rows:
        assert r.cached == r.plain, r


def test_stopword_member_seq_is_cached(spark):
    """The JVM literal seq is built once per application — the whole
    point of the r17 change (733 Py4J literal round trips per tokenizer
    construction otherwise)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions import (
        tokenize,
    )

    tokenize.stopword_member(F.lit("the"))
    key = spark.sparkContext.applicationId
    assert key in tokenize._stop_seq_cache
    seq_before = tokenize._stop_seq_cache[key]
    tokenize.stopword_member(F.lit("other"))
    assert tokenize._stop_seq_cache[key] is seq_before
