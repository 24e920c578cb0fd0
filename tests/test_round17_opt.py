"""Round-17 optimization-round contracts.

Each optimization that changed an operator's INTERNALS gets a focused
pin here (round rule): the cached stopword IN-list must stay
semantically identical to the per-call isin it replaced, and the
cell-clustered store writes must actually produce the one-file-per-
cell layout they exist for.
"""

from __future__ import annotations

import glob
import os

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


def test_ivfpq_store_single_file_per_cell(spark, sf_dir, tmp_path):
    """write_ivfpq_store's cell-clustered writes: one data file per
    cell= directory in both the vectors and codes parts."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        write_ivfpq_store,
    )

    out = str(tmp_path / "ivfpq")
    write_ivfpq_store(spark, sf_dir, out)
    for part in ("vectors", "codes"):
        cells = glob.glob(os.path.join(out, part, "cell=*"))
        assert cells, part
        for c in cells:
            files = [
                p
                for p in glob.glob(os.path.join(c, "*"))
                if os.path.basename(p).startswith("part-")
            ]
            assert len(files) == 1, (c, files)
