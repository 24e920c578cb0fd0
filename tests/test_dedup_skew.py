"""Skew guard for the LSH band self-join (VERDICT round-1 item 6).

A pile of identical docs shares every band key; without the
collapse-to-representative guard the band self-join builds an N x N
bucket before verification. With the guard, identical shingle sets are
one LSH unit and the only quadratic left is the (unavoidable) pair
output itself. The test corpus makes the unguarded formulation's bucket
1k deep; the guarded one must produce the exact expected pairs fast.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans import dedup

N_CLONES = 1000
BOILERPLATE = (
    "the quick brown fox jumps over the lazy dog while every "
    "training pipeline deduplicates its corpus before anything else"
)


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("skew")
    rows = [(i, BOILERPLATE, "en", "clone", len(BOILERPLATE)) for i in range(N_CLONES)]
    # distinct tail docs: no shared 3-gram shingles with the clones
    rows += [
        (N_CLONES + j, f"unique alpha{j} beta{j} gamma{j} delta{j} epsilon{j}", "en", "tail", 40)
        for j in range(5)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_identical_doc_pile_is_not_a_quadratic_bucket(spark, skew_dir):
    pairs = dedup.minhash_near_dups(spark, skew_dir)
    got = pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("jaccard") == 1.0, 1).otherwise(0)).alias("n_exact"),
    ).collect()[0]
    expected = math.comb(N_CLONES, 2)
    assert got.n == expected
    assert got.n_exact == expected


@pytest.fixture(scope="module")
def mixed_dir(spark, tmp_path_factory):
    """Small corpus exercising every collapse case: three clone groups,
    near-dup (not identical) variants, and unrelated tails."""
    out = tmp_path_factory.mktemp("mixed")
    rows = []
    i = 0
    for g in range(3):
        base = f"group{g} shares a long boilerplate sentence about corpus hygiene and shingle sets"
        for _ in range(8):  # 8 identical copies per group
            rows.append((i, base, "en", "clone", len(base))); i += 1
        # a near-dup variant: same prefix, one word changed
        rows.append((i, base.replace("hygiene", "quality"), "en", "variant", len(base))); i += 1
    for j in range(6):
        rows.append((i, f"unrelated tail alpha{j} beta{j} gamma{j} delta{j} epsilon{j} zeta{j}", "en", "tail", 40)); i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_collapse_matches_direct_lsh_on_mixed_corpus(spark, mixed_dir):
    """The guard must be output-identical to direct LSH over all docs —
    check on a corpus that actually exercises the collapse path (clone
    groups, cross-group near-dup variants, unrelated tails)."""
    direct = dedup.lsh_pairs(dedup._shingles_cached(spark, mixed_dir))
    guarded = dedup.minhash_near_dups(spark, mixed_dir)
    assert guarded.count() > 0  # the corpus does produce pairs
    sym_diff = guarded.exceptAll(direct).unionByName(direct.exceptAll(guarded))
    assert sym_diff.count() == 0
