"""The one MinHash near-dup chain in plans/dedup.py, checked stage by
stage: the exact verify against brute-force Python scores on a
hand-built shingle table, and the raw-text shingling the streaming job
uses against the corpus shingle table the batch paths use."""

from __future__ import annotations

from fractions import Fraction
from itertools import combinations

import pytest

from simple_mapreduce_search_engine_information_retrieval__spark.plans import dedup

# doc -> shingle set; the comments give the scores the verify must see
SETS = {
    1: {"x0", "x1", "x2", "x3", "x4", "x5"},
    # vs 1: jaccard 3/10 and containment 3/6 — both exactly at threshold
    2: {"x0", "x1", "x2", "y0", "y1", "y2", "y3"},
    3: {"z0", "z1", "z2", "z3", "z4"},
    # vs 3: jaccard 2/7 (just below 0.3), containment 2/4 (at 0.5)
    4: {"z0", "z1", "w0", "w1"},
    5: {"u0", "u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8"},
    # vs 5: jaccard 4/14, containment 4/9 (just below 0.5)
    6: {"u0", "u1", "u2", "u3", "v0", "v1", "v2", "v3", "v4"},
    # vs 1: jaccard 6/7, containment 1
    7: {"x0", "x1", "x2", "x3", "x4", "x5", "x6"},
}


def _brute(measure: str) -> set:
    threshold = (
        dedup.JACCARD_THRESHOLD if measure == "jaccard" else dedup.CONTAINMENT_THRESHOLD
    )
    out = set()
    for a, b in combinations(sorted(SETS), 2):
        inter = len(SETS[a] & SETS[b])
        if measure == "jaccard":
            score = Fraction(inter, len(SETS[a] | SETS[b]))
        else:
            score = Fraction(inter, min(len(SETS[a]), len(SETS[b])))
        score = round(float(score), 6)
        if score >= threshold:
            out.add((a, b, score))
    return out


@pytest.fixture(scope="module")
def tables(spark):
    sh = spark.createDataFrame(
        [(d, s) for d, ss in SETS.items() for s in sorted(ss)],
        "doc_id long, shingle string",
    )
    cand = spark.createDataFrame(
        list(combinations(sorted(SETS), 2)), "doc_a long, doc_b long"
    )
    return sh, cand


@pytest.mark.parametrize("measure", ["jaccard", "containment"])
def test_verify_matches_brute_force(spark, tables, measure):
    sh, cand = tables
    got = {
        (r.doc_a, r.doc_b, r[measure])
        for r in dedup.verify_pairs(cand, sh, measure).collect()
    }
    assert got == _brute(measure)


def test_verify_threshold_edges(spark, tables):
    sh, cand = tables
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.verify_pairs(cand, sh).collect()}
    assert jac[(1, 2)] == dedup.JACCARD_THRESHOLD  # exactly at: kept
    assert (3, 4) not in jac  # 2/7 just below: dropped
    con = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.verify_pairs(cand, sh, "containment").collect()
    }
    assert con[(1, 2)] == con[(3, 4)] == dedup.CONTAINMENT_THRESHOLD
    assert (5, 6) not in con  # 4/9 just below: dropped


def test_verify_keeps_candidate_column_names(spark, tables):
    sh, cand = tables
    renamed = cand.toDF("new_doc", "base_doc")
    out = dedup.verify_pairs(renamed, sh)
    assert out.columns == ["new_doc", "base_doc", "jaccard"]
    assert {(r.new_doc, r.base_doc) for r in out.collect()} == {
        (a, b) for a, b, _ in _brute("jaccard")
    }


def test_text_shingles_equal_corpus_shingles(spark, sf_dir):
    """The streaming job shingles raw micro-batch text; the batch paths
    shingle the tokenized-corpus cache. Both must give the same table."""
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    streamed = dedup.text_shingles(table(spark, sf_dir, "documents"))
    corpus = dedup._shingles_cached(spark, sf_dir)
    assert streamed.exceptAll(corpus).count() == 0
    assert corpus.exceptAll(streamed).count() == 0
