"""Property and plan-shape tests for the round-6 operators:
temperature-scaled sampling, distinct-n diversity, canonical-URL dedup,
per-source dup-rate report, cosine range search, diversified top-k,
contrastive pair mining. (Value parity vs DuckDB is covered for all of
them by test_oracle_parity.py; these assert the semantic invariants and
the 100 TB plan shapes.)"""

from __future__ import annotations

from pyspark.sql import functions as F


from conftest import physical_plan as _physical


def test_temperature_mix_shares(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.pipeline import (
        temperature_mix,
    )

    rows = temperature_mix(spark, sf_dir).collect()
    assert rows
    # ppm shares each sum to 1e6 within per-language rounding slack
    for col in ("raw_share_ppm", "temp_share_ppm"):
        total = sum(r[col] for r in rows)
        assert abs(total - 1_000_000) <= len(rows), (col, total)
    # temperature flattening invariants (TRUE for any alpha<1, unlike
    # "every minority is boosted >1", which fails for a near-majority
    # second language): the majority is down-weighted, at least one
    # language is up-weighted, and boost is anti-monotone in corpus
    # share — smaller languages never get a smaller boost
    majority = max(rows, key=lambda r: r.n_docs)
    assert majority.boost_ppm < 1_000_000
    assert any(r.boost_ppm > 1_000_000 for r in rows)
    by_size = sorted(rows, key=lambda r: r.n_docs)
    boosts = [r.boost_ppm for r in by_size]
    assert boosts == sorted(boosts, reverse=True), boosts


def test_distinct_ngrams_bounds(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.textstats import (
        distinct_ngrams,
    )

    rows = distinct_ngrams(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_distinct <= r.n_bigrams
        assert 0 < r.diversity_ppm <= 1_000_000


def test_url_canonical_collapses_variants(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
        url_canonical_dedup,
    )

    rows = url_canonical_dedup(spark, sf_dir).collect()
    assert rows
    # four decorated variants per doc_id//4 group all collapse to one
    # canonical URL; the keeper is the group's lowest doc_id (4*g)
    for r in rows:
        assert r.n_docs == 4, r
        assert r.keeper % 4 == 0, r
        g = r.keeper // 4
        assert r.canonical_url == f"https://example.com/p{g}?id={g % 97}", r


def test_url_canonicalizer_idempotent_and_collapsing(spark):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
        _canonical_url_spark,
    )

    urls = [
        "https://www.Example.COM:443/a/b/?id=7&utm_x=1#frag",
        "HTTP://example.com:80/a/b?id=7",
        "https://example.com/a/b/?utm_campaign=2&id=7",
        "https://example.com/x",
        "https://example.com/x/",
        "https://www.example.com/x",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    rows = df.select(
        "u", _canonical_url_spark(F.col("u")).alias("c1")
    ).withColumn("c2", _canonical_url_spark(F.col("c1"))).collect()
    for r in rows:
        assert r.c1 == r.c2, r  # canonicalization is idempotent
    by = {r.u: r.c1 for r in rows}
    assert by[urls[0]] == "https://example.com/a/b?id=7"
    assert by[urls[1]] == "http://example.com/a/b?id=7"  # scheme preserved
    assert by[urls[2]] == "https://example.com/a/b?id=7"
    assert by[urls[3]] == by[urls[4]] == by[urls[5]] == "https://example.com/x"


def test_dedup_report_consistent_with_exact_groups(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
        dedup_report_by_source,
        exact_dup_groups,
    )

    rows = dedup_report_by_source(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_redundant < r.n_docs
        assert 0 <= r.dup_rate_ppm <= 1_000_000
    # global redundancy is bounded below by the per-source split of the
    # global exact groups (same-fingerprint docs may straddle sources)
    global_redundant = sum(
        g.n_docs - 1 for g in exact_dup_groups(spark, sf_dir).collect()
    )
    assert sum(r.n_redundant for r in rows) <= global_redundant


def test_range_search_threshold_and_shape(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        RANGE_TAU,
        knn_range_search,
    )

    df = knn_range_search(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert all(r.cos >= RANGE_TAU for r in rows)
    # the 1-row query side must broadcast — never a shuffle over the scan
    assert "SortMergeJoin" not in _physical(df)


def test_diversified_topk_cap(spark, sf_dir):
    from collections import Counter

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        DIVERSE_PER_CLUSTER,
        TOP_K,
        knn_diversified_topk,
        knn_brute_force,
    )

    rows = knn_diversified_topk(spark, sf_dir).collect()
    assert len(rows) == TOP_K
    per_cluster = Counter(r.cluster for r in rows)
    assert max(per_cluster.values()) <= DIVERSE_PER_CLUSTER
    # scores are non-increasing and each is a genuine brute-force score
    cs = [r.cos for r in rows]
    assert cs == sorted(cs, reverse=True)
    brute = {r.vec_id: r.cos for r in knn_brute_force(spark, sf_dir, top_k=10**6).collect()}
    for r in rows:
        assert abs(brute[r.vec_id] - r.cos) < 1e-9


def test_mmr_rerank_greedy_invariants(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        TOP_K,
        knn_brute_force,
        mmr_rerank,
    )

    rows = sorted(mmr_rerank(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, TOP_K + 1))
    assert len({r.vec_id for r in rows}) == TOP_K
    # rank 1 is the undiversified best match (lambda term only)
    top1 = knn_brute_force(spark, sf_dir, top_k=1).collect()[0]
    assert rows[0].vec_id == top1.vec_id
    assert rows[0].mmr_micro == 7 * rows[0].cos_micro
    # greedy scores are non-increasing: each pick maximized a score the
    # next pick could also have taken (with one more penalty term, so
    # later scores can only be equal or lower)
    ms = [r.mmr_micro for r in rows[1:]]
    assert ms == sorted(ms, reverse=True)



def test_contrastive_pairs_labels(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        N_ANCHORS,
        contrastive_pairs,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    rows = contrastive_pairs(spark, sf_dir).collect()
    assert len(rows) == N_ANCHORS
    labels = {
        r.vec_id: r.label
        for r in table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    for r in rows:
        assert r.pos_id != r.anchor_id and r.neg_id != r.anchor_id
        assert labels[r.pos_id] == labels[r.anchor_id], r
        assert labels[r.neg_id] != labels[r.anchor_id], r
        assert -1.0 <= r.neg_cos <= 1.0 and -1.0 <= r.pos_cos <= 1.0


def test_mmr_rerank_pool_smaller_than_top_k(spark, tmp_path):
    """A cosine shortlist with fewer than TOP_K vectors yields one pick
    per vector, in the DuckDB recursive-CTE twin's order; a corpus with
    only the query vector yields the empty typed frame."""
    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        QUERY_VEC_ID,
        TOP_K,
        _duck_mmr,
        mmr_rerank,
    )

    schema = "vec_id long, embedding array<float>, label int"
    vecs = [
        (QUERY_VEC_ID, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.9, 0.0, 0.4], 1),
    ]
    assert len(vecs) - 1 < TOP_K

    def fixture(name, rows):
        out = tmp_path / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(out / "embeddings.parquet")
        )
        return str(out)

    small = fixture("small", vecs)
    got = sorted(mmr_rerank(spark, small).collect(), key=lambda r: r.rank)
    assert [(r.rank, r.vec_id) for r in got] == [(1, 1), (2, 3), (3, 2)]
    assert got[0].mmr_micro == 7 * got[0].cos_micro
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{small}/embeddings.parquet/*.parquet')"
    )
    want = con.execute(_duck_mmr()).fetchall()
    assert [tuple(r) for r in got] == sorted(want)

    empty = mmr_rerank(spark, fixture("empty", vecs[:1]))
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<rank:int,vec_id:bigint,cos_micro:bigint,mmr_micro:bigint>"
    )
