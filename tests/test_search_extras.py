from __future__ import annotations

import re

from pyspark.sql import functions as F

from conftest import physical_plan
from simple_mapreduce_search_engine_information_retrieval__spark.plans import top_k_ranked
from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
    search,
    search_fidelity,
    search_lm_dirichlet,
    tokenize_query,
    wildcard_terms,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.views import (
    SEARCH_SQL_TEMPLATE,
    register_engine_views,
)
from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
    table,
)


def test_query_tokenizer_edge_cases():
    assert tokenize_query("The SPARK!") == ["spark"]
    assert tokenize_query("the a of") == []  # all stopwords
    assert tokenize_query("don't-stop") == ["dont"]  # apostrophe + split


def test_wildcard_prefix(spark, sf_dir):
    terms = {r.term for r in wildcard_terms(spark, sf_dir, "sp*", k=2).collect()}
    assert "spark" in terms
    assert all(t.startswith("sp") for t in terms)


def test_wildcard_infix_verify_kills_false_positives(spark, sf_dir):
    terms = {r.term for r in wildcard_terms(spark, sf_dir, "s*k", k=2).collect()}
    assert all(t.startswith("s") and t.endswith("k") for t in terms)


def test_sql_view_search_matches_plan(spark, sf_dir):
    register_engine_views(spark, sf_dir)
    via_sql = spark.sql(SEARCH_SQL_TEMPLATE.format(terms="'spark','join'", top_k=10))
    via_plan = search(spark, sf_dir, "spark join")
    got = [(r.docno, r.score) for r in via_sql.collect()]
    want = [(r.docno, r.score) for r in via_plan.collect()]
    assert got == want


def test_fidelity_equals_expression_plus_stem_dict_on_fixture_corpus():
    """The premise of the search_fidelity_stemmed oracle: on the fixture
    corpus (fixed word pool, no acronym/period shapes) the full fidelity
    pipeline equals expression tokenization + per-word stem lookup —
    checked doc-for-doc at both test SFs."""
    import re

    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.fidelity import (
        tokenize_text,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.stemmer import stem
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.stopwords import (
        STOPWORD_SET,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        MAX_TOKEN_BYTES,
        SPLIT_RE,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        FIXTURE_POOL,
    )

    mapping = {w: stem(w) for w in FIXTURE_POOL}
    for sf in ("0.001", "0.01"):
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        ).fetchall()
        pool_seen = set()
        for _, text in rows:
            expr = [
                t
                for t in re.split(SPLIT_RE, text.lower().replace("'", ""))
                if t and len(t.encode()) < MAX_TOKEN_BYTES and t not in STOPWORD_SET
            ]
            pool_seen.update(expr)
            assert tokenize_text(text) == [mapping.get(t, t) for t in expr]
        # every token the corpus produces is in the embedded dictionary
        assert pool_seen <= set(FIXTURE_POOL)


def test_boolean_semantics(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        _warm_index,
        search_boolean,
    )

    post, _, _ = _warm_index(spark, sf_dir, 1)
    rows = post.select("term", "docno", "tf").collect()
    has = {}
    for r in rows:
        has.setdefault(r.term, {})[r.docno] = r.tf
    want = {
        d: has["hash"][d] + has["join"][d]
        for d in set(has.get("hash", {})) & set(has.get("join", {}))
        if d not in has.get("merge", {})
    }
    got = {
        r.docno: r.tf_sum
        for r in search_boolean(spark, sf_dir, ("hash", "join"), ("merge",)).collect()
    }
    assert got == want
    # a must-term absent from the corpus empties the result (the AND
    # count filter can never reach |must|)
    none = search_boolean(spark, sf_dir, ("hash", "zzzmissing"), ("merge",))
    assert none.count() == 0


def test_phrase_positional_bounded_by_tf(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        _warm_index,
        search_phrase_positional,
    )

    post, _, _ = _warm_index(spark, sf_dir, 1)
    tf = {(r.term, r.docno): r.tf for r in post.collect()}
    for r in search_phrase_positional(spark, sf_dir, "hash join").collect():
        assert 0 < r.occurrences <= min(
            tf.get(("hash", r.docno), 0), tf.get(("join", r.docno), 0)
        )


def test_snippets_contain_a_query_term(spark, sf_dir):
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        SNIPPET_RADIUS,
        search_snippets,
    )

    rows = search_snippets(spark, sf_dir, "spark join").collect()
    assert rows  # the fixture corpus has hits for this query
    for r in rows:
        toks = r.snippet.split(" ")
        assert len(toks) <= 2 * SNIPPET_RADIUS + 1
        assert {"spark", "join"} & set(toks)


def test_phrase_positional_arity_guard(spark, sf_dir):
    """Phrases that tokenize below the 2-term minimum (stopword operand,
    single word) take the graceful empty-result path in BOTH builders
    instead of raising (ADVICE r4)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        duck_search_phrase_positional,
        search_phrase_positional,
    )

    for phrase in ("hash", "the a"):
        df = search_phrase_positional(spark, sf_dir, phrase)
        assert df.columns == ["docno", "occurrences", "rank"]
        assert df.count() == 0
        sql = duck_search_phrase_positional(phrase)
        import duckdb

        con = duckdb.connect()
        try:
            out = con.execute(sql).df()
            assert sorted(out.columns) == ["docno", "occurrences", "rank"]
            assert len(out) == 0
        finally:
            con.close()


def test_hybrid_rrf_threads_top_k_into_both_arms(spark, sf_dir):
    """top_k > 10 must deepen the vector arm too (ADVICE r4: a
    hard-wired TOP_K silently fused a truncated vector ranking). Oracle
    parity at top_k=20 catches any asymmetry because the duck builder
    threads the same depth."""
    from simple_mapreduce_search_engine_information_retrieval__spark import oracle
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        duck_search_hybrid_rrf,
        search_hybrid_rrf,
    )

    df = search_hybrid_rrf(spark, sf_dir, "spark join", top_k=20)
    assert df.count() == 20
    con = oracle.duck_connect(sf_dir)
    try:
        assert oracle.compare(df, con, duck_search_hybrid_rrf("spark join", top_k=20)) == []
    finally:
        con.close()


def test_phrase_positional_n_term_matches_oracle(spark, sf_dir):
    """The generalized positional phrase walk (round 5): 3- and 4-term
    phrases verified against the DuckDB adjacency-join oracle at
    sf0.001, plus a brute-force cross-check on raw token streams for
    the 3-term case."""
    from simple_mapreduce_search_engine_information_retrieval__spark import oracle
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        duck_search_phrase_positional,
        search_phrase_positional,
    )

    con = oracle.duck_connect(sf_dir)
    try:
        for phrase in ("hash join merge", "big data hash join"):
            df = search_phrase_positional(spark, sf_dir, phrase)
            assert (
                oracle.compare(
                    df, con, duck_search_phrase_positional(phrase)
                )
                == []
            ), phrase
    finally:
        con.close()
    # brute force: count adjacent triples in the tokenized streams
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.corpus import (
        tokenized_docs,
    )

    toks = {
        r.doc_id: list(r.kept)
        for r in tokenized_docs(spark, sf_dir).select("doc_id", "kept").collect()
    }
    want = {}
    tgt = ("hash", "join", "merge")
    for d, ts in toks.items():
        n = sum(
            1
            for i in range(len(ts) - 2)
            if tuple(ts[i : i + 3]) == tgt
        )
        if n:
            want[d] = n
    got = {
        r.docno: r.occurrences
        for r in search_phrase_positional(spark, sf_dir, "hash join merge")
        .collect()
    }
    # the query returns top-k; every returned row must match brute force,
    # and if fewer than k docs match overall the sets must be equal
    for d, n in got.items():
        assert want.get(d) == n
    if len(want) <= 10:
        assert got == want


def test_lm_dirichlet_ranks_hit_docs(spark, sf_dir):
    """Top docs must actually contain a query term, scores are log-probs
    (negative), and the ranking is strictly ordered."""
    res = search_lm_dirichlet(spark, sf_dir, "spark join").collect()
    assert 0 < len(res) <= 10
    assert all(r.score < 0 for r in res)
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)
    terms = set(tokenize_query("spark join"))
    docs = table(spark, sf_dir, "documents")
    hit_docs = {
        r.doc_id
        for r in docs.select("doc_id", "text").collect()
        if terms & set(r.text.lower().split())
    }
    assert all(r.docno in hit_docs for r in res)


def test_lm_dirichlet_empty_query_returns_empty(spark, sf_dir):
    assert search_lm_dirichlet(spark, sf_dir, "the of and").count() == 0


def test_top_k_ranked_cuts_ties_by_the_next_key(spark):
    """Rows tied on the first key are ordered and cut by the next one;
    a top_k past the row count keeps every row; an empty input keeps
    its schema and gains a long rank."""
    df = spark.createDataFrame(
        [(3, 0.5), (2, 0.9), (1, 0.5), (4, 0.1)], "docno long, score double"
    )
    order = (F.desc("score"), F.asc("docno"))

    def rows(out):
        return sorted((tuple(r) for r in out.collect()), key=lambda r: r[2])

    assert rows(top_k_ranked(df, 2, *order)) == [(2, 0.9, 1), (1, 0.5, 2)]
    assert rows(top_k_ranked(df, 10, *order)) == [
        (2, 0.9, 1), (1, 0.5, 2), (3, 0.5, 3), (4, 0.1, 4)
    ]
    empty = top_k_ranked(df.limit(0), 10, *order)
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<docno:bigint,score:double,rank:bigint>"
    )


def test_fidelity_stats_join_builds_from_the_query_side(spark, sf_dir):
    """search_fidelity broadcasts the query terms into its stats join,
    never the stemmed dictionary, so its joins build from the same
    sides as search's."""

    def build_sides(df):
        return re.findall(r"BroadcastHashJoin .*?(Build\w+)", physical_plan(df))

    want = build_sides(search(spark, sf_dir, "spark join"))
    assert want == ["BuildRight"] * 3
    assert build_sides(search_fidelity(spark, sf_dir, "spark join")) == want
