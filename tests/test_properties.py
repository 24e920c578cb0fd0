"""Property-based invariants (SURVEY.md §5): random documents through the
real Spark pipeline must satisfy the index algebra, and the pure-Python
pieces must agree with the distributed renderings."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.functions.stopwords import (
    STOPWORD_SET,
)
from simple_mapreduce_search_engine_information_retrieval__spark.functions.stemmer import stem
from simple_mapreduce_search_engine_information_retrieval__spark.plans.indexing import (
    docno_mapping,
    docno_mapping_scalable,
    postings_arrays,
    postings_flat,
)

WORDS = st.text(alphabet="abcdefgh<>&'.x ", min_size=0, max_size=60)


@settings(max_examples=200, deadline=None)
@given(WORDS)
def test_expression_tokenizer_matches_python_rendering(text):
    """The driver-side query tokenizer (pure Python re) and the Spark
    column tokenizer are two renderings of the same constants — check
    they agree on arbitrary text (modulo stopwords, both applied)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        SPLIT_RE,
        TAG_NOISE_RE,
    )

    cleaned = re.sub(TAG_NOISE_RE, " ", text.lower()).replace("'", "")
    expect = [
        t
        for t in re.split(SPLIT_RE, cleaned)
        if t and len(t.encode()) < 100 and t not in STOPWORD_SET
    ]
    # compare against the oracle SQL rendering via DuckDB (cheap per-case;
    # the Spark rendering is covered by the oracle parity suite)
    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        duck_tokens_list,
    )

    con = duckdb.connect()
    # the rendering may reference its text argument several times (e.g.
    # the markup-guard CASE) — bind the value once per placeholder
    sql = f"SELECT {duck_tokens_list('?::VARCHAR')} AS t"
    got = con.execute(sql, [text] * sql.count("?::VARCHAR")).fetchone()[0]
    assert got == expect


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="ab.x' <>&;i", min_size=0, max_size=30))
def test_acronym_renderings_agree(text):
    """The acronym-mode DuckDB rendering must equal the fidelity
    tokenizer's pre-stem stream on adversarial period/markup text — the
    fixture corpus has no periods, so the corpus-wide equivalence test
    never exercises TagTokenizer.java:479-527's edge cases; hypothesis
    does."""
    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.fidelity import (
        tokenize_text,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        duck_tokens_list,
    )

    expect = tokenize_text(text, stopword=False, do_stem=False)
    sql = (
        "SELECT "
        + duck_tokens_list("?::VARCHAR", stopworded=False, acronyms=True)
        + " AS t"
    )
    con = duckdb.connect()
    got = con.execute(sql, [text] * sql.count("?::VARCHAR")).fetchone()[0]
    assert got == expect, (text, got, expect)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz'", min_size=1, max_size=20))
def test_stemmer_total_and_idempotent_shape(word):
    s = stem(word)
    assert isinstance(s, str)
    assert len(s) <= len(word) + 1  # porter2 may add back an 'e'
    assert s == s.lower()


def test_index_algebra_invariants(spark, sf_dir):
    """sum(tf) per doc == kept-token count; df == postings length; every
    indexed term retrievable with positive tf."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        tokens_col,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    post = postings_flat(spark, sf_dir, 1)
    per_doc = post.groupBy("docno").agg(F.sum("tf").alias("s"))
    kept = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docno"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n"),
    )
    bad = (
        per_doc.join(kept, "docno", "full")
        .filter(F.coalesce(F.col("s"), F.lit(0)) != F.coalesce(F.col("n"), F.lit(0)))
        .count()
    )
    assert bad == 0
    assert post.filter(F.col("tf") <= 0).count() == 0
    arr = postings_arrays(spark, sf_dir, 1)
    mismatch = arr.filter(F.col("df") != F.size("postings")).count()
    assert mismatch == 0
    # arrays sorted tf desc with docno-asc tiebreak (the full contract —
    # tf-only monotonicity let a docno-desc tie order slip through once)
    def out_of_order(i):
        a = F.element_at("postings", i)
        b = F.element_at("postings", (i + 1).cast("int"))
        return ~(
            (a["tf"] > b["tf"])
            | ((a["tf"] == b["tf"]) & (a["docno"] < b["docno"]))
        )

    violations = arr.filter(
        F.exists(F.sequence(F.lit(1), F.size("postings") - 1), out_of_order)
    ).count()
    assert violations == 0


def test_docno_mapping_scalable_matches_window_version(spark, sf_dir):
    a = {(r.docid, r.docno) for r in docno_mapping(spark, sf_dir).collect()}
    b = {(r.docid, r.docno) for r in docno_mapping_scalable(spark, sf_dir).collect()}
    assert a == b


def test_parsers(spark):
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.parsers import (
        dochdr_url,
        whitelisted_text,
    )

    df = spark.createDataFrame(
        [
            (
                "<DOCHDR>\nHTTP://Example.COM:80/path/#\n</DOCHDR>"
                "<HEADLINE>big news</HEADLINE><TEXT>body here</TEXT>"
                "<GARBAGE>skip me</GARBAGE>",
            )
        ],
        "rec string",
    )
    r = df.select(
        whitelisted_text(F.col("rec")).alias("t"), dochdr_url(F.col("rec")).alias("u")
    ).collect()[0]
    assert r.t == "body here big news"
    assert r.u == "http://example.com/path"


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=0, max_size=24))
def test_hf_bytelevel_mapping_is_total_and_invertible(sym):
    """The HF ByteLevel adapter's symbol mapping (plans/bpe.py, r12
    full byte table): for ANY character string — marker chars, newlines,
    astral codepoints included, no carve-outs left — the rendering is
    space-free (the merge-string framing guarantee) and _hf_unsym
    inverts it exactly. This is the losslessness argument for the
    public-format sidecar, checked over arbitrary symbols instead of
    the fixture's."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.bpe import (
        _hf_sym,
        _hf_unsym,
    )

    rendered = _hf_sym(sym)
    assert " " not in rendered
    assert _hf_unsym(rendered) == sym


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcde", min_size=1, max_size=12),
    st.text(alphabet="abcde", min_size=1, max_size=12),
)
def test_qgram_lemma_bound_never_excludes_a_fuzzy_match(q, t):
    """The chargram-served fuzzy candidate filter (index_store.fuzzy_indexed:
    n >= |grams($q$)| - 2k for lev<=2) must be a SUPERSET of the
    true matches — the q-gram lemma on $-padded DISTINCT gram sets:
    each edit destroys <= k padded grams, so <= d*k distinct grams of q
    can be missing from t entirely. Verified against an independent DP
    edit distance over a deliberately tiny alphabet (maximizes gram
    collisions, the adversarial case for distinct-set counting)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        pattern_grams,
    )

    k = 3

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    gq = pattern_grams([f"${q}$"], k)
    gt = pattern_grams([f"${t}$"], k)
    if lev(q, t) <= 2:
        assert len(gq & gt) >= len(gq) - 2 * k
