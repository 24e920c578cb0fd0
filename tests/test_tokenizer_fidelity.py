"""Golden tests for the fidelity tokenizer (FIXTURES.md §4) and the
Porter2 stemmer."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.functions.fidelity import (
    tokenize_text,
    tokenize_udf,
)
from simple_mapreduce_search_engine_information_retrieval__spark.functions.stemmer import stem


def test_stemmer_goldens():
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "tie",
        "caress": "caress", "cats": "cat", "feed": "feed",
        "agreed": "agre", "plastered": "plaster", "bled": "bled",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "hopping": "hop", "hoping": "hope",
        "falling": "fall", "filing": "file", "happy": "happi",
        "sky": "sky", "enjoy": "enjoy", "quickly": "quick",
        "national": "nation", "rational": "ration", "generate": "generat",
        "dying": "die", "skies": "sky", "ugly": "ugli",
        "running": "run", "runner": "runner", "relational": "relat",
        "conditional": "condit", "electricity": "electr",
        "hopeful": "hope", "goodness": "good", "meeting": "meet",
        "ionization": "ioniz",
    }
    fails = {w: (e, stem(w)) for w, e in cases.items() if stem(w) != e}
    assert not fails, fails


def test_acronyms():
    # reference TagTokenizer.java:479-527 semantics (FIXTURES.md §4)
    assert tokenize_text("I.B.M.", stopword=False, do_stem=False) == ["ibm"]
    assert tokenize_text("umass.edu", stopword=False, do_stem=False) == ["umass", "edu"]
    assert tokenize_text("ph.d.", stopword=False, do_stem=False) == ["ph"]
    assert tokenize_text("don't", stopword=False, do_stem=False) == ["dont"]


def test_tag_handling():
    assert tokenize_text("<script>x=1;</script>visible", stopword=False, do_stem=False) == ["visible"]
    assert tokenize_text("<style>p{}</style>shown", stopword=False, do_stem=False) == ["shown"]
    assert tokenize_text("a<!-- hidden -->b", stopword=False, do_stem=False) == ["a", "b"]
    assert tokenize_text("x&amp;y", stopword=False, do_stem=False) == ["x", "y"]
    assert tokenize_text("<b>bold</b> word", stopword=False, do_stem=False) == ["bold", "word"]


def test_limits_and_stopwords():
    long_tok = "x" * 150
    assert tokenize_text(f"ok {long_tok} fine", stopword=False, do_stem=False) == ["ok", "fine"]
    # stopwords removed BEFORE stemming (GalagoTokenizer.java:152-156)
    assert tokenize_text("the running dogs", do_stem=True) == ["run", "dog"]


def test_reference_demo_string():
    # the reference's own tokenizer smoke input (GalagoTokenizer.java:189)
    s = (" this is a the <test> for the teokenizer 101 546 "
         "345-543543545436-4656765865865 rgger <xml> ergtre 456435klj345lj34590")
    toks = tokenize_text(s, do_stem=False)
    # tags and stopwords (this is a the for) gone; '-' splits the numbers
    assert toks == ["teokenizer", "101", "546", "345", "543543545436",
                    "4656765865865", "rgger", "ergtre", "456435klj345lj34590"]


def test_udf_matches_local(spark):
    rows = [("a", "The I.B.M. <b>systems</b> are running quickly!"),
            ("b", "<script>no</script> umass.edu don't stop")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.toks for r in df.select("doc_id", tokenize_udf(F.col("text")).alias("toks")).collect()}
    assert got["a"] == tokenize_text(rows[0][1])
    assert got["b"] == tokenize_text(rows[1][1])


# --- expression-tokenizer acronym mode (F4 on the hot path) ------------


def _expr_tokens(spark, text, **kw):
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        tokens_col,
    )

    df = spark.createDataFrame([(text,)], "text string")
    return df.select(tokens_col(F.col("text"), **kw).alias("t")).head().t


def test_expression_acronym_goldens(spark):
    cases = {
        "I.B.M.": ["ibm"],
        "umass.edu": ["umass", "edu"],
        "ph.d.": ["ph"],
        "a...b": ["ab"],  # odd positions all '.', even unchecked (:495-501)
        "...x...": ["x"],
        "don't stop.": ["dont", "stop"],
        "u.s.a. c.i.a": ["usa", "cia"],
        "plain words": ["plain", "words"],
    }
    for text, want in cases.items():
        got = _expr_tokens(spark, text, stopworded=False, acronyms=True)
        assert got == want, (text, got, want)
        # the fidelity UDF agrees on every golden
        assert tokenize_text(text, stopword=False, do_stem=False) == want, text


def test_duck_acronym_matches_spark(spark):
    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        duck_tokens_list,
    )

    texts = ["I.B.M. runs umass.edu", "ph.d. a...b ...x...", "x.y.z w.w",
             "no periods here", "dots... everywhere ..a.. b"]
    sql = duck_tokens_list("t", stopworded=False, acronyms=True)
    con = duckdb.connect()
    for text in texts:
        got = con.execute(
            f"SELECT {sql} FROM (SELECT ? AS t)", [text]
        ).fetchone()[0]
        want = _expr_tokens(spark, text, stopworded=False, acronyms=True)
        assert got == want, (text, got, want)


def test_expression_acronym_matches_fidelity_corpus_wide(spark):
    """Corpus-wide equivalence: the expression acronym tokenizer produces
    EXACTLY the fidelity UDF's pre-stem token stream on the fixture
    corpus (VERDICT r2 item 2's done-criterion)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.fidelity import (
        tokenize_nostem_udf,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        tokens_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mismatch = (
        docs.select(
            "doc_id",
            tokens_col(F.col("text"), acronyms=True).alias("expr"),
            tokenize_nostem_udf(F.col("text")).alias("udf"),
        )
        .where(F.col("expr") != F.col("udf"))
        .count()
    )
    assert mismatch == 0


def test_kgrams_short_doc_guard(spark):
    """Docs with < k tokens must yield an EMPTY gram array (reference
    P3, TermKGramDocIndexer.java:142-143). Regression: sequence(1, 0)
    in Spark is the DESCENDING [1, 0], which made slice() throw on a
    1-token doc with k=2 (never triggered by the fixture corpus — every
    fixture doc has >= k tokens — but fatal on a real corpus)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        chargrams_col,
        kgrams_col,
    )

    df = spark.createDataFrame(
        [(["a"],), ([],), (["a", "b", "c"],)], "toks array<string>"
    )
    got = [r.g for r in df.select(kgrams_col(F.col("toks"), 2).alias("g")).collect()]
    assert got == [[], [], ["a b", "b c"]]
    # char-grams: k larger than the padded term must yield empty, not throw
    cdf = spark.createDataFrame([("a",), ("",)], "t string")
    cg = [r.g for r in cdf.select(chargrams_col(F.col("t"), 4).alias("g")).collect()]
    assert cg == [[], []]


def test_ascii_lower_compat(spark):
    # TagTokenizer.java:536-559 lowercases ASCII A-Z only; the compat
    # flag reproduces that, the default lowercases everything.
    text = "Straße ÉCOLE Mixed"
    assert _expr_tokens(spark, text, stopworded=False, compat_ascii_lower=True) == [
        "straße", "École", "mixed",
    ]
    assert _expr_tokens(spark, text, stopworded=False) == [
        "straße", "école", "mixed",
    ]


def test_duck_ascii_lower_matches_spark(spark):
    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        duck_tokens_list,
    )

    text = "Straße ÉCOLE I.B.M. Mixed"
    sql = duck_tokens_list("t", stopworded=False, acronyms=True,
                           compat_ascii_lower=True)
    got = duckdb.connect().execute(
        f"SELECT {sql} FROM (SELECT ? AS t)", [text]
    ).fetchone()[0]
    want = _expr_tokens(spark, text, stopworded=False, acronyms=True,
                        compat_ascii_lower=True)
    assert got == want


def test_stopword_member_fallback_warns_with_same_semantics(spark, monkeypatch):
    """When the cached-seq internals are unavailable, stopword_member
    warns and falls back to a plain ``isin`` with the same answer."""
    import sys
    import types

    import pytest

    from simple_mapreduce_search_engine_information_retrieval__spark.functions import (
        tokenize,
    )

    df = spark.createDataFrame([("the",), ("spark",), ("and",)], "t string")
    want = [r.m for r in df.select(tokenize.stopword_member(F.col("t")).alias("m")).collect()]
    # drift: the private seq helper the cached path imports is gone
    real = sys.modules["pyspark.sql.classic.column"]
    drifted = types.ModuleType(real.__name__)
    drifted.__dict__.update({k: v for k, v in vars(real).items() if k != "_to_seq"})
    monkeypatch.setattr(tokenize, "_stop_seq_cache", {})
    monkeypatch.setitem(sys.modules, real.__name__, drifted)
    with pytest.warns(RuntimeWarning, match="stopword"):
        member = tokenize.stopword_member(F.col("t"))
    assert [r.m for r in df.select(member.alias("m")).collect()] == want == [True, False, True]
