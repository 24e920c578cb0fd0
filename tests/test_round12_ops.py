"""Round 12: the r11 ADVICE/verdict polish items — repeated
--tokenizer usage error, the skip-list `:tokenize` encode (exact
sequential-rank semantics at 32k-merge sidecar speed), and memo
eviction actually releasing localCheckpoint blocks."""

from __future__ import annotations

import io

from simple_mapreduce_search_engine_information_retrieval__spark import repl


def test_repl_rejects_repeated_tokenizer_flag(tmp_path):
    """A repeated --tokenizer's second path argument used to survive
    the generic '--' filter and be silently taken as sf_dir (r11
    ADVICE) — now a usage error, no Spark session spun up."""
    p = tmp_path / "tok.json"
    p.write_text("{}")
    out = io.StringIO()
    rc = repl.main(
        ["--tokenizer", str(p), "--tokenizer", str(p), "/tmp/x"], out=out
    )
    assert rc == 2
    assert "more than once" in out.getvalue()


def _naive_encode(text, merges, ids_by_sym):
    """The r11 replay — one full pass per rank unconditionally — kept
    as the semantics oracle for the skip-list encode."""
    import re

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.bpe import (
        SEP,
        UNK_ID,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.textstats import (
        BPE_PATTERN,
    )

    ids = []
    for m in re.finditer(BPE_PATTERN, text.lower()):
        piece = m.group(0)
        if SEP in piece:
            continue
        syms = list(piece)
        for _rank, lhs, rhs, _n in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        ids.extend(int(ids_by_sym.get(s, UNK_ID)) for s in syms)
    return ids


def test_repl_encode_skip_list_is_exact_and_fast():
    """The r12 `:tokenize` encode skips ranks whose pair is absent
    (O(1) probe each) — identical output to the one-pass-per-rank
    replay on every input, including an ADVERSARIAL merge list where a
    later merge creates an earlier merge's pair (the sequential engine
    does NOT revisit it; a GPT-2-style min-rank heap WOULD — the skip
    list must side with the engine). And at a production merge count
    the probe sweep beats the full replay by orders of magnitude."""
    import time

    # adversarial: rank 1 wants ('x','ab') before 'ab' exists; rank 2
    # creates 'ab'. Sequential semantics leave 'x','ab' unmerged.
    merges = [(1, "x", "ab", 0), (2, "a", "b", 0)]
    vocab = {"x": 0, "a": 1, "b": 2, "ab": 3, "xab": 4}
    text = "xab"
    want = _naive_encode(text, merges, vocab)
    assert want == [0, 3]  # 'x', 'ab' — NOT the min-rank heap's [4]
    assert repl._encode_text(text, merges, vocab) == want

    # realistic list + assorted texts agree symbol-for-symbol
    merges2 = [
        (1, " ", "t"), (2, " t", "h"), (3, " th", "e"), (4, "i", "n"),
        (5, "a", "n"), (6, " ", "s"), (7, " s", "p"), (8, "e", "r"),
    ]
    merges2 = [(r, l, x, 0) for r, l, x in merges2]
    vocab2 = {s: i for i, s in enumerate(
        [" ", "t", "h", "e", "i", "n", "a", "s", "p", "r",
         " t", " th", " the", "in", "an", " s", " sp", "er"]
    )}
    for text in (
        "the spinner spins in the spring",
        "anthem",
        "",
        "it's 2x faster!",
    ):
        assert repl._encode_text(text, merges2, vocab2) == _naive_encode(
            text, merges2, vocab2
        )

    # 32k-merge sidecar speed (the r11 verdict #5 scenario): pad the
    # list with merges that never fire — the skip sweep is O(1) per
    # rank, the naive replay O(len) per rank
    big = merges2 + [
        (r, f"q{r}", f"z{r}", 0) for r in range(9, 32_000)
    ]
    line = "the spinner spins in the spring and the anthem plays " * 20
    t0 = time.perf_counter()
    fast = repl._encode_text(line, big, vocab2)
    dt_fast = time.perf_counter() - t0
    t0 = time.perf_counter()
    slow = _naive_encode(line, big, vocab2)
    dt_slow = time.perf_counter() - t0
    assert fast == slow
    # relative bound only (r12 ADVICE: the absolute 0.25 s wall bound
    # could flake on a loaded box); measured ~100x+, asserted at 5x
    assert dt_fast * 5 < dt_slow


def test_repl_serves_from_prebuilt_index_store(spark, tmp_path, monkeypatch):
    """--index (r12): the REPL serves queries from a PREBUILT on-disk
    index store — the reference REPL's own shape
    (IntDocVectorsForwardIndex.java:243-322 reads a BUILT index, never
    the collection). Served hits must equal the corpus-derived search()
    ranking exactly (same query tokenize, correct df, same tf-idf), a
    fresh-session-style view registration (no reliance on the building
    session's catalog), and the usage errors hold."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.index_store import (
        build_index,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        search,
    )

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "repl_index")
    build_index(spark, sf, store, name="r12_repl_build")
    monkeypatch.setattr("sys.stdin", io.StringIO("spark join\nthe\n\n"))
    out = io.StringIO()
    rc = repl.main([sf, "--index", store], out=out)
    assert rc == 0
    text = out.getvalue()
    assert "index store:" in text
    want = search(spark, sf, "spark join").collect()
    for r in sorted(want, key=lambda r: r.rank):
        assert f"{r.rank:>2}. doc {r.docno:<8} score {r.score:.6f}" in text
    # 'the' is a stopword -> no terms -> no hits, loop continues
    assert "(no hits)" in text
    assert text.count("blank to quit") == 3
    # usage errors: contradictory flags, bad store path, repeated flag
    for args in (
        [sf, "--index", store, "--stemmed"],
        [sf, "--index", str(tmp_path / "nope")],
        [sf, "--index", store, "--index", store],
    ):
        out = io.StringIO()
        assert repl.main(args, out=out) == 2, args
        assert out.getvalue().startswith("!")


def test_repl_index_serving_survives_a_fresh_process(spark, tmp_path):
    """The --index contract end-to-end across PROCESS boundaries: build
    the store in this session, then serve it from a brand-new Python
    interpreter + SparkSession via the real CLI (`python -m ...repl`).
    Proves the store layout alone carries the serving contract — no
    catalog state, no session memos — the way a real deployment would
    build once and serve from many fresh sessions."""
    import os
    import re
    import subprocess
    import sys

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.index_store import (
        build_index,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.search import (
        search,
    )

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "xproc_index")
    build_index(spark, sf, store, name="r12_xproc_build")
    want = sorted(search(spark, sf, "spark join").collect(), key=lambda r: r.rank)
    proc = subprocess.run(
        [sys.executable, "-m",
         "simple_mapreduce_search_engine_information_retrieval__spark.repl",
         sf, "--index", store],
        input="spark join\n\n",
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    # no line anchor: the prompt prints without a trailing newline, so
    # the rank-1 hit shares its line with the prompt text (the same
    # quirk test_repl_tokenize handles with an index() slice)
    got = {
        (int(m.group(1)), int(m.group(2)), m.group(3))
        for m in re.finditer(
            r"(\d+)\. doc (\d+)\s+score (\d+\.\d{6})", proc.stdout
        )
    }
    assert got == {
        (r.rank, r.docno, f"{r.score:.6f}") for r in want
    }, proc.stdout[-1500:]
