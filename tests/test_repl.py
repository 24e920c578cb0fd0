"""REPL loop behavior (reference IntDocVectorsForwardIndex.java:243-322):
docid display via the J3 mapping join, the 3+-word guard (warn, don't
terminate — documented P4 divergence), and scriptable stdin driving."""

from __future__ import annotations

import io

from simple_mapreduce_search_engine_information_retrieval__spark import repl


def test_repl_session(spark, monkeypatch):
    monkeypatch.setattr(
        "sys.stdin", io.StringIO("spark join\nthe spark is very fast\n\n")
    )
    out = io.StringIO()
    rc = repl.main(["/root/testdata/sf0.001"], out=out)
    assert rc == 0
    text = out.getvalue()
    # hits display rank, docno AND the J3 docid join
    assert " 1. doc " in text and "[" in text
    # 3+-word query warns but the loop continues (two prompts after it)
    assert "reference REPL constraint" in text
    assert text.count("blank to quit") == 3


def test_repl_tokenize_serves_ids_from_either_sidecar(spark, tmp_path, monkeypatch):
    """`:tokenize` (round 11) encodes a line under the LOADED sidecar —
    both formats auto-detected, both yielding the SAME ids — and the
    driver-side replay is exact: the printed ids reproduce the engine's
    own distributed encode of the same text under the same imported
    artifact (n_ids, sum_ids AND the md5 ids_hash)."""
    import ast
    import hashlib

    from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
        bpe,
    )

    store = str(tmp_path / "store")
    bpe.write_bpe_store(spark, "/root/testdata/sf0.001", store)
    priv = bpe.export_bpe_json(spark, store, str(tmp_path / "tok.json"))
    hf = bpe.export_bpe_json_hf(spark, store, str(tmp_path / "tok_hf.json"))
    text = "the spark engine joins 2 tables, it's fast"
    printed = []
    for sidecar in (priv, hf):
        monkeypatch.setattr("sys.stdin", io.StringIO(f":tokenize {text}\n\n"))
        out = io.StringIO()
        rc = repl.main(
            ["/root/testdata/sf0.001", "--tokenizer", sidecar], out=out
        )
        assert rc == 0
        # the prompt prints without a trailing newline, so the ids land
        # on the same line — slice from the marker
        ln = next(
            ln for ln in out.getvalue().splitlines() if "ids (" in ln
        )
        printed.append(ln[ln.index("ids (") :])
    assert printed[0] == printed[1]  # format-independent serving
    ids = ast.literal_eval(printed[0].split(":", 1)[1].strip())
    assert ids and all(isinstance(i, int) for i in ids)
    # engine cross-check: the same text, encoded distributed under the
    # same imported artifact, must agree exactly
    merges, id_pairs = bpe.import_bpe_json(priv)
    docs = spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")
    pieces = bpe._pieces_of(docs)
    es = bpe._merged_symbolization(pieces, merges)
    pe = bpe._piece_encoding(es, id_pairs, unk=bpe.UNK_ID)
    row = bpe._assemble_docs(pieces, pe).collect()[0]
    assert row["n_ids"] == len(ids) and row["sum_ids"] == sum(ids)
    assert (
        row["ids_hash"]
        == hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()
    )
    # without a sidecar the command hints instead of crashing
    monkeypatch.setattr("sys.stdin", io.StringIO(":tokenize x\n\n"))
    out = io.StringIO()
    assert repl.main(["/root/testdata/sf0.001"], out=out) == 0
    assert "no sidecar loaded" in out.getvalue()
    # a trailing --tokenizer with no path, a flag where the path should
    # be, and a missing file are all usage errors, not tracebacks (r11
    # review, both passes)
    for args in (
        ["/root/testdata/sf0.001", "--tokenizer"],
        ["--tokenizer", "--stemmed", "/root/testdata/sf0.001"],
        ["/root/testdata/sf0.001", "--tokenizer", str(tmp_path / "nope.json")],
    ):
        out = io.StringIO()
        assert repl.main(args, out=out) == 2
        assert out.getvalue().startswith("!")
    # the command match is by exact first WORD: ':tokenizer hello' must
    # NOT silently encode 'r hello' (r11 review) — it runs as an
    # ordinary 2-word search line instead — while the tab-separated
    # ':tokenize\thello' IS the command (review pass 2: an exact
    # ':tokenize ' prefix missed it and silently searched)
    monkeypatch.setattr("sys.stdin", io.StringIO(":tokenizer x\n\n"))
    out = io.StringIO()
    assert repl.main(
        ["/root/testdata/sf0.001", "--tokenizer", priv], out=out
    ) == 0
    assert "ids (" not in out.getvalue()
    monkeypatch.setattr("sys.stdin", io.StringIO(":tokenize\t" + text + "\n\n"))
    out = io.StringIO()
    assert repl.main(
        ["/root/testdata/sf0.001", "--tokenizer", priv], out=out
    ) == 0
    tabbed = next(
        ln for ln in out.getvalue().splitlines() if "ids (" in ln
    )
    assert tabbed[tabbed.index("ids (") :] == printed[0]


def test_cli_search_and_docnos(spark, tmp_path, capsys=None):
    import io

    from simple_mapreduce_search_engine_information_retrieval__spark.__main__ import (
        main,
    )

    buf = io.StringIO()
    rc = main(
        ["search", "spark join", "--sf-dir", "/root/testdata/sf0.001"], out=buf
    )
    assert rc == 0
    lines = [l for l in buf.getvalue().splitlines() if l and l != "(no hits)"]
    for ln in lines:
        rank, docno, score = ln.split("\t")
        assert int(rank) >= 1 and float(score) == float(score)

    buf = io.StringIO()
    out_dir = str(tmp_path / "docnos")
    rc = main(["docnos", "--sf-dir", "/root/testdata/sf0.001", "--out", out_dir], out=buf)
    assert rc == 0 and "docno mappings" in buf.getvalue()
    back = spark.read.option("sep", "\t").csv(out_dir)
    assert back.count() > 0


def test_cli_index_roundtrip(spark, tmp_path):
    import io

    from simple_mapreduce_search_engine_information_retrieval__spark.__main__ import (
        main,
    )

    buf = io.StringIO()
    rc = main(
        [
            "index", "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "ix"), "--k", "1",
        ],
        out=buf,
    )
    assert rc == 0 and "postings rows" in buf.getvalue()
