"""Round-13 fixes: the HF exporter's lone-surrogate refuse, the
artifact-in-hand export and byte-level import roundtrips, the IVF
store's pruned scan and the REPL's term-lookup usage errors."""

from __future__ import annotations

import os

import pytest

from simple_mapreduce_search_engine_information_retrieval__spark.plans import bpe

SF = "/root/testdata/sf0.001"


def test_hf_sym_lone_surrogate_raises_valueerror():
    """r12 ADVICE (low, bpe.py): a symbol containing a lone surrogate is
    not UTF-8-encodable — str.encode used to traceback with
    UnicodeEncodeError before the table lookup; the adapter's advertised
    refuse type is ValueError, naming the symbol."""
    with pytest.raises(ValueError, match="not UTF-8-encodable"):
        bpe._hf_sym("a\ud800b")
    # the well-formed path is unchanged
    assert bpe._hf_sym(" s") == "Ġs"


def test_export_from_in_hand_artifact_is_byte_identical(spark, tmp_path):
    """Verdict r12 #4: the sidecar roundtrips now export from the
    in-hand (merges, vocab) relations instead of re-reading the store
    they just wrote. The rendered bytes must be identical either way,
    for BOTH adapters — otherwise the trim would silently change the
    shipped artifact."""
    store = str(tmp_path / "store")
    bpe.write_bpe_store(spark, SF, store)
    artifact = bpe._read_store_artifact(spark, store)
    for exporter, fname in (
        (bpe.export_bpe_json, "priv"),
        (bpe.export_bpe_json_hf, "hf"),
    ):
        from_store = exporter(spark, store, str(tmp_path / f"{fname}_a.json"))
        in_hand = exporter(
            spark, store, str(tmp_path / f"{fname}_b.json"), artifact=artifact
        )
        with open(from_store, "rb") as fa, open(in_hand, "rb") as fb:
            assert fa.read() == fb.read()


def test_sidecar_roundtrip_writes_artifact_relations(spark):
    """The trimmed composition still persists the exporter's input
    relations (merges/ + vocab/) — what a serving stack would load —
    while the corpus-sized encoded/ partition is deliberately NOT
    written here (that is text_bpe_store_roundtrip's claim)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.sinks_sources import (
        _out_path,
    )

    bpe.QUERIES["text_bpe_export_hf_roundtrip"].fn(spark, SF).count()
    store = os.path.join(_out_path("bpe_export_hf", SF), "store")
    assert os.path.isdir(os.path.join(store, "merges"))
    assert os.path.isdir(os.path.join(store, "vocab"))
    assert not os.path.exists(os.path.join(store, "encoded"))
    # and the persisted artifact equals the in-hand one the export used
    merges, vocab = bpe._read_store_artifact(spark, store)
    assert merges == bpe.learned_merges(spark, SF)
    assert [s for _i, s in vocab] == bpe._corpus_encoding(spark, SF)[0]


def _naive_bytelevel_encode(text, merges, ids_by_sym):
    """Independent pure-Python oracle for the byte-level encode: the
    engine's piece regex, per-byte symbolization, greedy in-rank merge
    replay (full pass per rank — the slow, obviously-correct form)."""
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
        syms = list(piece.encode("utf-8").decode("latin-1"))
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


def test_bytelevel_import_roundtrips_an_oracled_encode(spark, tmp_path):
    """Verdict r12 #3 'Done' condition: a real GPT-2-shaped
    tokenizer.json — byte-level merges including a split multibyte run
    and a lone continuation-byte token — imports (byte_level=True) and
    serves an encode that matches an independent naive replay, on text
    that includes genuine multibyte characters (so the byte expansion
    is NOT the identity here)."""
    import json

    # symbols: ' é' learned as a merge of 'Ġ'+'Ã©'... build in RENDERED
    # space directly, the way a real byte-level artifact ships: bytes
    # 0x20 0xC3 0xA9 render as 'Ġ', 'Ã', '©'
    r = bpe._HF_BYTE_TO_CHAR
    sp, c3, a9 = r[0x20], r[0xC3], r[0xA9]
    doc = {
        "version": "1.0",
        "model": {
            "type": "BPE",
            "unk_token": None,
            # vocab: single bytes + the merged run; 0xA9 ALONE is a
            # lone continuation byte — undecodable as characters
            "vocab": {
                "c": 0, "a": 1, "f": 2, "e": 3, sp: 4, c3: 5, a9: 6,
                c3 + a9: 7, sp + c3 + a9: 8, "ca": 9,
            },
            "merges": [f"{c3} {a9}", f"{sp} {c3}{a9}", "c a"],
        },
    }
    p = tmp_path / "gpt2_shaped.json"
    p.write_text(json.dumps(doc, ensure_ascii=False), encoding="utf-8")
    imp = bpe.import_bpe_json_hf(str(p))
    assert imp.byte_level
    merges, id_pairs = imp
    # the merged run back-maps to the two bytes of 'é' (latin-1 chars)
    assert ("\xc3\xa9", 7) in id_pairs and ("\xa9", 6) in id_pairs

    text = "cafe café é"  # 'café' has a genuine multibyte char
    ids_by_sym = dict(id_pairs)
    expected = _naive_bytelevel_encode(text, merges, ids_by_sym)
    assert 8 in expected  # ' é' merged via the byte-level merges

    # distributed encode under the imported artifact: byte expansion
    # (hf_byte_faithful_col) ahead of the standard merge replay
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    pieces = bpe._pieces_of(docs).withColumn(
        "piece", bpe.hf_byte_faithful_col(F.col("piece"))
    )
    es = bpe._merged_symbolization(pieces, merges)
    pe = bpe._piece_encoding(es, id_pairs, unk=bpe.UNK_ID)
    rows = (
        pieces.join(pe, "piece")
        .select("pos", F.split("csv", ",").alias("ids"))
        .orderBy("pos")
        .collect()
    )
    got = [int(x) for r_ in rows for x in r_.ids]
    assert got == expected

    # the REPL's driver-side replay agrees too (byte_level plumbed)
    from simple_mapreduce_search_engine_information_retrieval__spark import repl

    assert repl._encode_text(text, merges, ids_by_sym, True) == expected


def test_bytelevel_registry_query_green_at_sf0001(spark):
    """The driver-facing byte-level roundtrip query passes its own
    oracle at the smallest fixture (tri-scale sweep runs separately)."""
    from simple_mapreduce_search_engine_information_retrieval__spark import (
        oracle,
    )

    issues = oracle.check_query(
        spark, SF, "text_bpe_import_bytelevel",
        bpe.QUERIES["text_bpe_import_bytelevel"],
    )
    assert not issues, issues


def test_ivf_store_serving_scan_is_partition_pruned(spark, tmp_path):
    """The store-served ANN query's scan must read only the probed
    cells' partitions — the PartitionFilters line carries the static
    cell IN-list, and with_cell returns the partition value cast long."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        QUERY_VEC_ID,
        _query_vec,
        query_ivf_store,
        write_ivf_store,
    )

    out = str(tmp_path / "ivf")
    write_ivf_store(spark, SF, out)
    df = query_ivf_store(
        spark, out, _query_vec(spark, SF), with_cell=True
    )
    assert [f.name for f in df.schema.fields] == ["vec_id", "cell", "cos"]
    assert dict(df.dtypes)["cell"] == "bigint"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pruned = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in pruned  # the probe IN-list prunes cell= directories
    assert len(df.collect()) > 0


def test_repl_term_lookup_usage_errors(spark, monkeypatch):
    """:wildcard/:fuzzy without --index hint instead of crashing, and
    the loop continues."""
    import io

    from simple_mapreduce_search_engine_information_retrieval__spark import (
        repl,
    )

    monkeypatch.setattr("sys.stdin", io.StringIO(":wildcard sp*\n:fuzzy x\n\n"))
    out = io.StringIO()
    assert repl.main([SF], out=out) == 0
    text = out.getvalue()
    assert text.count("serves from the index store") == 2
    assert text.count("blank to quit") == 3
