"""The BPE tokenizer family beyond the oracle parity gate: the merge
table must equal a from-first-principles Python BPE reference
(independent of the SEP-wrap replace trick BOTH engine renderings
share), encoding must round-trip (decode(encode(piece)) == piece for
every distinct corpus piece), and the durable store, the private and
`tokenizers`-format sidecars, the byte-level import and the fertility
dashboard keep their contracts."""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
    bpe,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.textstats import (
    BPE_PATTERN,
)
from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
    table,
)

SF = "/root/testdata/sf0.001"


def _python_reference_merges(pieces: Counter, n_merges: int) -> list[tuple]:
    """Plain-Python BPE (Sennrich 2016): per-iteration weighted adjacent
    pair counts over the piece vocabulary, argmax with (count DESC,
    lhs, rhs) tiebreak, greedy left-to-right one-pass application."""
    vocab = {p: (list(p), c) for p, c in pieces.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for syms, c in vocab.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += c
        assert counts, f"pair supply exhausted at merge {rank}"
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (lhs, rhs), n = best
        merges.append((rank, lhs, rhs, n))
        for piece, (syms, c) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[piece] = (out, c)
    return merges


@pytest.fixture(scope="module")
def corpus_pieces() -> Counter:
    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    pat = re.compile(BPE_PATTERN)
    counts: Counter = Counter()
    for text in docs["text"]:
        # findall would return the capture GROUP (empty for
        # non-contraction pieces) — group(0) is the whole match
        for m in pat.finditer(text.lower()):
            piece = m.group(0)
            if bpe.SEP not in piece:
                counts[piece] += 1
    return counts


def test_merges_match_python_reference(spark, corpus_pieces):
    expected = _python_reference_merges(corpus_pieces, bpe.N_MERGES)
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["n_occ"])
        for r in bpe.bpe_merges(spark, SF).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_merge_counts_nonincreasing(spark):
    """A merge's product pairs inherit occurrences from strictly fewer
    sites than the chosen max, so the chosen count can never rise."""
    ns = [
        r["n_occ"]
        for r in bpe.bpe_merges(spark, SF).orderBy("merge_rank").collect()
    ]
    assert len(ns) == bpe.N_MERGES
    assert all(a >= b for a, b in zip(ns, ns[1:]))
    assert all(n > 0 for n in ns)


def test_tokenize_roundtrip_and_bounded_vocab(spark, corpus_pieces):
    """decode(encode(piece)) == piece for EVERY distinct corpus piece,
    via the same (symbols -> sorted ids) assignment the query uses; and
    the symbol vocabulary is bounded by alphabet + N_MERGES."""
    merges = bpe.learned_merges(spark, SF)
    # replay encoding in Python with the learned merges
    enc = {}
    for piece in corpus_pieces:
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
        enc[piece] = syms
    symbols = sorted({s for syms in enc.values() for s in syms})
    alphabet = {c for piece in corpus_pieces for c in piece}
    assert len(symbols) <= len(alphabet) + bpe.N_MERGES
    ids = {s: i for i, s in enumerate(symbols)}
    rev = {i: s for s, i in ids.items()}
    for piece, syms in enc.items():
        decoded = "".join(rev[ids[s]] for s in syms)
        assert decoded == piece


def test_doc_hash_matches_python_replay(spark, corpus_pieces):
    """End-to-end: one doc's ids_hash equals a full Python replay
    (pre-tokenize -> merge-apply -> id-assign -> csv -> md5)."""
    import hashlib

    merges = bpe.learned_merges(spark, SF)
    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).head(5)
    pat = re.compile(BPE_PATTERN)

    def encode_piece(piece, memo={}):
        if piece not in memo:
            syms = list(piece)
            for _rank, lhs, rhs, _n in merges:
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == lhs
                        and syms[i + 1] == rhs
                    ):
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[piece] = syms
        return memo[piece]

    all_syms = sorted(
        {
            s
            for p in corpus_pieces
            for s in encode_piece(p)
        }
    )
    ids = {s: i for i, s in enumerate(all_syms)}
    got = {
        r["doc_id"]: (r["n_ids"], r["sum_ids"], r["ids_hash"])
        for r in bpe.tokenize_ids(spark, SF)
        .filter("doc_id in (%s)" % ",".join(str(d) for d in docs["doc_id"]))
        .collect()
    }
    for _, row in docs.iterrows():
        seq = [
            ids[s]
            for m in pat.finditer(row["text"].lower())
            if bpe.SEP not in m.group(0)
            for s in encode_piece(m.group(0))
        ]
        csv = ",".join(str(i) for i in seq)
        want = (
            len(seq),
            sum(seq),
            hashlib.md5(csv.encode()).hexdigest(),
        )
        assert got[int(row["doc_id"])] == want


def test_hostile_corpus_cross_engine(spark, tmp_path):
    """Crafted corpus with the divergence hazards the fixture lacks:
    contractions, digit and punctuation runs, a literal SEP byte (the
    framing guard must drop that piece in BOTH engines), Unicode line
    terminators U+2028/U+0085 (not \\s in Java or RE2 -- they land in
    punct pieces; the (?s) wrap must frame them identically), a
    vertical tab \\x0b (Java \\s contains it, RE2's does not -- the
    explicit whitespace class in BPE_PATTERN must make both engines
    read it as a piece SEPARATOR, r8 ADVICE), em-dash, quotes,
    repeated whitespace. Both BPE queries must match their DuckDB
    oracles on this corpus."""
    import duckdb
    import pandas as pd

    from simple_mapreduce_search_engine_information_retrieval__spark import (
        caches,
        oracle,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.bpe import (
        QUERIES,
    )

    texts = [
        "it's the engine's test \u2014 really, REALLY!! 123 456 tokens...",
        "line one\u2028line two\u0085line three   spaced    out",
        "vertical\x0btab splits\x0bpieces like a space, not punct!",
        "bad\x1fbyte piece must drop identically; ok piece stays",
        "repeat me repeat me repeat me 'til the merges learn it",
        'quotes "inside" and commas, plus 9,001 numbers and #tags!!',
        "the the the the an an an of of to to to in in is is it's",
    ] * 4  # enough mass that 16 merges never exhaust the pair supply
    sf_dir = str(tmp_path / "hostile")
    (tmp_path / "hostile").mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["seed"] * len(texts),
        }
    ).to_parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.textstats import (
        QUERIES as TEXT_QUERIES,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.trec_parse import (
        QUERIES as TREC_QUERIES,
    )

    try:
        for name, spec in (
            ("text_bpe_merges", QUERIES["text_bpe_merges"]),
            ("text_tokenize_ids", QUERIES["text_tokenize_ids"]),
            # the frozen-encode path (base-learned merges, LEFT-JOIN/UNK
            # vocab) must survive the same hostile input
            (
                "text_tokenize_ids_incremental",
                QUERIES["text_tokenize_ids_incremental"],
            ),
            # frozen-encode OOV aggregate over the same hostile input
            # (the *4 repetition puts every delta text in the base too,
            # so the UNKs here are exactly the seeded chars — natural
            # char-level OOV is pinned by
            # test_frozen_vocab_oov_encodes_as_unk instead)
            ("text_tokenizer_oov_rate", QUERIES["text_tokenizer_oov_rate"]),
            # r9 review sweep: the OTHER dual-rendered whitespace
            # classes (ws-token split, TREC edge trim, DOCHDR \S) must
            # read the VT row identically too
            ("text_token_counts", TEXT_QUERIES["text_token_counts"]),
            ("trec_text_parsed", TREC_QUERIES["trec_text_parsed"]),
            ("trec_web_urls", TREC_QUERIES["trec_web_urls"]),
        ):
            issues = oracle.compare(spec.fn(spark, sf_dir), con, spec.oracle)
            assert not issues, (name, issues)
    finally:
        con.close()
        caches.evict(sf_dir)


# --- durable tokenizer store (round 9) -------------------------------------


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_ids"], r["sum_ids"], r["ids_hash"])
        for r in df.collect()
    )


def test_store_roundtrip_serves_session_encode(spark, tmp_path):
    """write_bpe_store(full corpus) read back == the in-session encode,
    row for row — and the persisted merge table equals the learned one."""
    out = str(tmp_path / "store")
    bpe.write_bpe_store(spark, SF, out)
    assert _rows(bpe.read_bpe_store(spark, out)) == _rows(
        bpe.tokenize_ids(spark, SF)
    )
    assert bpe.read_bpe_merges(spark, out) == bpe.learned_merges(spark, SF)


def test_incremental_append_matches_one_shot_and_replays(spark, tmp_path):
    """The maintenance contract: base build + delta appends (in two
    batches, one REPLAYED) equals the one-shot frozen encode of the
    whole corpus — the kill-resume discipline for the tokenizer store."""
    import pyspark.sql.functions as F

    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    docs = table(spark, SF, "documents")
    mod = bpe.DOC_DELTA_MOD
    base_where = F.col("doc_id") % mod != 0

    # one-shot under the SAME frozen artifact: base-built store, whole
    # corpus appended as a single batch over a fresh store
    ref = str(tmp_path / "oneshot")
    bpe.write_bpe_store(spark, SF, ref, where=base_where)
    bpe.append_bpe_store(
        spark, docs.filter(F.col("doc_id") % mod == 0), ref, batch_id=1
    )
    want = _rows(bpe.read_bpe_store(spark, ref))

    # incremental: two delta batches, the second one replayed
    out = str(tmp_path / "store")
    bpe.write_bpe_store(spark, SF, out, where=base_where)
    b1 = docs.filter((F.col("doc_id") % mod == 0) & (F.col("doc_id") % 20 == 0))
    b2 = docs.filter((F.col("doc_id") % mod == 0) & (F.col("doc_id") % 20 != 0))
    bpe.append_bpe_store(spark, b1, out, batch_id=1)
    bpe.append_bpe_store(spark, b2, out, batch_id=2)
    bpe.append_bpe_store(spark, b2, out, batch_id=2)  # "crash" replay
    assert _rows(bpe.read_bpe_store(spark, out)) == want

    with pytest.raises(ValueError):
        bpe.append_bpe_store(spark, b1, out, batch_id=0)


def test_append_never_rewrites_base_partition(spark, tmp_path):
    """The O(increment) claim made physical: appending a delta batch
    must leave every ingest=0 file byte-identical (same path, size,
    mtime) — dynamic partition overwrite only touches the batch's own
    ingest partition."""
    import os

    import pyspark.sql.functions as F

    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    out = str(tmp_path / "store")
    mod = bpe.DOC_DELTA_MOD
    bpe.write_bpe_store(
        spark, SF, out, where=F.col("doc_id") % mod != 0
    )

    import hashlib

    def snapshot(root):
        entries = {}
        for d, _dirs, files in os.walk(root):
            for f in files:
                path = os.path.join(d, f)
                st = os.stat(path)
                with open(path, "rb") as fh:
                    digest = hashlib.md5(fh.read()).hexdigest()
                entries[path] = (st.st_mtime_ns, st.st_size, digest)
        return entries

    base_dir = f"{out}/encoded/ingest=0"
    before = snapshot(base_dir)
    delta = table(spark, SF, "documents").filter(F.col("doc_id") % mod == 0)
    bpe.append_bpe_store(spark, delta, out, batch_id=1)
    assert snapshot(base_dir) == before
    assert os.path.isdir(f"{out}/encoded/ingest=1")


def test_oov_rate_counts_exactly_one_unk_per_delta_doc(spark):
    """The seeding contract: the fixture is ASCII and the base alphabet
    covers the delta, so the ONLY UNKs are the seeded OOV chars — one
    per delta doc, attributed to exactly the delta docs' sources."""
    got = {
        r["source"]: (r["total_ids"], r["n_unk"], r["unk_ppm"])
        for r in bpe.tokenizer_oov_rate(spark, SF).collect()
    }
    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "source"]
    )
    delta_per_source = (
        docs[docs.doc_id % bpe.DOC_DELTA_MOD == 0].groupby("source").size()
    )
    for source, (total_ids, n_unk, unk_ppm) in got.items():
        want_unk = int(delta_per_source.get(source, 0))
        assert n_unk == want_unk, source
        assert (unk_ppm > 0) == (want_unk > 0)
        assert total_ids > 0
    assert sum(u for _t, u, _p in got.values()) == int(delta_per_source.sum())


def test_strict_encode_raises_on_vocab_gap(spark):
    """The build path's unk=None lookup must fail LOUDLY on a symbol
    missing from the map (r9 review): element_at's NULL would otherwise
    be silently dropped by array_join and skipped by the sums — a
    plausible-looking but corrupt csv/ids_hash."""
    es = spark.createDataFrame(
        [("ab", ["a", "b"])], "piece STRING, syms ARRAY<STRING>"
    )
    pe = bpe._piece_encoding(es, [("a", 0)])  # 'b' deliberately absent
    with pytest.raises(Exception) as ei:
        pe.collect()
    assert "symbol outside vocab" in str(ei.value)


def test_frozen_vocab_oov_encodes_as_unk(spark, tmp_path):
    """A delta symbol absent from the frozen vocab encodes as UNK_ID in
    BOTH renderings: base corpus is letters-only, the delta doc is a
    digit run no base merge or symbol covers."""
    import hashlib

    import pandas as pd

    base_texts = [
        "repeat me repeat me repeat me 'til the merges learn it",
        "the quick brown fox jumps over the lazy dog again and again",
        "it's the engine's test and the engine keeps on testing it",
        "merge pairs merge pairs merge pairs until supply runs dry",
    ] * 8  # enough pair mass that 16 merges never exhaust
    texts = base_texts + ["999"]
    sf_dir = str(tmp_path / "oov")
    (tmp_path / "oov").mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["seed"] * len(texts),
        }
    ).to_parquet(f"{sf_dir}/documents.parquet")
    delta_id = len(texts) - 1

    import pyspark.sql.functions as F

    from simple_mapreduce_search_engine_information_retrieval__spark import (
        caches,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    out = str(tmp_path / "store")
    try:
        bpe.write_bpe_store(
            spark, sf_dir, out, where=F.col("doc_id") != delta_id
        )
        vocab = {
            r["sym"]
            for r in spark.read.parquet(f"{out}/vocab").collect()
        }
        assert "9" not in vocab  # the OOV premise holds
        delta = table(spark, sf_dir, "documents").filter(
            F.col("doc_id") == delta_id
        )
        bpe.append_bpe_store(spark, delta, out, batch_id=1)
        row = (
            bpe.read_bpe_store(spark, out)
            .filter(F.col("doc_id") == delta_id)
            .head()
        )
        # "999" is one piece -> syms ['9','9','9'], every id UNK_ID
        assert row["n_ids"] == 3
        assert row["sum_ids"] == 3 * bpe.UNK_ID
        csv = ",".join(str(bpe.UNK_ID) for _ in range(3))
        assert row["ids_hash"] == hashlib.md5(csv.encode()).hexdigest()
    finally:
        caches.evict(sf_dir)


# --- sidecar interchange + store UNK monitor (round 10) ---------------------


def test_sidecar_export_is_byte_stable_and_lossless(spark, tmp_path):
    """Two exports of the same store are byte-identical (the artifact a
    serving stack pins by checksum), the rendering is pure ASCII, and
    import returns exactly the store's merges (rank order, counts
    dropped to the zero-filled diagnostic slot) and vocab (id order)."""
    out = str(tmp_path / "store")
    bpe.write_bpe_store(spark, SF, out)
    p1 = bpe.export_bpe_json(spark, out, str(tmp_path / "a" / "tokenizer.json"))
    p2 = bpe.export_bpe_json(spark, out, str(tmp_path / "b" / "tokenizer.json"))
    with open(p1, "rb") as fh:
        b1 = fh.read()
    with open(p2, "rb") as fh:
        b2 = fh.read()
    assert b1 == b2
    b1.decode("ascii")  # raises on any non-ASCII byte
    merges, id_pairs = bpe.import_bpe_json(p1)
    assert merges == [
        (rank, lhs, rhs, 0)
        for rank, lhs, rhs, _n in bpe.read_bpe_merges(spark, out)
    ]
    vocab_rows = sorted(
        (int(r["id"]), r["sym"])
        for r in spark.read.parquet(f"{out}/vocab").collect()
    )
    assert id_pairs == [(sym, i) for i, sym in vocab_rows]


def test_sidecar_import_rejects_foreign_files(tmp_path):
    """EVERY malformed shape fails with the advertised ValueError (r10
    review: a non-dict top level or a header-only file used to escape
    as AttributeError/KeyError), and a bare-filename export target
    works (os.makedirs('') used to blow up before the write)."""
    bad = [
        '{"format":"other-tokenizer","version":1}',  # wrong format
        "[1,2,3]",  # non-dict top level
        '{"format":"bpe-tokenizer","version":1}',  # header only
        '{"format":"bpe-tokenizer","version":1,"merges":[]}',  # no vocab
        '{"format":"bpe-tokenizer","version":1,"merges":{},"vocab":[]}',
        # element-level malformation (r10 review pass 2: these used to
        # escape as TypeError from the unpack)
        '{"format":"bpe-tokenizer","version":1,"merges":[5],"vocab":[]}',
        '{"format":"bpe-tokenizer","version":1,"merges":[["a"]],"vocab":[]}',
        '{"format":"bpe-tokenizer","version":1,"merges":[["a",1]],"vocab":[]}',
        '{"format":"bpe-tokenizer","version":1,"merges":[],"vocab":[5]}',
        '{"format":"bpe-tokenizer","version":1,"merges":[],"vocab":[["a","b"]]}',
        '{"format":"bpe-tokenizer","version":1,"merges":[],"vocab":[["a",1.5]]}',
    ]
    for i, text in enumerate(bad):
        p = tmp_path / f"bad{i}.json"
        p.write_text(text)
        with pytest.raises(ValueError):
            bpe.import_bpe_json(str(p))


def test_sidecar_export_accepts_bare_filename(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "store")
    bpe.write_bpe_store(spark, SF, out)
    monkeypatch.chdir(tmp_path)
    path = bpe.export_bpe_json(spark, out, "tokenizer.json")
    merges, id_pairs = bpe.import_bpe_json(path)
    assert merges and id_pairs


def test_store_unk_by_ingest_contract(spark):
    """The persisted-store OOV monitor's invariants: the strict base
    build carries identically-zero UNK counts at ingest 0, and the
    seeded delta batch at ingest 1 carries exactly one UNK per delta
    doc (the tokenizer_oov_rate seeding contract, now read off disk)."""
    rows = {
        int(r["ingest"]): r
        for r in bpe.bpe_store_unk_by_ingest(spark, SF).collect()
    }
    assert set(rows) == {0, 1}
    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["doc_id"])
    n_delta = int((docs.doc_id % bpe.DOC_DELTA_MOD == 0).sum())
    assert rows[0]["n_unk"] == 0 and rows[0]["unk_ppm"] == 0
    assert rows[1]["n_docs"] == n_delta
    assert rows[1]["n_unk"] == n_delta  # one seeded UNK per delta doc
    assert rows[1]["unk_ppm"] > 0
    assert rows[1]["total_ids"] > rows[1]["n_unk"]


# --- HF `tokenizers`-format sidecar adapter (r10 verdict #3) ---------------


@pytest.fixture(scope="module")
def hf_store(spark, tmp_path_factory):
    """The canon full-corpus store plus its HF sidecar, built once."""
    out = str(tmp_path_factory.mktemp("hf_sidecar"))
    store = os.path.join(out, "store")
    bpe.write_bpe_store(spark, SF, store)
    sidecar = bpe.export_bpe_json_hf(
        spark, store, os.path.join(out, "tokenizer_hf.json")
    )
    return store, sidecar


def test_hf_export_is_byte_stable_and_public_shaped(spark, hf_store):
    """Two exports of the same store are byte-identical, and the
    artifact is the public minimal-model shape: model.type == BPE,
    vocab a sym->id object, merges space-joined two-symbol strings
    with NO residual raw spaces inside symbols (the ByteLevel marker
    replaced them)."""
    store, sidecar = hf_store
    again = bpe.export_bpe_json_hf(spark, store, sidecar + ".2")
    assert open(sidecar, "rb").read() == open(again, "rb").read()
    doc = json.load(open(sidecar))
    assert doc["version"] == bpe.HF_VERSION
    model = doc["model"]
    assert model["type"] == "BPE" and model["unk_token"] is None
    assert all(len(m.split(" ")) == 2 for m in model["merges"])
    # the canon vocabulary is space-bearing by construction (the #1
    # fixture merge is (' ', 's')) — the marker must have fired
    assert any(bpe.HF_SPACE_MARKER in s for s in model["vocab"])
    assert all(" " not in s for s in model["vocab"])


def test_hf_import_roundtrips_the_store_artifact(spark, hf_store):
    """import(export(store)) reproduces the store's merges (modulo the
    dropped n_occ diagnostics) and its exact sym->id vocab — the
    lossless-through-the-public-format contract."""
    store, sidecar = hf_store
    merges, id_pairs = bpe.import_bpe_json_hf(sidecar)
    want = bpe.read_bpe_merges(spark, store)
    assert [(r, l, x) for r, l, x, _n in merges] == [
        (r, l, x) for r, l, x, _n in want
    ]
    vocab_rows = spark.read.parquet(f"{store}/vocab").collect()
    assert dict(id_pairs) == {r["sym"]: int(r["id"]) for r in vocab_rows}
    # and it agrees symbol-for-symbol with the private sidecar's import
    priv = bpe.export_bpe_json(
        spark, store, os.path.join(os.path.dirname(sidecar), "tok_priv.json")
    )
    pm, pv = bpe.import_bpe_json(priv)
    assert pm == merges and dict(pv) == dict(id_pairs)


def test_hf_export_roundtrips_marker_bearing_symbol(spark, tmp_path):
    """The r11 adapter REFUSED a symbol already containing the
    ByteLevel marker (the space-only mapping was non-invertible there);
    under the r12 full byte table a literal 'Ġ' renders as its OWN
    UTF-8 bytes ('Äł'), distinct from a space's rendering, so the
    poisoned store now exports AND imports back losslessly — the refuse
    case is resolved, not just relocated (r11 ADVICE)."""
    out = str(tmp_path / "marker_store")
    marked = "a" + bpe.HF_SPACE_MARKER
    bpe._write_store(
        spark,
        out,
        [(1, "a", bpe.HF_SPACE_MARKER, 7)],
        ["a", bpe.HF_SPACE_MARKER, marked],
        spark.createDataFrame(
            [(1, 1, 0, "x", 0)],
            schema="doc_id BIGINT, n_ids BIGINT, sum_ids BIGINT, "
            "ids_hash STRING, n_unk BIGINT",
        ),
    )
    sidecar = bpe.export_bpe_json_hf(spark, out, str(tmp_path / "t.json"))
    doc = json.load(open(sidecar))
    # the marker char in a SYMBOL renders as its bytes, so the file's
    # vocab carries no bare-marker key that could collide with a space
    assert "Äł" in doc["model"]["vocab"]
    merges, id_pairs = bpe.import_bpe_json_hf(sidecar)
    assert [(lhs, rhs) for _r, lhs, rhs, _n in merges] == [
        ("a", bpe.HF_SPACE_MARKER)
    ]
    assert dict(id_pairs) == {"a": 0, bpe.HF_SPACE_MARKER: 1, marked: 2}


def test_hf_import_accepts_byte_fragments_refuses_alien_chars(tmp_path):
    """INVERTED from the r12 refusal (r12 verdict #3): a byte-level-
    LEARNED vocab (GPT-2's own) carries byte-fragment tokens — e.g. a
    bare 'Ã' rendering the lone continuation byte 0xC3 — that decode to
    no character string. These now import in byte-sequence carriage:
    byte_level=True, every symbol back-mapped per BYTE (latin-1-
    faithful), ASCII symbols unchanged. A char outside the 256-entry
    alphabet (e.g. '€') still refuses — that file is not a ByteLevel
    artifact at all."""
    def write(bad_sym):
        doc = {
            "version": "1.0",
            "model": {
                "type": "BPE",
                "unk_token": None,
                "vocab": {"a": 0, bad_sym: 1},
                "merges": [],
            },
        }
        p = tmp_path / "frag.json"
        p.write_text(json.dumps(doc, ensure_ascii=False), encoding="utf-8")
        return str(p)

    imp = bpe.import_bpe_json_hf(write("Ã"))
    assert imp.byte_level
    merges, id_pairs = imp
    assert merges == []
    # the fragment carries as the single byte 0xC3; 'a' stays 'a'
    assert dict(id_pairs) == {"a": 0, "\xc3": 1}
    with pytest.raises(ValueError, match="alphabet"):
        bpe.import_bpe_json_hf(write("€"))


def test_hf_bytelevel_table_is_the_public_one():
    """Spot-pin the GPT-2 table rows the ADVICE named: space->Ġ,
    newline->Ċ, tab->ĉ, high bytes to the shift block — and the table
    is a 256-entry bijection."""
    t = bpe._HF_BYTE_TO_CHAR
    assert len(t) == 256 and len(set(t.values())) == 256
    assert t[ord(" ")] == "Ġ" == bpe.HF_SPACE_MARKER
    assert t[ord("\n")] == "Ċ" and t[ord("\t")] == "ĉ"
    assert t[ord("a")] == "a" and t[0xE9] == "é"  # identity rows
    assert t[0] == "Ā" and t[0xAD] == "Ń"  # shifted rows (0xAD is last)
    # multibyte character: one rendered char per UTF-8 byte
    assert bpe._hf_sym("é") == "Ã©" and bpe._hf_unsym("Ã©") == "é"


def test_hf_import_reads_real_utf8_artifacts(tmp_path):
    """Genuine `tokenizers` files ship raw multibyte 'Ġ' bytes, NOT \\u
    escapes (r11 review: an ascii read rejected every real public
    artifact with UnicodeDecodeError). A raw-UTF-8 file must import —
    and the single-read auto importer must dispatch both formats."""
    doc = {
        "version": "1.0",
        "model": {
            "type": "BPE",
            "unk_token": None,
            "vocab": {"Ġ": 0, "a": 1, "Ġa": 2},
            "merges": ["Ġ a"],
        },
    }
    p = tmp_path / "real_hf.json"
    raw = json.dumps(doc, ensure_ascii=False).encode("utf-8")
    assert b"\xc4\xa0" in raw  # the marker really is raw multibyte
    p.write_bytes(raw)
    for importer in (bpe.import_bpe_json_hf, bpe.import_bpe_json_auto):
        merges, id_pairs = importer(str(p))
        assert merges == [(1, " ", "a", 0)]
        assert dict(id_pairs) == {" ": 0, "a": 1, " a": 2}
    # and the auto importer dispatches the PRIVATE format too
    priv = {
        "format": bpe.SIDECAR_FORMAT,
        "version": bpe.SIDECAR_VERSION,
        "unk_id": bpe.UNK_ID,
        "merges": [[" ", "a"]],
        "vocab": [[" ", 0], ["a", 1], [" a", 2]],
    }
    q = tmp_path / "priv.json"
    q.write_text(json.dumps(priv))
    assert bpe.import_bpe_json_auto(str(q)) == (merges, id_pairs)


def test_hf_import_validates_shape(tmp_path):
    """Element-level validation, the import_bpe_json discipline: wrong
    model type, a merge that does not split into exactly two symbols,
    a bool id, and a raw-space vocab key (two such keys could back-map
    to ONE symbol — the r11-review collision hazard) must all raise
    the advertised ValueError."""
    good = {
        "version": "1.0",
        "model": {
            "type": "BPE",
            "unk_token": None,
            "vocab": {"a": 0, "b": 1, "ab": 2},
            "merges": ["a b"],
        },
    }

    def write(mutate):
        doc = json.loads(json.dumps(good))
        mutate(doc)
        p = tmp_path / "t.json"
        p.write_text(json.dumps(doc))
        return str(p)

    m, v = bpe.import_bpe_json_hf(write(lambda d: None))
    assert m == [(1, "a", "b", 0)] and dict(v) == {"a": 0, "b": 1, "ab": 2}
    # BOTH public merge renderings import identically (r11 review pass
    # 2: `tokenizers` >= 0.20 writes [lhs, rhs] pairs, not strings —
    # rejecting them failed most freshly-saved real artifacts)
    m2, v2 = bpe.import_bpe_json_hf(
        write(lambda d: d["model"].update(merges=[["a", "b"]]))
    )
    assert (m2, dict(v2)) == (m, dict(v))
    for mutate in (
        lambda d: d["model"].update(type="WordPiece"),
        lambda d: d["model"].update(merges=["a b c"]),
        lambda d: d["model"].update(merges=["ab"]),
        lambda d: d["model"].update(merges=["a  b"]),  # empty mid-symbol
        lambda d: d["model"].update(merges=[["a", "b", "c"]]),
        lambda d: d["model"].update(merges=[["a b", "c"]]),  # raw space
        lambda d: d["model"].update(merges=[["a", 1]]),
        lambda d: d["model"].update(merges=[7]),
        lambda d: d["model"]["vocab"].update(a=True),  # bool id
        lambda d: d["model"]["vocab"].update({" a": 9}),  # raw space
        lambda d: d.pop("model"),
        lambda d: d.update(model=None),  # routes to the HF error, auto too
    ):
        with pytest.raises(ValueError):
            bpe.import_bpe_json_hf(write(mutate))
    # the auto importer gives the HF-format error for a null model,
    # not the private format's (r11 review pass 2 dispatch fix)
    with pytest.raises(ValueError, match="tokenizers"):
        bpe.import_bpe_json_auto(write(lambda d: d.update(model=None)))


def test_private_sidecar_import_rejects_bool_id(tmp_path):
    """r10 ADVICE: ["sym", true] must not validate as id 1 in the
    PRIVATE sidecar importer either."""
    doc = {
        "format": bpe.SIDECAR_FORMAT,
        "version": bpe.SIDECAR_VERSION,
        "unk_id": bpe.UNK_ID,
        "merges": [["a", "b"]],
        "vocab": [["a", 0], ["b", True]],
    }
    p = tmp_path / "t.json"
    p.write_text(json.dumps(doc))
    with pytest.raises(ValueError):
        bpe.import_bpe_json(str(p))


def test_sidecar_import_rejects_duplicate_vocab_entries(tmp_path):
    """A vocab that gives one symbol two ids, or two symbols one id,
    refuses with the advertised ValueError in both formats (and the
    auto importer) — accepted, the REPL's dict lookup kept the last
    entry and the distributed literal map failed at execution."""
    def write(name, doc):
        p = tmp_path / name
        p.write_text(json.dumps(doc))
        return str(p)

    private = {
        "format": bpe.SIDECAR_FORMAT,
        "version": bpe.SIDECAR_VERSION,
        "unk_id": bpe.UNK_ID,
        "merges": [["a", "b"]],
    }
    for vocab in (
        [["ab", 2], ["ab", 3], ["x", 2]],  # both kinds at once
        [["a", 0], ["a", 1]],  # one symbol, two ids
        [["a", 0], ["b", 0]],  # two symbols, one id
    ):
        path = write("priv.json", dict(private, vocab=vocab))
        for importer in (bpe.import_bpe_json, bpe.import_bpe_json_auto):
            with pytest.raises(ValueError, match="two ids"):
                importer(path)
    hf = {
        "version": "1.0",
        "model": {
            "type": "BPE",
            "unk_token": None,
            "vocab": {"a": 0, "b": 0},
            "merges": ["a b"],
        },
    }
    path = write("hf.json", hf)
    for importer in (bpe.import_bpe_json_hf, bpe.import_bpe_json_auto):
        with pytest.raises(ValueError, match="two ids"):
            importer(path)
    # distinct entries still import
    ok = write("ok.json", dict(private, vocab=[["a", 0], ["b", 1]]))
    assert bpe.import_bpe_json(ok)[1] == [("a", 0), ("b", 1)]


# --- in-hand export, sidecar roundtrips, byte-level import (r13-r14) -------


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


def test_bytelevel_seeded_encode_expands_real_multibyte(spark):
    """r13 verdict #4 'Done' condition: the byte-level roundtrip's delta
    docs carry ' '+OOV_SEED ('§', UTF-8 0xC2 0xA7), so their encode
    holds a REAL >=2-byte expansion: exactly 3 extra ids vs the plain
    strict encode (space + the two seed-byte tokens at n+1/n+2), and
    non-delta docs are bit-identical."""
    # The exact +3-ids constant below assumes appending ' '+OOV_SEED
    # never merges into a delta doc's TRAILING piece — true only while
    # no delta doc ends in whitespace (ADVICE r14: a trailing-space
    # fixture doc would fold the appended space into its last
    # whitespace run and change the delta, without breaking
    # engine-vs-oracle parity). Pin that fixture property loudly here.
    assert (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(
            (F.col("doc_id") % bpe.DOC_DELTA_MOD == 0)
            & F.col("text").rlike(r"\s$")
        )
        .count()
        == 0
    ), "delta docs with trailing whitespace invalidate the +3 constant"
    seeded = {
        r["doc_id"]: r
        for r in bpe.QUERIES["text_bpe_import_bytelevel"].fn(spark, SF).collect()
    }
    base = {r["doc_id"]: r for r in bpe.tokenize_ids(spark, SF).collect()}
    symbols, _ = bpe._corpus_encoding(spark, SF)
    space_id = symbols.index(" ")  # pinned: bare space survives merges
    # vocab ids are 0..len(symbols)-1, the 0x80 fragment takes
    # len(symbols), the seed bytes 0xC2/0xA7 take +1 and +2
    nv = len(symbols)
    extra = space_id + (nv + 1) + (nv + 2)
    assert set(seeded) == set(base)
    n_delta = 0
    for doc_id, row in seeded.items():
        b = base[doc_id]
        if doc_id % bpe.DOC_DELTA_MOD == 0:
            n_delta += 1
            assert row["n_ids"] == b["n_ids"] + 3
            assert row["sum_ids"] == b["sum_ids"] + extra
        else:
            assert (row["n_ids"], row["sum_ids"], row["ids_hash"]) == (
                b["n_ids"], b["sum_ids"], b["ids_hash"]
            )
    assert n_delta > 0  # the fixture exercises the seeded arm


# --- fertility dashboard (round 8) ------------------------------------------


def test_tokenizer_fertility_accounting(spark):
    """Per-source totals must re-aggregate the encoder's per-doc rows
    exactly, and the ppm ratio must be the integer floor of the
    division of those totals."""
    enc = {
        r["doc_id"]: r["n_ids"]
        for r in bpe.tokenize_ids(spark, SF).select("doc_id", "n_ids").collect()
    }
    docs = (
        table(spark, SF, "documents")
        .select("doc_id", "source", F.octet_length("text").alias("nb"))
        .collect()
    )
    want: dict[str, list[int]] = {}
    for r in docs:
        if r["doc_id"] in enc:
            agg = want.setdefault(r["source"], [0, 0, 0])
            agg[0] += 1
            agg[1] += r["nb"]
            agg[2] += enc[r["doc_id"]]
    got = {
        r["source"]: (
            r["n_docs"],
            r["total_bytes"],
            r["total_ids"],
            r["bytes_per_id_ppm"],
        )
        for r in bpe.tokenizer_fertility(spark, SF).collect()
    }
    import math

    assert set(got) == set(want)
    for src, (nd, nb, ni) in want.items():
        # the query's divide-first double form, replayed exactly
        ppm = math.floor(nb / ni * 1_000_000.0 + 0.5)
        assert got[src] == (nd, nb, ni, ppm), src
