"""Round-14 addition: the non-trivially seeded byte-level import
roundtrip (r13 verdict #4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans import bpe

SF = "/root/testdata/sf0.001"


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
