"""Round-8 extension op beyond the oracle gate: intra-doc repetition
scrub (Python ground-truth replay + invariants). The round's tokenizer
fertility test lives in tests/test_bpe.py."""

from __future__ import annotations

import hashlib

from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
    textstats,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.corpus import (
    tokenized_docs,
)

SF = "/root/testdata/sf0.001"


def _py_scrub(toks: list[str], n: int) -> list[str]:
    """First-occurrence-wins repeated-n-gram span removal, independent
    of the query's set algebra: walk every gram occurrence, mark the
    spans of non-first occurrences, keep uncovered positions."""
    first: dict[tuple, int] = {}
    dropped: set[int] = set()
    grams = [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    for i, g in enumerate(grams):
        if g not in first:
            first[g] = i
        elif i > first[g]:
            dropped.update(range(i, i + n))
    return [t for i, t in enumerate(toks) if i not in dropped]


def test_repetition_scrub_matches_python_replay(spark):
    docs = {
        r["doc_id"]: list(r["toks"])
        for r in tokenized_docs(spark, SF).select("doc_id", "toks").collect()
    }
    # replicate the seeded copy-paste tail (see textstats.SCRUB_SEED_MOD)
    for doc_id, toks in docs.items():
        if (
            doc_id % textstats.SCRUB_SEED_MOD == 0
            and len(toks) >= textstats.SCRUB_SEED_LEN
        ):
            docs[doc_id] = toks + toks[: textstats.SCRUB_SEED_LEN]
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["kept_hash"])
        for r in textstats.repetition_scrub(spark, SF).collect()
    }
    assert set(got) == set(docs)
    any_scrubbed = False
    for doc_id, toks in docs.items():
        kept = _py_scrub(toks, textstats.SCRUB_N)
        want_hash = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[doc_id] == (len(toks), len(kept), want_hash), doc_id
        if len(kept) < len(toks):
            any_scrubbed = True
        # short docs pass through whole
        if len(toks) < textstats.SCRUB_N:
            assert len(kept) == len(toks)
    # the raw fixture prose has NO repeated 5-grams (why the seeded
    # copy-paste tails exist — see textstats.SCRUB_SEED_MOD); the
    # seeding must make the scrub arm do real work, not vacuously pass
    assert any_scrubbed
