"""The one MinHash near-dup chain in plans/dedup.py, checked stage by
stage — the banding against its DuckDB rendering, the exact verify
against brute-force Python scores on a hand-built shingle table, and
the raw-text shingling the streaming job uses against the corpus
shingle table the batch paths use — and end to end: the incremental
probe and the streaming store (streaming/jobs.py::incremental_near_dups,
through kills and replays) against the one-shot batch answer."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter
from fractions import Fraction
from itertools import combinations

import pytest
from conftest import physical_plan

from simple_mapreduce_search_engine_information_retrieval__spark.plans import dedup
from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
    JACCARD_THRESHOLD,
    _incr_delta_flag,
    incremental_minhash,
    minhash_near_dups,
)
from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
    table,
)
from simple_mapreduce_search_engine_information_retrieval__spark.streaming.jobs import (
    incremental_near_dups,
)

# doc -> shingle set; the comments give the scores the verify must see
SETS = {
    1: {"x0", "x1", "x2", "x3", "x4", "x5"},
    # vs 1: jaccard 3/10 and containment 3/6 — both exactly at threshold
    2: {"x0", "x1", "x2", "y0", "y1", "y2", "y3"},
    3: {"z0", "z1", "z2", "z3", "z4"},
    # vs 3: jaccard 2/7 (just below 0.3), containment 2/4 (at 0.5)
    4: {"z0", "z1", "w0", "w1"},
    5: {"u0", "u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8"},
    # vs 5: jaccard 4/14, containment 4/9 (just below 0.5)
    6: {"u0", "u1", "u2", "u3", "v0", "v1", "v2", "v3", "v4"},
    # vs 1: jaccard 6/7, containment 1
    7: {"x0", "x1", "x2", "x3", "x4", "x5", "x6"},
}


def _brute(measure: str) -> set:
    threshold = (
        dedup.JACCARD_THRESHOLD if measure == "jaccard" else dedup.CONTAINMENT_THRESHOLD
    )
    out = set()
    for a, b in combinations(sorted(SETS), 2):
        inter = len(SETS[a] & SETS[b])
        if measure == "jaccard":
            score = Fraction(inter, len(SETS[a] | SETS[b]))
        else:
            score = Fraction(inter, min(len(SETS[a]), len(SETS[b])))
        score = round(float(score), 6)
        if score >= threshold:
            out.add((a, b, score))
    return out


@pytest.fixture(scope="module")
def tables(spark):
    sh = spark.createDataFrame(
        [(d, s) for d, ss in SETS.items() for s in sorted(ss)],
        "doc_id long, shingle string",
    )
    cand = spark.createDataFrame(
        list(combinations(sorted(SETS), 2)), "doc_a long, doc_b long"
    )
    return sh, cand


@pytest.mark.parametrize("measure", ["jaccard", "containment"])
def test_verify_matches_brute_force(spark, tables, measure):
    sh, cand = tables
    got = {
        (r.doc_a, r.doc_b, r[measure])
        for r in dedup.verify_pairs(cand, sh, measure).collect()
    }
    assert got == _brute(measure)


def test_verify_threshold_edges(spark, tables):
    sh, cand = tables
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.verify_pairs(cand, sh).collect()}
    assert jac[(1, 2)] == dedup.JACCARD_THRESHOLD  # exactly at: kept
    assert (3, 4) not in jac  # 2/7 just below: dropped
    con = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.verify_pairs(cand, sh, "containment").collect()
    }
    assert con[(1, 2)] == con[(3, 4)] == dedup.CONTAINMENT_THRESHOLD
    assert (5, 6) not in con  # 4/9 just below: dropped


def test_verify_keeps_candidate_column_names(spark, tables):
    sh, cand = tables
    renamed = cand.toDF("new_doc", "base_doc")
    out = dedup.verify_pairs(renamed, sh)
    assert out.columns == ["new_doc", "base_doc", "jaccard"]
    assert {(r.new_doc, r.base_doc) for r in out.collect()} == {
        (a, b) for a, b, _ in _brute("jaccard")
    }


def test_text_shingles_equal_corpus_shingles(spark, sf_dir):
    """The streaming job shingles raw micro-batch text; the batch paths
    shingle the tokenized-corpus cache. Both must give the same table."""
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    streamed = dedup.text_shingles(table(spark, sf_dir, "documents"))
    corpus = dedup._shingles_cached(spark, sf_dir)
    assert streamed.exceptAll(corpus).count() == 0
    assert corpus.exceptAll(streamed).count() == 0


# --- banding ------------------------------------------------------------

# hand-built signatures: doc 12 repeats doc 11's first band only, doc 13
# repeats doc 11 whole
SIGS = [
    (11, "a0", "a1", "a2", "a3", "a4", "a5", "a6", "a7"),
    (12, "a0", "a1", "b2", "b3", "b4", "b5", "b6", "b7"),
    (13, "a0", "a1", "a2", "a3", "a4", "a5", "a6", "a7"),
]


def test_bands_of_equals_duck_bands(spark):
    import duckdb

    hs = [f"h{i}" for i in range(dedup.N_HASHES)]
    sig = spark.createDataFrame(SIGS, ", ".join(["doc_id long"] + [f"{h} string" for h in hs]))
    got = Counter(tuple(r) for r in dedup.bands_of(sig).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE sig AS SELECT * FROM (VALUES "
        + ", ".join(str(row) for row in SIGS)
        + f") t(doc_id, {', '.join(hs)})"
    )
    want = Counter(con.execute(dedup._duck_bands_of("sig")).fetchall())
    assert got == want
    assert Counter(d for d, _ in got.elements()) == {
        d: dedup.N_BANDS for d, *_ in SIGS
    }


def test_bands_of_keeps_one_signature_aggregate(spark, tables):
    """Banding a signature aggregate must not split it: a union of
    per-band selects gets its columns pruned per branch, and the one
    aggregate becomes one per band (one shuffle each)."""
    sh, _ = tables
    plan = physical_plan(dedup.bands_of(dedup.signatures_of(sh)))
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- the incremental and streaming probes ----------------------------------


def test_incremental_matches_full_run_on_crossing_pairs(spark, sf_dir):
    """The delta-vs-base probe must find EXACTLY the near-dup pairs of
    the full symmetric run that cross the split (same band scheme, same
    verify), with identical jaccard values."""
    inc = {
        (r.new_doc, r.base_doc, r.jaccard)
        for r in incremental_minhash(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select("doc_id")
    delta_ids = {
        r.doc_id for r in docs.filter(_incr_delta_flag()).collect()
    }
    full = minhash_near_dups(spark, sf_dir).collect()
    crossing = set()
    for r in full:
        if r.jaccard < JACCARD_THRESHOLD:
            continue
        if (r.doc_a in delta_ids) != (r.doc_b in delta_ids):
            new, base = (
                (r.doc_a, r.doc_b) if r.doc_a in delta_ids else (r.doc_b, r.doc_a)
            )
            crossing.add((new, base, r.jaccard))
    assert inc == crossing


def test_streaming_near_dups_equal_batch_answer(spark, sf_dir):
    """The accumulated streaming pair store equals the one-shot batch
    LSH answer, and cross-batch pairs (members in different doc_id
    quartiles) are discovered whenever the batch answer contains them —
    proving the probe really works against the persisted store, not
    just within a micro-batch."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.streaming_batch import (
        streaming_near_dup_pairs,
    )

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in streaming_near_dup_pairs(spark, sf_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_near_dups(spark, sf_dir).collect()
        if r.jaccard >= JACCARD_THRESHOLD
    }
    assert got == want
    ids = sorted(r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect())
    quartile = {d: i * 4 // len(ids) for i, d in enumerate(ids)}
    want_cross = {p for p in want if quartile[p[0]] != quartile[p[1]]}
    got_cross = {p for p in got if quartile[p[0]] != quartile[p[1]]}
    assert got_cross == want_cross
    if want_cross:
        assert len(got_cross) > 0


class _StreamedStore:
    """The documents table split into 4 doc_id-range files, fed into a
    watched directory and drained by ``incremental_near_dups`` with a
    checkpoint, one file per micro-batch."""

    SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

    def __init__(self, spark, sf_dir, tmp):
        self.spark = spark
        self.staged, self.watched = f"{tmp}/staged", f"{tmp}/watched"
        self.store, self.ckpt = f"{tmp}/store", f"{tmp}/ckpt"
        (
            table(spark, sf_dir, "documents")
            .repartitionByRange(4, "doc_id")
            .write.parquet(self.staged)
        )
        self.parts = sorted(
            f for f in os.listdir(self.staged) if f.endswith(".parquet")
        )
        assert len(self.parts) == 4
        os.makedirs(self.watched)

    def feed(self, parts):
        for f in parts:
            shutil.copy(f"{self.staged}/{f}", f"{self.watched}/{f}")

    def run(self):
        stream = (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.watched)
        )
        incremental_near_dups(
            self.spark, stream, self.store, checkpoint_path=self.ckpt
        )

    def pairs_df(self):
        return self.spark.read.parquet(f"{self.store}/pairs").select(
            "doc_a", "doc_b", "jaccard"
        )


def test_near_dup_store_checkpoint_resume(spark, sf_dir):
    """Kill-and-resume contract for the streaming LSH maintenance
    (VERDICT r5 directive #6): drain part of the corpus, 'die', resume
    from the checkpoint with the remaining files, then restart once more
    with nothing new — the accumulated pair store must equal the
    one-shot batch LSH answer exactly, with no re-applied appends."""
    with tempfile.TemporaryDirectory() as tmp:
        s = _StreamedStore(spark, sf_dir, tmp)
        # batches 1-2 land, then the job "dies"
        s.feed(s.parts[:2])
        s.run()
        # resume from the checkpoint with the late-arriving files
        s.feed(s.parts[2:])
        s.run()
        # pure restart with nothing new: must change nothing
        n_before = s.pairs_df().count()
        s.run()
        assert s.pairs_df().count() == n_before
        # MID-BATCH kill: forge the crash window where the last batch's
        # store partitions are written but its checkpoint commit marker
        # is not — delete the marker so resume REPLAYS that batch over
        # its own half/fully-committed output. Batch-scoped overwrite +
        # the batch<=id read filter must make the replay idempotent.
        commits = sorted(
            f
            for f in os.listdir(f"{s.ckpt}/commits")
            if not f.startswith(".")
        )
        os.remove(f"{s.ckpt}/commits/{commits[-1]}")
        crc = f"{s.ckpt}/commits/.{commits[-1]}.crc"  # Hadoop local-FS shadow
        if os.path.exists(crc):
            os.remove(crc)
        s.run()
        got = s.pairs_df()
        assert got.count() == n_before
        want = minhash_near_dups(spark, sf_dir)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_near_dup_store_survives_kill_before_pairs_write(spark, sf_dir, monkeypatch):
    """A batch that dies after writing its shingles and bands partitions
    but before its pairs partition is replayed on resume over its own
    partial output, and the store still ends exactly-once."""
    real_verify = dedup.verify_pairs
    calls = []

    def verify_dies_on_second_batch(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected fault in batch 1's verify")
        return real_verify(*args, **kwargs)

    with tempfile.TemporaryDirectory() as tmp:
        s = _StreamedStore(spark, sf_dir, tmp)
        s.feed(s.parts)
        monkeypatch.setattr(dedup, "verify_pairs", verify_dies_on_second_batch)
        with pytest.raises(Exception, match="injected fault"):
            s.run()
        for part in ("shingles", "bands"):
            assert os.path.isdir(f"{s.store}/{part}/batch=1"), part
        assert not os.path.exists(f"{s.store}/pairs/batch=1")
        monkeypatch.undo()
        s.run()
        got = s.pairs_df()
        assert got.count() == got.distinct().count()
        want = minhash_near_dups(spark, sf_dir)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
