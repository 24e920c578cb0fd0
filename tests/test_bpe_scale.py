"""Batched BPE learning — construction invariants for the production-
merge-budget path (r8 verdict, Next-round #2; SCALE.md "BPE at a
production merge count" holds the measured 16/64/256 numbers and the
32k extrapolation).

The learner's batching argument (batch_m > 1) is LOCAL: within a round,
picks are pairwise symbol-disjoint (members and products), so each
pick's count is its true pre-round pair count and the replaces commute.
Across rounds it diverges from exact greedy only in that emergent pairs
compete one round late; at batch_m=1 it IS exact greedy. These tests
pin exactly that contract on the fixture, so a future merge-budget raise is a measured flip, not a
rewrite (the tests/test_fixed_log_table.py discipline)."""

from __future__ import annotations

import pytest

from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
    bpe,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batched(spark):
    merges, round_sizes = bpe.learn_merges_batched(
        spark, bpe._pieces(spark, SF), bpe.N_MERGES, batch_m=4
    )
    return merges, round_sizes


def test_batched_shape_and_barrier_economy(spark, batched):
    """N merges learned in ~N/M rounds — the whole point: the barrier
    count drops by ~batch_m while each round stays one aggregate + one
    bounded collect."""
    merges, round_sizes = batched
    assert [r for r, *_ in merges] == list(range(1, bpe.N_MERGES + 1))
    assert sum(round_sizes) == bpe.N_MERGES
    assert len(round_sizes) <= -(-bpe.N_MERGES // 2)  # >= 2x fewer barriers
    assert all(s >= 1 for s in round_sizes)


def test_batched_rounds_are_symbol_disjoint_and_ordered(batched):
    """Within every round: no symbol reuse across picks (members AND
    products — the pre-round-count validity argument), and counts
    non-increasing (picks are a filtered prefix of the sorted pair
    census)."""
    merges, round_sizes = batched
    i = 0
    for size in round_sizes:
        chunk = merges[i : i + size]
        i += size
        used: set[str] = set()
        for _rank, lhs, rhs, _n in chunk:
            assert lhs not in used and rhs not in used
            assert lhs + rhs not in used
            used.update((lhs, rhs, lhs + rhs))
        ns = [n for *_x, n in chunk]
        assert ns == sorted(ns, reverse=True)


def test_batched_head_matches_exact_and_tail_agrees(spark, batched):
    """Round 1's first pick IS the exact greedy argmax (identical state,
    identical tiebreak), and fixture agreement with the exact table
    stays majority — the divergence is a tail-reordering, not a
    different vocabulary."""
    merges, _ = batched
    exact = bpe.learned_merges(spark, SF)
    assert merges[0][1:] == exact[0][1:]
    got = {(lhs, rhs) for _r, lhs, rhs, _n in merges}
    want = {(lhs, rhs) for _r, lhs, rhs, _n in exact}
    assert len(got & want) * 2 >= len(want)


def test_batched_merges_still_roundtrip(batched):
    """decode(encode(piece)) == piece holds for ANY merge table — the
    encode/decode contract is merge-list-agnostic; pin it for the
    batched table so a flip cannot silently break serving."""
    merges, _ = batched
    pieces = ["the engine", " testing", "it's", " 12345", "!!?", " merge me"]
    for piece in pieces:
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
        assert "".join(syms) == piece


def test_exact_learner_is_batch_of_one(spark):
    """batch_m=1 IS exact greedy: every round merges exactly one pair,
    and the table equals the memoized canon one the unrolled oracles
    replay (a fresh round's first candidate always passes, under the
    same (n_occ DESC, lhs, rhs) order)."""
    merges, round_sizes = bpe.learn_merges_batched(
        spark, bpe._pieces(spark, SF), bpe.N_MERGES, batch_m=1
    )
    assert merges == bpe.learned_merges(spark, SF)
    assert round_sizes == [1] * bpe.N_MERGES


def test_learn_selector_routes_by_budget(spark, monkeypatch):
    """The public ``learn`` entry point flips batch size at
    BATCHED_ABOVE (r9 verdict, Next-round #3): at or below the
    threshold it IS exact greedy (the canon path — equals the memoized
    exact table), above it it IS the learner's default batch (same
    corpus reproduces the same table — the learner is deterministic)."""
    exact = bpe.learn(spark, bpe._pieces(spark, SF), bpe.N_MERGES)
    assert exact == bpe.learned_merges(spark, SF)
    monkeypatch.setattr(bpe, "BATCHED_ABOVE", bpe.N_MERGES - 1)
    routed = bpe.learn(spark, bpe._pieces(spark, SF), bpe.N_MERGES)
    batched, round_sizes = bpe.learn_merges_batched(
        spark, bpe._pieces(spark, SF), bpe.N_MERGES
    )
    assert routed == batched
    assert len(round_sizes) < bpe.N_MERGES  # batched, not one per round
    monkeypatch.undo()
    assert bpe.BATCHED_ABOVE >= bpe.N_MERGES  # canon stays exact
