"""Round-17 additions (r16 verdict #1): the persisted-store ANN serves
now guard their query-vector input. Before this, query_ivf_store /
query_ivfpq_store (and the rebalanced-layout reader) accepted an empty
or wrong-dimension qvec and silently returned top_k rows with NULL cos
— F.zip_with null-pads the shorter array, the dot product goes null,
and the orderBy serves vec_id-ordered rows with null scores (measured
in the r16 audit: dim-64 store + 69-dim query → [(0, None), (2, None),
(3, None)]). The guard lives in probe_cells — the ONE probe-planning
definition all three serving paths share — and reads the dimension off
the same K-row codebook collect the planner already does (zero extra
I/O). Mirrors the r16 wildcard exactly-one-'*' contract pattern: raise
on malformed input, values provably unchanged on well-formed input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
    QUERY_VEC_ID,
    _query_vec,
    query_ivf_store,
    query_ivfpq_store,
    write_ivf_store,
    write_ivfpq_store,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ivf_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r17") / "ivf_store")
    write_ivf_store(spark, SF, out)
    return out


@pytest.fixture(scope="module")
def ivfpq_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r17") / "ivfpq_store")
    write_ivfpq_store(spark, SF, out)
    return out


def test_ivf_serve_rejects_wrong_dim_and_empty_qvec(spark, ivf_store):
    """The r16-audited silent-misbehavior: wrong-dim → ValueError naming
    both dimensions; empty → ValueError. No scan is planned — the guard
    fires at probe time."""
    good = _query_vec(spark, SF)
    for bad in (good + [0.5], good[:-1], [1.0, 2.0]):
        with pytest.raises(ValueError, match="dimension"):
            query_ivf_store(spark, ivf_store, bad)
    with pytest.raises(ValueError, match="empty"):
        query_ivf_store(spark, ivf_store, [])


def test_ivfpq_serve_shares_the_guard_contract(spark, ivfpq_store):
    """The IVFADC serve routes through the same probe_cells guard — the
    contract cannot drift between the two store surfaces."""
    good = _query_vec(spark, SF)
    with pytest.raises(ValueError, match="dimension"):
        query_ivfpq_store(spark, ivfpq_store, good + [0.0])
    with pytest.raises(ValueError, match="empty"):
        query_ivfpq_store(spark, ivfpq_store, [])


def test_rebalanced_serve_shares_the_guard_contract(spark, ivf_store, tmp_path):
    """query_rebalanced_store probes via the same probe_cells — the
    third serving path inherits the guard for free."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        query_rebalanced_store,
        rebalance_ivf_store,
    )

    out = str(tmp_path / "rebal")
    rebalance_ivf_store(spark, ivf_store, out)
    good = _query_vec(spark, SF)
    with pytest.raises(ValueError, match="dimension"):
        query_rebalanced_store(spark, out, good + [0.0])
    got = query_rebalanced_store(
        spark, out, good, where=F.col("vec_id") != QUERY_VEC_ID
    ).collect()
    assert got and all(r.cos is not None for r in got)


def test_correct_dim_serve_values_unchanged(spark, ivf_store, ivfpq_store):
    """Well-formed queries are untouched by the guard: both serves
    return top-k rows with non-null scores, self-hit first when not
    excluded (cos(q, q) = 1.0 is the natural sanity anchor)."""
    good = _query_vec(spark, SF)
    ivf = query_ivf_store(spark, ivf_store, good).collect()
    assert ivf and all(r.cos is not None for r in ivf)
    assert ivf[0].vec_id == QUERY_VEC_ID and ivf[0].cos == pytest.approx(1.0)
    pq = query_ivfpq_store(
        spark, ivfpq_store, good, exclude_vec_id=QUERY_VEC_ID
    ).collect()
    assert pq and all(r.cos is not None for r in pq)
    assert all(r.vec_id != QUERY_VEC_ID for r in pq)


def test_write_arm_strict_assignment_rejects_wrong_dim(spark, ivf_store):
    """r16 verdict #7: the ingest arms must not silently poison the
    store. Without strict, a wrong-dim vector's NULL sims tie the
    argmax struct entirely on -cent_id — it silently assigns to the
    SMALLEST cent_id (measured here as the documented failure mode);
    with strict (what append_ivf_store and the streaming ingest twin
    pass), the same row raises at execution time. The guard rides the
    existing argmax expression — no extra pass."""
    from pyspark.errors import SparkRuntimeException

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        _ivf_cells,
        _ivf_pairs,
    )

    cents = spark.read.parquet(f"{ivf_store}/centroids")
    min_cent = cents.agg(F.min("cent_id")).head()[0]
    bad = spark.createDataFrame(
        [(999_001, [0.25, 0.5])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    silent = _ivf_cells(_ivf_pairs(bad, cents)).collect()
    assert [(r.vec_id, r.cell) for r in silent] == [(999_001, min_cent)]
    with pytest.raises(SparkRuntimeException, match="frozen codebook"):
        _ivf_cells(_ivf_pairs(bad, cents), strict=True).collect()


def test_write_arm_strict_is_transparent_for_correct_dims(spark, ivf_store):
    """strict must be value-invisible on well-formed input: identical
    (vec_id, cell) assignments with and without the guard."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        DELTA_MOD,
        _ivf_cells,
        _ivf_pairs,
        table,
    )

    cents = spark.read.parquet(f"{ivf_store}/centroids")
    delta = table(spark, SF, "embeddings").filter(
        F.col("vec_id") % DELTA_MOD == 0
    )
    plain = sorted(
        (r.vec_id, r.cell)
        for r in _ivf_cells(_ivf_pairs(delta, cents)).collect()
    )
    strict = sorted(
        (r.vec_id, r.cell)
        for r in _ivf_cells(_ivf_pairs(delta, cents), strict=True).collect()
    )
    assert plain == strict and plain


def test_ivfpq_serve_reads_pq_geometry_off_the_store(spark, ivfpq_store, tmp_path):
    """r17 coupling audit: the ADC serve derives the subspace count
    from the codes part's actual codeN columns (driver-side schema
    read) and the width from the guarded query dimension — NOT from
    the PQ_M/PQ_SUB module constants. An M=1 store (only code0) would
    have crashed the pre-r17 serve on a missing code1 join column;
    it now serves. A geometry the query dimension cannot satisfy
    (M=3 over dim 64) raises instead of mis-slicing the LUTs."""
    import shutil

    good = _query_vec(spark, SF)
    alt = str(tmp_path / "pq_m1")
    shutil.copytree(ivfpq_store, alt)
    codes = spark.read.parquet(f"{ivfpq_store}/codes").select(
        "vec_id", "code0", "cell"
    )
    shutil.rmtree(f"{alt}/codes")
    codes.write.partitionBy("cell").parquet(f"{alt}/codes")
    got = query_ivfpq_store(spark, alt, good).collect()
    assert got and all(r.cos is not None for r in got)
    bad = str(tmp_path / "pq_m3")
    shutil.copytree(ivfpq_store, bad)
    codes3 = spark.read.parquet(f"{ivfpq_store}/codes").withColumn(
        "code2", F.col("code0")
    )
    shutil.rmtree(f"{bad}/codes")
    codes3.write.partitionBy("cell").parquet(f"{bad}/codes")
    with pytest.raises(ValueError, match="does not divide"):
        query_ivfpq_store(spark, bad, good)
