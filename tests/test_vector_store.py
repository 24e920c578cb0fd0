"""The persisted IVF and IVF-PQ vector stores: build layout, delta
ingest, and serving from either the cell or the rebalanced unit layout.

The serves guard their query-vector input in probe_cells, the one
probe planner every store serve shares: an empty or wrong-dimension
qvec raises instead of silently returning top_k rows with NULL cos
(F.zip_with null-pads the shorter array, the dot product goes null, and
the orderBy then serves vec_id-ordered rows with null scores). The
dimension is read off the K-row codebook collect the planner already
does, so well-formed queries see no extra I/O and unchanged values.
"""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL as SF
from conftest import physical_plan as _physical
from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
    rebalance_ivf_store,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
    QUERY_VEC_ID,
    _query_vec,
    query_ivf_store,
    query_ivfpq_store,
    write_ivf_store,
    write_ivfpq_store,
)


@pytest.fixture(scope="module")
def ivf_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vector_store") / "ivf_store")
    write_ivf_store(spark, SF, out)
    return out


@pytest.fixture(scope="module")
def ivfpq_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vector_store") / "ivfpq_store")
    write_ivfpq_store(spark, SF, out)
    return out


def _partition_filters(plan: str) -> str:
    return plan.split("PartitionFilters:")[1].split("]")[0]


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
    """query_ivf_store over a rebalanced layout probes via the same
    probe_cells, so that layout inherits the guard for free."""
    out = str(tmp_path / "rebal")
    rebalance_ivf_store(spark, ivf_store, out)
    good = _query_vec(spark, SF)
    with pytest.raises(ValueError, match="dimension"):
        query_ivf_store(spark, out, good + [0.0])
    got = query_ivf_store(
        spark, out, good, where=F.col("vec_id") != QUERY_VEC_ID
    ).collect()
    assert got and all(r.cos is not None for r in got)


def test_ivf_store_serve_prunes_rebalanced_units(spark, ivf_store, tmp_path):
    """query_ivf_store reads a rebalanced store's own layout: the scan's
    PartitionFilters carry the probed cells' unit IN-list, and the rows
    equal the cell-layout serve's rows."""
    out = str(tmp_path / "rebal")
    rebalance_ivf_store(spark, ivf_store, out)
    good = _query_vec(spark, SF)
    df = query_ivf_store(spark, out, good, with_cell=True)
    pruned = _partition_filters(_physical(df))
    assert re.search(r"unit#\d+ IN \(", pruned), pruned
    want = query_ivf_store(spark, ivf_store, good, with_cell=True).collect()
    assert df.collect() == want and want


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
    with strict (what the shared ingest body _ingest_delta passes), the
    same row raises at execution time. The guard rides the existing
    argmax expression — no extra pass."""
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


def test_ivfpq_store_single_file_per_cell(ivfpq_store):
    """write_ivfpq_store's cell-clustered writes: one data file per
    cell= directory in both the vectors and codes parts."""
    for part in ("vectors", "codes"):
        cells = glob.glob(os.path.join(ivfpq_store, part, "cell=*"))
        assert cells, part
        for c in cells:
            files = [
                p
                for p in glob.glob(os.path.join(c, "*"))
                if os.path.basename(p).startswith("part-")
            ]
            assert len(files) == 1, (c, files)


def test_ivf_incremental_append_store(spark, sf_dir, tmp_path):
    """Base-only store + append_ivf_store(delta) must serve the same
    top-k as the in-session plan built from the SAME frozen base
    codebook over the combined corpus — proving the ingest path (frozen
    codebook, append-only cell partitions, base files untouched) loses
    nothing vs a monolithic rebuild with that codebook."""
    import pathlib

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        DELTA_MOD,
        TOP_K,
        _ivf_cells,
        _ivf_centroids,
        _ivf_pairs,
        _ivf_serve,
        append_ivf_store,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
        table,
    )

    path = str(tmp_path / "ivf_base")
    write_ivf_store(
        spark, sf_dir, path, where=F.col("vec_id") % DELTA_MOD != 0
    )
    append_ivf_store(spark, sf_dir, path)
    # EXACTLY-ONCE: a crash-and-retry of the same batch overwrites its
    # ingest partitions instead of duplicating rows (r6 code review
    # caught the blind-append hazard). Harden per r6 ADVICE: seed a
    # STALE partition from a hypothetical earlier attempt whose cell
    # assignment no longer exists — the retry must sweep it, not leave
    # it as a duplicate source for readers.
    stale = pathlib.Path(path) / "vectors" / "cell=999" / "ingest=1"
    stale.mkdir(parents=True)
    spark.range(1).selectExpr(
        "CAST(123456789 AS BIGINT) AS vec_id",
        "array(CAST(0.0 AS FLOAT)) AS embedding",
        "CAST(0 AS BIGINT) AS label",
    ).write.mode("overwrite").parquet(str(stale))
    append_ivf_store(spark, sf_dir, path)
    assert not stale.exists(), "stale ingest=1 partition survived retry"

    emb = table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    # the store includes the query vector itself (cos 1.0, always first):
    # over-fetch one, drop it, and the remainder must match exactly
    got = [
        (r.vec_id, r.cos)
        for r in query_ivf_store(spark, path, qvec, top_k=TOP_K + 1).collect()
        if r.vec_id != QUERY_VEC_ID
    ][:TOP_K]

    base_cents = _ivf_centroids(emb.filter(F.col("vec_id") % DELTA_MOD != 0))
    all_cells = _ivf_cells(_ivf_pairs(emb, base_cents))
    want = [
        (r.vec_id, r.cos)
        for r in _ivf_serve(emb, base_cents, all_cells).collect()
    ]
    assert got == want
