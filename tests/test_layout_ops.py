"""Property + plan-shape tests for the layout/diagnostics pack
(plans/layout.py). Value oracles run in tests/test_oracle_parity.py;
these assert the invariants the oracle hash can't express and the
physical shapes the 100 TB story depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
    QBINS,
    ROWS_PER_FILE,
    SKEW_TOP,
    ZBITS,
    key_skew,
    quantile_bins,
    zorder_files,
)
from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
    table,
)


from conftest import physical_plan as _physical


def test_zorder_files_partition_row_counts_and_bounds(spark, sf_dir):
    """Files are full (ROWS_PER_FILE) except the last; bounding boxes
    stay inside the bucket domain; total rows = corpus rows."""
    rows = sorted(zorder_files(spark, sf_dir).collect(), key=lambda r: r.file_id)
    total = table(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in rows) == total
    for r in rows[:-1]:
        assert r.n_rows == ROWS_PER_FILE
    side = 1 << ZBITS
    for r in rows:
        assert 0 <= r.ub_min <= r.ub_max < side
        assert 0 <= r.db_min <= r.db_max < side
        assert r.bbox_cells == (r.ub_max - r.ub_min + 1) * (
            r.db_max - r.db_min + 1
        )


def test_zorder_beats_single_dim_clustering(spark):
    """The point of z-order: mean per-file bbox area is far below the
    full grid (a single-dim sort would leave one dimension's span at
    the full 2^ZBITS on every file). Needs enough rows for multiple
    files — pinned to sf0.01 (10 files; sf0.001 fits in one file and
    the bbox claim would be vacuous)."""
    rows = zorder_files(spark, "/root/testdata/sf0.01").collect()
    grid = (1 << ZBITS) ** 2
    mean_bbox = sum(r.bbox_cells for r in rows) / len(rows)
    assert mean_bbox < grid / 2


def test_key_skew_profile_invariants(spark, sf_dir):
    rows = sorted(key_skew(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert len(rows) == SKEW_TOP
    ns = [r.n_events for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(rows[i].cume_ppm <= rows[i + 1].cume_ppm for i in range(len(rows) - 1))
    assert rows[-1].cume_ppm <= 1_000_000
    ev = table(spark, sf_dir, "events")
    top_key = rows[0].user_id
    assert ev.filter(F.col("user_id") == top_key).count() == rows[0].n_events


def test_quantile_bins_estimates_within_one_bin(spark, sf_dir):
    """Histogram-sketch estimate vs the exact order statistic: error is
    bounded by one bin width (the sketch's contract)."""
    est = {r.q_pct: r for r in quantile_bins(spark, sf_dir).collect()}
    vals = sorted(
        r.value for r in table(spark, sf_dir, "events").select("value").collect()
    )
    vmin, vmax = vals[0], vals[-1]
    bin_w = (vmax - vmin) / QBINS
    for q in (50, 90, 99):
        exact = vals[est[q].threshold_rank - 1]
        assert abs(est[q].est_micro / 1e6 - exact) <= bin_w + 1e-9


def test_quantile_bins_degenerate_range_matches_oracle(spark, tmp_path):
    """Constant value column → vmax = vmin. Spark (non-ANSI) makes the
    unguarded bin division NULL while DuckDB double division gives
    inf/nan — the ADVICE-r4 divergence. With the CASE guard both engines
    must agree: every row in bin 0, estimate = the constant (micro
    half-up)."""
    import datetime

    import duckdb

    from simple_mapreduce_search_engine_information_retrieval__spark import oracle
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        _duck_quantile_bins,
    )

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
            i % 7,
            "click",
            42.0,
            "{}",
        )
        for i in range(100)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    df = quantile_bins(spark, str(tmp_path))
    got = {r.q_pct: r for r in df.collect()}
    assert set(got) == {50, 90, 99}
    for r in got.values():
        assert r.bin_idx == 0
        assert r.est_micro == 42_000_000
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    try:
        assert oracle.compare(df, con, _duck_quantile_bins()) == []
    finally:
        con.close()


def test_morton_interleave_is_a_bijection(spark):
    """The z-value expression maps the 16x16 bucket grid 1:1 onto
    0..255, and adjacent buckets differ in one interleaved bit — the
    property that makes consecutive z ranges spatially local."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        _zval_terms,
    )

    side = 1 << ZBITS
    grid = spark.createDataFrame(
        [(u, d) for u in range(side) for d in range(side)], "ub long, db long"
    )
    vals = [
        r.z for r in grid.selectExpr(f"{_zval_terms('ub', 'db', 'div')} AS z").collect()
    ]
    assert sorted(vals) == list(range(side * side))

    def z(u, d):
        return sum(
            (((u >> i) & 1) << (2 * i)) | (((d >> i) & 1) << (2 * i + 1))
            for i in range(ZBITS)
        )

    got = {
        (r.ub, r.db): r.z
        for r in grid.selectExpr(
            "ub", "db", f"{_zval_terms('ub', 'db', 'div')} AS z"
        ).collect()
    }
    assert all(got[(u, d)] == z(u, d) for u in range(side) for d in range(side))


def test_layout_plan_shapes(spark, sf_dir):
    """Tiny relations broadcast; the heavy side never sorts globally."""
    spark.catalog.clearCache()
    zp = _physical(zorder_files(spark, sf_dir))
    # the 256-row census prefix-sum joins back via broadcast
    assert "BroadcastHashJoin" in zp or "BroadcastNestedLoopJoin" in zp
    sp = _physical(key_skew(spark, sf_dir))
    # top-10 selection is TakeOrdered, not a global Sort of all keys
    assert "TakeOrderedAndProject" in sp
    qp = _physical(quantile_bins(spark, sf_dir))
    assert "BroadcastHashJoin" in qp or "BroadcastNestedLoopJoin" in qp


def test_ivf_rebalance_plan_invariants(spark, sf_dir):
    """Every action arm must execute (the seeded synthetic cells
    guarantee split AND merge at any scale), the shard math must be the
    exact ceil(n/avg), merge bins must be filled first-fit to ~avg, and
    keep rows must carry the neutral (1, -1) markers."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        ivf_rebalance,
    )

    rows = ivf_rebalance(spark, sf_dir).collect()
    by_action = {}
    for r in rows:
        by_action.setdefault(r["action"], []).append(r)
    assert set(by_action) == {"split", "merge", "keep"}
    total = sum(r["n_vecs"] for r in rows)
    k = len(rows)
    avg = total // k
    for r in by_action["split"]:
        assert 2 * r["n_vecs"] * k > 3 * total  # > 1.5x avg
        assert r["n_shards"] == (r["n_vecs"] * k + total - 1) // total
        assert r["n_shards"] >= 2 and r["bin_id"] == -1
    for r in by_action["keep"]:
        assert r["n_shards"] == 1 and r["bin_id"] == -1
    merges = sorted(by_action["merge"], key=lambda r: r["cluster"])
    cum = 0
    for r in merges:
        assert 4 * r["n_vecs"] * k < 3 * total  # < 0.75x avg
        assert r["n_shards"] == 1
        assert r["bin_id"] == cum // avg  # first-fit by exclusive cumsum
        cum += r["n_vecs"]
    # every non-final bin is filled to at least the avg target
    if merges:
        n_bins = merges[-1]["bin_id"] + 1
        assert cum >= (n_bins - 1) * avg


def test_rebalance_empty_census_raises_descriptively():
    """An empty vector store must surface loudly (r8 ADVICE), not as an
    opaque ZeroDivisionError inside the plan arithmetic."""
    import pytest

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        _rebalance_plan_rows,
    )

    with pytest.raises(RuntimeError, match="empty vector store"):
        _rebalance_plan_rows([])


def test_rebalance_execution_serves_identically(spark, sf_dir, tmp_path):
    """The r8 execution contract: query_ivf_store over the REBALANCED
    layout serves what it serves over the ORIGINAL cell layout,
    row-for-row (vec_id, cos)."""
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        rebalance_ivf_store,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        QUERY_VEC_ID,
        _query_vec,
        query_ivf_store,
        write_ivf_store,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "rebal")
    write_ivf_store(spark, sf_dir, store)
    rebalance_ivf_store(spark, store, out)
    qvec = _query_vec(spark, sf_dir)
    pre = [
        (r["vec_id"], r["cos"])
        for r in query_ivf_store(
            spark, store, qvec, where=F.col("vec_id") != QUERY_VEC_ID
        ).collect()
    ]
    post = [
        (r["vec_id"], r["cos"])
        for r in query_ivf_store(
            spark, out, qvec, where=F.col("vec_id") != QUERY_VEC_ID
        ).collect()
    ]
    assert pre == post
    assert len(pre) > 0


def test_rebalance_execution_all_arms_on_skewed_store(spark, sf_dir, tmp_path):
    """Craft a deliberately skewed store (one mega-cell, several tiny
    cells, mid cells) from fixture vectors: the executor must split the
    mega-cell into >1 hash shards, first-fit-merge the tiny cells into
    shared units, keep the mid cells — and the rebalanced layout must
    still serve exactly what the crafted cell layout serves."""
    from collections import Counter

    from simple_mapreduce_search_engine_information_retrieval__spark.plans.layout import (
        rebalance_ivf_store,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        query_ivf_store,
    )

    emb = table(spark, sf_dir, "embeddings").limit(100).collect()
    assert len(emb) == 100
    # cells: 0 -> 60 vecs (split), 1..4 -> 2 vecs each (merge),
    # 5..6 -> 16 vecs each (keep); avg = 100/7 ~ 14
    def cell_of(i):
        if i < 60:
            return 0
        if i < 68:
            return 1 + (i - 60) // 2
        return 5 + (i - 68) // 16

    store = str(tmp_path / "skewstore")
    rows = [
        (r["vec_id"], r["embedding"], cell_of(i), 0)
        for i, r in enumerate(emb)
    ]
    spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, cell LONG, ingest LONG"
    ).write.partitionBy("cell", "ingest").parquet(f"{store}/vectors")
    # centroids: first vector of each cell, so probing is well-defined
    firsts = {}
    for i, r in enumerate(emb):
        firsts.setdefault(cell_of(i), r["embedding"])
    spark.createDataFrame(
        [(c, v) for c, v in sorted(firsts.items())],
        "cent_id LONG, cvec ARRAY<FLOAT>",
    ).write.parquet(f"{store}/centroids")

    out = str(tmp_path / "skewrebal")
    plan = rebalance_ivf_store(spark, store, out)
    by_action = Counter(a for _, _, a, _, _ in plan)
    assert by_action["split"] >= 1 and by_action["merge"] >= 2
    assert by_action["keep"] >= 1
    split_rows = [p for p in plan if p[2] == "split"]
    assert all(p[3] >= 2 for p in split_rows)  # mega-cell really shards
    # tiny cells share merge units (first-fit put >=2 cells in a bin)
    merge_units = Counter(p[4] for p in plan if p[2] == "merge")
    assert max(merge_units.values()) >= 2
    # the physical layout agrees with the plan: every unit directory of
    # a split cell holds < the original cell's rows
    units = {
        r["unit"]: r["n"]
        for r in spark.read.parquet(f"{out}/vectors")
        .groupBy("unit")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for cell, n, action, shards, base in split_rows:
        shard_rows = [units[u] for u in units if u.startswith(base + "-")]
        assert sum(shard_rows) == n and all(s < n for s in shard_rows)
    # serving equivalence on the crafted store
    qvec = [float(x) for x in emb[99]["embedding"]]
    pre = [
        (r["vec_id"], r["cos"])
        for r in query_ivf_store(spark, store, qvec).collect()
    ]
    post = [
        (r["vec_id"], r["cos"])
        for r in query_ivf_store(spark, out, qvec).collect()
    ]
    assert pre == post and len(pre) > 0
