"""Round-13 fixes: the IVF store's pruned scan and the REPL's
term-lookup usage errors (the round's BPE tests live in
tests/test_bpe.py)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


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
