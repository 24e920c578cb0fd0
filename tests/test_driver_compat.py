"""The grading driver calls entry()/queries() with ITS OWN SparkSession —
no session.py defaults. Simulate that with a vanilla session in a clean
subprocess and run the config-sensitive paths (nanos timestamps, UDFs,
streaming-batch twins)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from conftest import SF_SMALL


def test_canon_rejects_raw_array_columns(spark):
    """The round-3 regression class: the driver canon sorts RAW output
    columns before hashing, so a plain array<bigint> column hard-errors
    (factorize on unhashable lists). The local gate must reproduce that:
    the raw-array int8 rendering FAILS compare() and the csv rendering
    PASSES."""
    from simple_mapreduce_search_engine_information_retrieval__spark.oracle import (
        compare,
        duck_connect,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans.similarity import (
        DUCK_INT8_QUANTIZE,
        int8_quantize,
        int8_quantize_rendered,
    )

    sf = "/root/testdata/sf0.001"
    con = duck_connect(sf)
    try:
        raw_sql = """
        SELECT vec_id, round(s, 6) AS scale,
               list_transform(embedding,
                              v -> CAST(floor(CAST(v AS DOUBLE) / s + 0.5) AS BIGINT)) AS qvec
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS s
              FROM embeddings)
        """
        raw = int8_quantize(spark, sf)
        issues = compare(raw, con, raw_sql)
        assert issues and "driver-canon sort failed" in issues[0], issues
        assert compare(int8_quantize_rendered(spark, sf), con, DUCK_INT8_QUANTIZE) == []
    finally:
        con.close()


@pytest.mark.parametrize("oracle", [None, "SELECT [1, 2] AS ids, 7 AS n"])
def test_check_query_rejects_raw_array_and_map_columns(spark, oracle):
    """The parity sweep is the registry-wide guard: check_query rejects a
    top-level ArrayType/MapType output column for every spec, oracled or
    rows-only, and names the column and its type."""
    from pyspark.sql import functions as F

    from simple_mapreduce_search_engine_information_retrieval__spark.oracle import (
        check_query,
    )
    from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
        QuerySpec,
    )

    def fn(spark, sf_dir):
        return spark.range(2).select(
            F.array("id").alias("ids"),
            F.create_map("id", "id").alias("m"),
            F.struct("id").alias("s"),
        )

    issues = check_query(spark, SF_SMALL, "q", QuerySpec(fn, oracle))
    assert issues == [
        "q: raw array<bigint> output column ids",
        "q: raw map<bigint,bigint> output column m",
    ]


def test_changed_this_round_names_exist():
    """Every name in CHANGED_THIS_ROUND must be a registered query — a
    typo or a renamed query would silently drop the re-verify bump."""
    import __spark_entry__ as e

    registry = set(e.queries())
    missing = set(e.CHANGED_THIS_ROUND) - registry
    assert not missing, missing


def test_bench_order_ignores_changed_this_round(monkeypatch):
    """bench.py times queries in registration order. A CHANGED_THIS_ROUND
    refresh reorders the check-priority order of queries() but must leave
    the bench session's order as it was."""
    import bench
    import __spark_entry__ as e

    bench_before, check_before = list(bench.bench_queries()), list(e.queries())
    latest = e._latest_verdicts()
    # the last green query in check order jumps ahead once it is "changed"
    moved = [
        n for n in check_before
        if n in latest and latest[n][1] and n not in e.CHANGED_THIS_ROUND
    ][-1]
    monkeypatch.setattr(e, "CHANGED_THIS_ROUND", frozenset({moved}))
    assert list(e.queries()) != check_before
    assert list(bench.bench_queries()) == bench_before
    assert sorted(bench_before) == sorted(check_before)


def test_vanilla_session_runs_contract():
    code = textwrap.dedent(
        """
        import json, sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession

        # deliberately NO engine configs — mirrors the driver's session
        spark = (SparkSession.builder.master("local[4]")
                 .appName("driver-sim").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as e

        out = {}
        out["entry_rows"] = len(e.entry(spark).collect())
        q = e.queries()
        sf = "/root/testdata/sf0.001"
        for name in ["events_hourly", "streaming_sessionize_users",
                     "events_user_zscores", "search_two_term",
                     "text_quality_scores", "dedup_simhash",
                     # round-4 surfaces: warm-index BM25, shared
                     # tokenized scan, nanos week math, file-writing
                     # compaction, cached graph
                     "search_bm25", "pipeline_pack_sequences",
                     "events_retention_cohorts",
                     "index_compaction_roundtrip",
                     "graph_pagerank_terms"]:
            out[name] = q[name](spark, sf).count()
        print("RESULT:" + json.dumps(out))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=420
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert lines, f"no result line; stderr tail: {proc.stderr[-2000:]}"
    out = json.loads(lines[0][len("RESULT:"):])
    assert out["entry_rows"] == 10
    assert all(v > 0 for v in out.values()), out


def test_udf_queries_run_outside_the_repo(tmp_path):
    """Python workers import the package from the zip get_spark ships,
    not from the working directory: the UDTF and UDF lines run from a
    directory that does not hold the package."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {repo!r})
        from simple_mapreduce_search_engine_information_retrieval__spark.session import get_spark
        spark = get_spark("cwd-test")
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as e

        q = e.queries()
        out = {{
            name: len(q[name](spark, {SF_SMALL!r}).collect())
            for name in ["positional_terms_udtf", "search_fidelity_stemmed"]
        }}
        print("RESULT:" + json.dumps(out))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert lines, f"no result line; stderr tail: {proc.stderr[-2000:]}"
    out = json.loads(lines[0][len("RESULT:"):])
    assert all(v > 0 for v in out.values()), out


def test_bench_headline_line_fits_capture_window():
    """The driver parses the bench JSON from the LAST 2000 chars of
    stdout (BENCH_r01..r03 were all "parsed": null because the full
    per-query map overflowed it). The rendered line must fit the window
    for the REAL registry under worst-case timing widths."""
    import bench
    import __spark_entry__ as e

    names = list(e.queries()) + [
        "search_indexed_warm",
        "search_phrase_indexed_warm",
        "knn_ivf_store_warm",
        "knn_ivfpq_adc_warm",
        "knn_ivfpq_store_warm",
        "knn_ivf_trained_warm",
        "dedup_minhash_build_cold",
    ]
    # worst-case widths: the 25 LONGEST names are the slowest (they are
    # the ones the line will carry), 4-digit seconds, 3 decimals
    longest = set(sorted(names, key=len, reverse=True)[:25])
    timings = {n: (9999.999 if n in longest else 0.001) for n in names}
    scalars = {
        "sf": 0.1,
        "n_queries": len(timings),
        "metric": "headline_queries_total_wall",
        "value": 999999.999,
        "unit": "sec",
        "index_corpus_note": "cold build (memo caches cleared), "
        "fixture replicated to the reference's 22.8 MiB corpus "
        "size; raw_sf is the overhead-bound small-corpus rate",
        "index_mib_per_sec_raw_sf": 9999.999,
        "baseline_index_mib_per_sec": 0.45,
        "index_mib_per_sec": 9999.999,
        "box_cpu_sec": 9999.999,
        "box_job_overhead_sec": 9999.999,
    }
    line = bench.render_headline(timings, scalars)
    assert len(line) < bench.CAPTURE_WINDOW, len(line)
    import json as _json

    parsed = _json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert len(parsed["queries"]) == bench.N_SLOWEST
