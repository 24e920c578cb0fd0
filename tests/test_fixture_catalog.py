"""The fixture catalog (sources/tables.py): each table is resolved once
per session and sf_dir, and the temp views follow the latest sf_dir."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq

from conftest import SF_MED, SF_SMALL
from simple_mapreduce_search_engine_information_retrieval__spark import caches
from simple_mapreduce_search_engine_information_retrieval__spark.sources.tables import (
    register_views,
    table,
)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_second_table_read_launches_no_job(spark):
    for name in ("lineitem", "events"):
        table(spark, SF_SMALL, name)
        before = _jobs(spark)
        assert table(spark, SF_SMALL, name).schema
        assert _jobs(spark) == before


def test_register_views_launches_no_job_once_filled(spark):
    register_views(spark, SF_SMALL)
    before = _jobs(spark)
    register_views(spark, SF_SMALL)
    assert _jobs(spark) == before


def test_views_follow_the_latest_sf_dir(spark):
    """sf0.001 and sf0.01 both hold 500 documents, so the view is checked
    by its total n_chars, which differs between them."""
    want = {
        sf: sum(pq.read_table(f"{sf}/documents.parquet").column("n_chars").to_pylist())
        for sf in (SF_SMALL, SF_MED)
    }
    assert want[SF_SMALL] != want[SF_MED]
    for sf in (SF_SMALL, SF_MED, SF_SMALL):
        register_views(spark, sf)
        got = spark.sql("SELECT sum(n_chars) FROM documents").first()[0]
        assert got == want[sf]


def test_evict_re_resolves_a_rewritten_fixture(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/nation.parquet"
    pd.DataFrame({"n_nationkey": [0, 1]}).to_parquet(path)
    first = table(spark, sf, "nation")
    assert table(spark, sf, "nation") is first
    pd.DataFrame({"n_nationkey": [0, 1, 2]}).to_parquet(path)
    assert caches.evict(sf) == 1
    assert table(spark, sf, "nation").count() == 3
