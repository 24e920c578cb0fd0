"""Memo-cache eviction (VERDICT r2 item 8): every ``caches.memo`` entry
must release its cached DataFrames on evict()/clear(), whatever storage
kind the memo body chose."""

from __future__ import annotations

from conftest import SF_MED
from pyspark.storagelevel import StorageLevel

from simple_mapreduce_search_engine_information_retrieval__spark import caches
from simple_mapreduce_search_engine_information_retrieval__spark.plans import (
    dedup,
    search,
)

SF = "/root/testdata/sf0.001"


@caches.memo
def _probe(spark, sf_dir, make, *args):
    """A test memo: its value is whatever ``make(spark, *args)`` builds."""
    return make(spark, *args)


def _cached(spark):
    df = spark.range(32).cache()
    df.count()
    return df


def _persisted(spark):
    df = spark.range(32).persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _eager_checkpoint(spark):
    df = spark.range(64).localCheckpoint()
    df.count()
    return df


def _lazy_checkpoint(spark):
    return spark.range(16).localCheckpoint(eager=False)


def _tuple(spark):
    return _cached(spark), _persisted(spark), 7


def _from_rdd(spark, rdd):
    return spark.createDataFrame(rdd, "x long")


def _cached_partitions(spark, rdd_id: int) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos if i.id() == rdd_id)


def test_evict_releases_warm_index(spark):
    post, _stats, _n = search._warm_index(spark, SF, 1)
    post.count()
    assert post.storageLevel.useMemory  # cached
    dropped = caches.evict(SF)
    assert dropped >= 1
    assert not post.storageLevel.useMemory  # released
    assert all(key[1] != SF for key in search._warm_index.entries)


def test_evict_is_per_sf_dir(spark):
    search._warm_index(spark, SF, 1)
    sh = dedup._shingles_cached(spark, SF)
    sh.count()
    # evicting a different corpus drops only that corpus's entries
    caches.evict(SF_MED)
    assert all(key[1] != SF_MED for store in caches._STORES for key in store)
    assert any(key[1] == SF for key in search._warm_index.entries)
    assert any(key[1] == SF for key in dedup._shingles_cached.entries)
    assert sh.storageLevel.useMemory
    caches.clear()
    assert not search._warm_index.entries and not dedup._shingles_cached.entries
    assert not sh.storageLevel.useMemory


def test_warm_index_keys_and_evicts_each_k(spark):
    app = spark.sparkContext.applicationId
    post1, _s1, _n1 = search._warm_index(spark, SF, 1)
    post2, _s2, _n2 = search._warm_index(spark, SF, 2)
    assert post1 is not post2
    assert {(app, SF, 1), (app, SF, 2)} <= set(search._warm_index.entries)
    # a hit returns the stored value, not a rebuild
    assert search._warm_index(spark, SF, 2)[0] is post2
    post1.count()
    post2.count()
    assert caches.evict(SF) >= 2
    assert not search._warm_index.entries
    assert not post1.storageLevel.useMemory
    assert not post2.storageLevel.useMemory


def test_memo_body_runs_once_per_key(spark):
    calls = []

    def merges(spark):
        calls.append(1)
        return [(0, "a", "b", 3), (1, "ab", "c", 2)]

    first = _probe(spark, "/tmp/evict_probe_once", merges)
    assert _probe(spark, "/tmp/evict_probe_once", merges) is first
    assert len(calls) == 1
    _probe(spark, "/tmp/evict_probe_once_b", merges)
    assert len(calls) == 2
    caches.evict("/tmp/evict_probe_once")
    caches.evict("/tmp/evict_probe_once_b")


def test_evict_releases_cache(spark):
    df = _probe(spark, "/tmp/evict_probe_cache", _cached)
    assert df.storageLevel.useMemory
    assert caches.evict("/tmp/evict_probe_cache") == 1
    assert not df.storageLevel.useMemory


def test_evict_releases_persist_memory_and_disk(spark):
    df = _probe(spark, "/tmp/evict_probe_persist", _persisted)
    assert df.storageLevel.useMemory and df.storageLevel.useDisk
    assert caches.evict("/tmp/evict_probe_persist") == 1
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_evict_releases_lazy_localcheckpoint_after_first_action(spark):
    df = _probe(spark, "/tmp/evict_probe_lazy", _lazy_checkpoint)
    jrdd = df._jdf.queryExecution().analyzed().rdd()
    assert df.count() == 16  # first action materializes the checkpoint
    assert _cached_partitions(spark, jrdd.id()) > 0
    assert caches.evict("/tmp/evict_probe_lazy") == 1
    assert not jrdd.getStorageLevel().useMemory()
    assert _cached_partitions(spark, jrdd.id()) == 0


def test_evict_releases_localcheckpoint_blocks(spark):
    """caches.evict() on a localCheckpoint()ed memo entry must release
    the checkpoint RDD blocks, not just call DataFrame.unpersist()
    (r11 ADVICE: evicted doremi memos left blocks pinned on executors
    until ContextCleaner GC)."""
    sc = spark.sparkContext._jsc.sc()
    df = _probe(spark, "/tmp/evict_probe_r12", _eager_checkpoint)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    rid = plan.rdd().id()
    assert sc.getPersistentRDDs().contains(rid)
    assert caches.evict("/tmp/evict_probe_r12") == 1
    assert not sc.getPersistentRDDs().contains(rid)


def test_evict_still_releases_local_checkpoints(spark):
    """The r11 fix stays effective under the r12 provenance guard: a
    memoized localCheckpoint()ed DataFrame's blocks ARE released on
    evict."""
    df = _probe(spark, "/tmp/fake_sf2", lambda s: s.range(10).localCheckpoint())
    jrdd = df._jdf.queryExecution().analyzed().rdd()
    assert jrdd.getStorageLevel().useMemory()
    assert caches.evict("/tmp/fake_sf2") == 1
    assert not jrdd.getStorageLevel().useMemory()


def test_evict_leaves_foreign_rdd_backed_frames_alone(spark):
    """r12 ADVICE (low, caches.py): the LogicalRDD eviction branch used
    to unpersist the source RDD of ANY RDD-backed DataFrame — e.g. one
    built via spark.createDataFrame(rdd) whose RDD is shared outside
    the memo. Now guarded on localCheckpoint provenance."""
    sc = spark.sparkContext
    rdd = sc.parallelize([(1,), (2,)]).persist()
    rdd.count()
    _probe(spark, "/tmp/fake_sf", _from_rdd, rdd)
    assert caches.evict("/tmp/fake_sf") == 1
    # the foreign RDD's persistence survives eviction
    assert rdd.getStorageLevel().useMemory
    rdd.unpersist()


def test_evict_releases_every_frame_of_a_tuple(spark):
    cached, persisted, n = _probe(spark, "/tmp/evict_probe_tuple", _tuple)
    assert n == 7
    assert cached.storageLevel.useMemory and persisted.storageLevel.useMemory
    assert caches.evict("/tmp/evict_probe_tuple") == 1
    assert not cached.storageLevel.useMemory
    assert not persisted.storageLevel.useMemory


def test_evict_drops_non_dataframe_values(spark):
    merges = [(0, "a", "b", 3), (1, "ab", "c", 2)]
    _probe(spark, "/tmp/evict_probe_merges", lambda s: merges)
    assert list(caches.frames(merges)) == []
    assert caches.evict("/tmp/evict_probe_merges") == 1
    assert all(key[1] != "/tmp/evict_probe_merges" for key in _probe.entries)
