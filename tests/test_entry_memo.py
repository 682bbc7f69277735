"""driver_entry's session memo and its entry-index directory rule.

One memo holds every per-tier value the registry entries reuse (built
indexes, persisted signature tables, compiled plans): a value is
served only to the session it was built under, another session gets
one built under it in the same slot, and a replaced persisted
DataFrame is left cached. Entry indexes live in one directory per
tier's real path, so two tiers with one basename never share one."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from lucene_solr_spark import driver_entry as de


def _tier(path, n):
    """A tier directory holding an n-doc ``documents`` table."""
    (path / "documents.parquet").mkdir(parents=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": [f"doc word{i} common shared tail" for i in range(n)],
        "lang": ["en"] * n,
    }), path / "documents.parquet" / "part-0.parquet")
    return str(path)


def _cached(df):
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_memo_serves_its_session_and_replaces_across_sessions(spark,
                                                              tmp_path):
    sf_dir = _tier(tmp_path / "sf_tiny", 6)
    other = spark.newSession()
    first = de._shingles_df(spark, sf_dir)
    assert de._shingles_df(spark, sf_dir) is first
    n = first.count()
    persisted = _persisted_rdds(spark)
    second = de._shingles_df(other, sf_dir)
    assert second is not first
    assert second.sparkSession is other
    real = os.path.realpath(sf_dir)
    assert [k for k in de._MEMO if k[0] == "_shingles_df"
            and real in k] == [("_shingles_df", real)]
    held = de._MEMO[("_shingles_df", real)]
    assert held[0] is other and held[1] is second
    # the replaced value is not unpersisted: sessions share the cached
    # data of one plan, so the new value stays cached
    assert second.count() == n
    assert _cached(second) and _cached(first)
    assert persisted <= _persisted_rdds(spark)
    # the first session is served a value built under it again
    third = de._shingles_df(spark, sf_dir)
    assert third is not first and third.sparkSession is spark
    assert _cached(third)


def test_entry_dir_keys_on_the_real_path(tmp_path):
    a, b = tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    (tmp_path / "link").symlink_to(a)
    assert de._entry_dir(str(a)) != de._entry_dir(str(b))
    assert de._entry_dir(str(a) + "/") == de._entry_dir(str(a))
    assert de._entry_dir(str(tmp_path / "link")) == de._entry_dir(str(a))
    assert de._entry_dir(str(a), "_title") == de._entry_dir(str(a)) + "_title"
    assert os.path.basename(de._entry_dir(str(a))).startswith("sf0.01_")


def test_two_tiers_with_one_basename_get_their_own_index(spark, tmp_path):
    tiers = [_tier(tmp_path / "a" / "sf_tiny", 3),
             _tier(tmp_path / "b" / "sf_tiny", 5)]
    try:
        assert [de.get_searcher(spark, t).max_doc for t in tiers] == [3, 5]
    finally:
        for t in tiers:
            shutil.rmtree(de._entry_dir(t), ignore_errors=True)
