import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    s = get_spark(app_name="lss-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus():
    """sf-s tier: 300 docs (kept small so the pure-Python oracle stays
    fast in unit tests; bench tiers are generated separately)."""
    from lucene_solr_spark.corpusgen import corpus_rows

    return corpus_rows(300)


@pytest.fixture(scope="session")
def built(spark, small_corpus, tmp_path_factory):
    """One committed index + matching pure-Python oracle, shared by all
    read-only engine-vs-oracle gates (mutating tests build their own)."""
    from lucene_solr_spark.corpusgen import CORPUS_SCHEMA
    from lucene_solr_spark.indexing.build import IndexWriter
    from lucene_solr_spark.oracle import OracleIndex

    index_dir = str(tmp_path_factory.mktemp("idx"))
    corpus = spark.createDataFrame(small_corpus, schema=CORPUS_SCHEMA)
    writer = IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=3)
    snap = writer.build(corpus)
    assert snap.stage == "commit"

    # oracle over the SAME docID assignment (rank over repo,path,commit)
    docs_sorted = sorted(
        small_corpus, key=lambda r: (r["repo"], r["path"], r["commit"])
    )
    oracle = OracleIndex.build(
        [(i, r["content"]) for i, r in enumerate(docs_sorted)]
    )
    return index_dir, oracle


@pytest.fixture(scope="session")
def open_distributed():
    """open_distributed(spark, index_dir, **kw) -> an IndexSearcher that
    keeps single queries on Spark: its driver path is off
    (build.LOCAL_POSTINGS_MAX_BYTES -1 while it opens)."""
    from lucene_solr_spark.indexing import build
    from lucene_solr_spark.search.executor import IndexSearcher

    def open_(spark, index_dir, **kw):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(build, "LOCAL_POSTINGS_MAX_BYTES", -1)
            return IndexSearcher(spark, index_dir, **kw)

    return open_


@pytest.fixture
def spark_writers(monkeypatch):
    """Keeps one test's NRT appends and deletes (and searcher opens) on
    Spark: build.LOCAL_POSTINGS_MAX_BYTES -1, and the in-process writers
    fail the test if they are reached."""
    from lucene_solr_spark.indexing import build

    def unreachable(*_a, **_kw):
        raise AssertionError("in-process NRT write with the driver path off")

    monkeypatch.setattr(build, "LOCAL_POSTINGS_MAX_BYTES", -1)
    monkeypatch.setattr(build, "_append_local", unreachable)
    monkeypatch.setattr(build, "_write_tombstones", unreachable)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs fn ran), counted
    under a job group of its own."""
    import itertools

    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
