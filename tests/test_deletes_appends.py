"""Deletes (tombstones), incremental append (updateDocuments), NRT
micro-batch indexing, and kill/resume — the index-mutation tier.
Oracle expectations are rebuilt from scratch: an appended+deleted index
must answer exactly like a fresh index over the surviving documents
(with the append's stats semantics: stats count tombstoned docs until
rebuild, exactly Lucene's maxDoc behavior)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, corpus_rows, row
from lucene_solr_spark.indexing.build import (
    IndexWriter,
    append_documents,
    delete_by_query,
    merge_postings,
)
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.executor import IndexSearcher


def _hits(df):
    return [(r["doc_id"], np.float32(r["score"])) for r in df.collect()]


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("mutidx"))
    corpus = spark.createDataFrame(corpus_rows(200), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=2).build(
        corpus
    )
    return index_dir


def test_delete_by_query_masks_docs(spark, base_index):
    searcher = IndexSearcher(spark, base_index)
    victim_term = "common_util"
    before = set(
        r["doc_id"]
        for r in searcher.search(victim_term, k=None).collect()
    )
    assert before
    delete_by_query(spark, base_index, victim_term)
    s2 = IndexSearcher(spark, base_index)
    assert s2.search(victim_term, k=10).count() == 0
    # unrelated docs still match, scores unchanged (stats keep maxDoc)
    other = s2.search("base_handler", k=None)
    got = {r["doc_id"] for r in other.collect()}
    assert got and not (got & before) == (got == got)  # sanity
    for r in other.collect():
        assert r["doc_id"] not in before
    # boolean + phrase paths honor tombstones too
    assert all(
        r["doc_id"] not in before
        for r in s2.search_boolean("base_handler core_ctx", k=None).collect()
    )


def test_append_then_search_matches_fresh_semantics(spark, tmp_path):
    index_dir = str(tmp_path / "appidx")
    first = spark.createDataFrame(corpus_rows(150), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1).build(
        first
    )
    extra = spark.createDataFrame(
        [row(i) for i in range(150, 230)], schema=CORPUS_SCHEMA
    )
    append_documents(spark, index_dir, extra)
    searcher = IndexSearcher(spark, index_dir)
    assert searcher.max_doc == 230

    # oracle over all 230 docs in engine docID order
    docs_sorted = sorted(
        [row(i) for i in range(150)],
        key=lambda r: (r["repo"], r["path"], r["commit"]),
    )
    extra_sorted = sorted(
        [row(i) for i in range(150, 230)],
        key=lambda r: (r["repo"], r["path"], r["commit"]),
    )
    all_docs = [(i, r["content"]) for i, r in enumerate(docs_sorted)] + [
        (150 + i, r["content"]) for i, r in enumerate(extra_sorted)
    ]
    oracle = OracleIndex.build(all_docs)
    for q, mode in [("common_util", "or"), ("seven hundred", "and"),
                    ("base_handler core_ctx", "or")]:
        got = _hits(searcher.search(q, k=10, mode=mode))
        want = oracle.search(q, k=10, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (dg, sg), (dw, sw) in zip(got, want):
            assert sg.tobytes() == np.float32(sw).tobytes(), q

    # merge after append keeps answers identical
    merge_postings(spark, index_dir, segs_per_group=2)
    s3 = IndexSearcher(spark, index_dir)
    got = _hits(s3.search("common_util", k=10))
    want = oracle.search("common_util", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_append_replaces_existing_keys(spark, tmp_path):
    index_dir = str(tmp_path / "updidx")
    first = spark.createDataFrame(corpus_rows(100), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1).build(
        first
    )
    # re-add docs 0..9 with new content under the SAME keys
    updated = [dict(row(i), content=f"replacement_token_xyz doc {i}")
               for i in range(10)]
    append_documents(
        spark, index_dir, spark.createDataFrame(updated, schema=CORPUS_SCHEMA)
    )
    searcher = IndexSearcher(spark, index_dir)
    hits = searcher.search("replacement_token_xyz", k=None)
    assert hits.count() == 10
    assert all(r["doc_id"] >= 100 for r in hits.collect())
    # the old versions are tombstoned: their (pre-append) doc_ids never
    # surface again. docIDs are rank-by-key, so resolve them via the
    # docs table (old generation = ids < 100)
    upd_keys = {(d["repo"], d["path"], d["commit"]) for d in updated}
    old_ids = {
        r["doc_id"]
        for r in searcher._docs.select("repo", "path", "commit", "doc_id")
        .collect()
        if (r["repo"], r["path"], r["commit"]) in upd_keys
        and r["doc_id"] < 100
    }
    assert len(old_ids) == 10
    old_hits = searcher.search("common_util base_handler core_ctx shared_buf",
                               k=None)
    assert all(r["doc_id"] not in old_ids for r in old_hits.collect())


def test_nrt_micro_batches(spark, tmp_path):
    from lucene_solr_spark.streaming.nrt import start_nrt_indexer

    index_dir = str(tmp_path / "nrtidx")
    stream_src = str(tmp_path / "stream_in")
    checkpoint = str(tmp_path / "ckpt")
    first = spark.createDataFrame(corpus_rows(80), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1).build(
        first
    )
    batch = spark.createDataFrame(
        [row(i) for i in range(80, 120)], schema=CORPUS_SCHEMA
    )
    batch.write.mode("overwrite").parquet(stream_src)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(stream_src)
    q = start_nrt_indexer(
        spark, index_dir, stream, checkpoint, availableNow=True
    )
    q.awaitTermination(120)
    searcher = IndexSearcher(spark, index_dir)
    assert searcher.max_doc == 120


def test_kill_resume_matches_clean_build(spark, tmp_path):
    """Crash after the first committed batch snapshot; resume must skip
    batch 0, rebuild the rest, and converge to the same lineage and
    query answers as an uninterrupted build."""
    corpus_data = corpus_rows(120)
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")
    corpus = spark.createDataFrame(corpus_data, schema=CORPUS_SCHEMA)
    IndexWriter(spark, clean_dir, docs_per_segment=32, n_batches=2).build(
        corpus
    )

    w = IndexWriter(spark, crash_dir, docs_per_segment=32, n_batches=2)
    real = w._batch_lineage
    calls = {"n": 0}

    def dying(path, b):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-batch-2")
        return real(path, b)

    w._batch_lineage = dying
    with pytest.raises(RuntimeError):
        w.build(corpus)
    from lucene_solr_spark.catalog import Catalog

    # the crash path is not vacuous: batch 0 committed, and the planned
    # buckets span at least two batches, so resume has work left
    crashed = Catalog(crash_dir).latest()
    assert crashed.stage == "segments"
    assert crashed.props["batches_done"] == [0]
    assert len(crashed.props["key_bounds"]) + 1 >= 2
    # fresh writer, resume from the committed generation
    snap = IndexWriter(
        spark, crash_dir, docs_per_segment=32, n_batches=2
    ).build(corpus, resume=True)
    assert snap.stage == "commit"
    by_part_crash = {r["partition_id"]: r["input_sha256"]
                     for r in snap.lineage}
    clean_snap = Catalog(clean_dir).latest()
    by_part_clean = {r["partition_id"]: r["input_sha256"]
                     for r in clean_snap.lineage}
    assert by_part_crash == by_part_clean
    a = _hits(IndexSearcher(spark, crash_dir).search("common_util", k=10))
    b = _hits(IndexSearcher(spark, clean_dir).search("common_util", k=10))
    assert a == b


def test_tiered_compaction_bounds_generations(spark, tmp_path):
    """TieredMergePolicy analogue: maybe_compact fires only past the
    generation threshold and queries stay identical across it."""
    from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, corpus_rows
    from lucene_solr_spark.indexing.build import (
        IndexWriter,
        append_documents,
        maybe_compact,
        _as_list,
    )
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.search.executor import IndexSearcher

    index_dir = str(tmp_path / "tieridx")
    rows = corpus_rows(120)
    corpus = spark.createDataFrame(rows[:60], schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=32, n_batches=1).build(
        corpus
    )
    for lo in range(60, 120, 20):
        batch = spark.createDataFrame(rows[lo:lo + 20],
                                      schema=CORPUS_SCHEMA)
        append_documents(spark, index_dir, batch)
    snap = Catalog(index_dir).latest_at_stage("commit", "merge", "delete")
    n_gens = len(_as_list(snap.tables["postings"]))
    assert n_gens == 4  # base + 3 appends
    assert maybe_compact(spark, index_dir, max_generations=10) is None
    before = [
        (r["doc_id"], np.float32(r["score"]))
        for r in IndexSearcher(spark, index_dir)
        .search("common_util", k=10).collect()
    ]
    out = maybe_compact(spark, index_dir, max_generations=3)
    assert out is not None and out.stage == "merge"
    snap2 = Catalog(index_dir).latest_at_stage("commit", "merge", "delete")
    assert len(_as_list(snap2.tables["postings"])) == 1
    after = [
        (r["doc_id"], np.float32(r["score"]))
        for r in IndexSearcher(spark, index_dir)
        .search("common_util", k=10).collect()
    ]
    assert before == after


def test_append_crash_before_commit_is_invisible(spark, tmp_path):
    """Atomic append protocol (round-2 fix): every write goes to a NEW
    generation path and the single snapshot commit flips visibility —
    a crash anywhere before the commit leaves the live snapshot exactly
    as it was, and a replay succeeds without duplicate doc_ids."""
    from lucene_solr_spark import catalog as catmod
    from lucene_solr_spark.indexing import build as buildmod

    index_dir = str(tmp_path / "crashidx")
    first = spark.createDataFrame(corpus_rows(100), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1).build(
        first
    )
    before = IndexSearcher(spark, index_dir)
    base_hits = _hits(before.search("common_util", k=10))
    delta = spark.createDataFrame(
        [dict(row(i), content=f"crashy_token doc {i}")
         for i in range(100, 120)],
        schema=CORPUS_SCHEMA,
    )

    real_commit = catmod.Catalog.commit
    class Boom(RuntimeError):
        pass

    def exploding_commit(self, stage, **kw):
        if stage == "commit":
            raise Boom("simulated crash before snapshot commit")
        return real_commit(self, stage, **kw)

    catmod.Catalog.commit = exploding_commit
    try:
        import pytest as _pytest

        with _pytest.raises(Boom):
            buildmod.append_documents(spark, index_dir, delta)
    finally:
        catmod.Catalog.commit = real_commit

    # live snapshot untouched: same max_doc, same hits, no crashy docs
    mid = IndexSearcher(spark, index_dir)
    assert mid.max_doc == 100
    assert _hits(mid.search("common_util", k=10)) == base_hits
    assert mid.search("crashy_token", k=None).count() == 0

    # replay after the crash: clean append, no duplicate doc_ids
    buildmod.append_documents(spark, index_dir, delta)
    after = IndexSearcher(spark, index_dir)
    assert after.max_doc == 120
    assert after.search("crashy_token", k=None).count() == 20
    docs = after._docs.select("doc_id").collect()
    ids = [r["doc_id"] for r in docs]
    assert len(ids) == len(set(ids)) == 120


def test_append_crash_before_commit_is_invisible_on_spark(
        spark, tmp_path, spark_writers):
    """The same protocol on the Spark writers (an index not held on the
    driver)."""
    test_append_crash_before_commit_is_invisible(spark, tmp_path)


def test_null_key_columns_no_docid_collision(spark, tmp_path):
    """NULL doc-key columns (round-2 fix): the JVM distinct-struct
    count and the python dedup agree, so docIDs stay collision-free and
    every row is searchable."""
    index_dir = str(tmp_path / "nullidx")
    rows = corpus_rows(40)
    rows[3] = dict(rows[3], commit=None)
    rows[17] = dict(rows[17], repo=None)
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=16, n_batches=1).build(
        corpus
    )
    s = IndexSearcher(spark, index_dir)
    assert s.max_doc == 40
    docs = s._docs.select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in docs)
    assert ids == list(range(40))
    # all docs reachable (match-all over live docs)
    assert s.match_all_docs().count() == 40


def test_real_time_get_sees_post_open_commits(spark, tmp_path):
    """RealTimeGet: a searcher opened BEFORE an append/delete commit
    must still return the current version of a key (RealTimeGetComponent
    reads the newest state, not the caller's snapshot)."""
    index_dir = str(tmp_path / "rtgidx")
    first = spark.createDataFrame(corpus_rows(80), schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1).build(
        first
    )
    searcher = IndexSearcher(spark, index_dir)

    rows = [row(i) for i in range(80, 90)]
    keys = [(r["repo"], r["path"], r["commit"]) for r in rows]
    # not there yet
    assert searcher.real_time_get(keys).count() == 0

    # append commits AFTER the searcher opened; RTG must see the keys
    # without reopening
    append_documents(
        spark, index_dir,
        spark.createDataFrame(rows, schema=CORPUS_SCHEMA),
    )
    got = searcher.real_time_get(keys)
    assert got.count() == 10
    assert searcher.max_doc == 80  # pinned snapshot untouched

    # delete one key in a later commit; RTG drops it
    from lucene_solr_spark.indexing.build import delete_docs

    victim = keys[0]
    vid = [
        int(r["doc_id"]) for r in got.collect()
        if r["path"] == victim[1]
    ][0]
    delete_docs(
        spark, index_dir,
        spark.createDataFrame([(vid,)], "doc_id long"),
    )
    got2 = searcher.real_time_get(keys)
    assert got2.count() == 9
    assert victim[1] not in {r["path"] for r in got2.collect()}
