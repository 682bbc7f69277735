"""NRT writes on the driver path: when the index is held on the driver
(indexing.build.held_on_driver), append_documents and delete_docs run
in the driver process and write with pyarrow. One NRT script run twice,
once on that path and once with the bound at -1 (every write on Spark),
must leave the same rows in every table, the same snapshot props and
lineage, and bit-identical query results. A driver-path append of a
local pandas batch runs no Spark job, a delete only the collect of its
input. The searcher's open on the driver path builds no Spark plan:
it adds nothing to the cache manager, and explain reads the
driver-held postings."""

import json
import os
import random

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.catalog import Catalog
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row
from lucene_solr_spark.indexing import build
from lucene_solr_spark.indexing.build import (
    DOCS_SCHEMA,
    TERM_STATS_SCHEMA,
    TOMBSTONES_SCHEMA,
    IndexWriter,
    _as_list,
    _read_combined,
    append_documents,
    delete_docs,
    maybe_compact,
    read_postings_any,
    read_table,
)
from lucene_solr_spark.search.executor import IndexSearcher

VOCAB = [f"w{i:02d}" for i in range(30)]


def _docs(lo, hi, seed):
    rnd = random.Random(seed)
    return [{**row(i), "content": " ".join(rnd.choices(
        VOCAB, weights=[1 / (r + 1) for r in range(len(VOCAB))],
        k=rnd.randint(4, 16)))} for i in range(lo, hi)]


def _frame(spark, rows, pandas=True):
    return spark.createDataFrame(pd.DataFrame(rows) if pandas else rows,
                                 schema=CORPUS_SCHEMA)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _build(spark, d):
    IndexWriter(spark, d, docs_per_segment=32, n_batches=2,
                analyzer="whitespace").build(
        spark.createDataFrame(_docs(0, 90, 1), schema=CORPUS_SCHEMA))


def _script(spark, d):
    """build; append with replaced keys and a key repeated inside the
    batch; delete; append; compaction; append; delete."""
    _build(spark, d)
    repeated = {**row(95), "content": "w03 w03 w07"}
    append_documents(spark, d, _frame(
        spark, _docs(90, 110, 2) + _docs(0, 6, 3) + [repeated]))
    delete_docs(spark, d, _ids(spark, [3, 50, 100]))
    append_documents(spark, d, _frame(
        spark, _docs(110, 130, 4) + _docs(20, 24, 5), pandas=False))
    assert maybe_compact(spark, d, max_generations=1,
                         segs_per_group=2) is not None
    append_documents(spark, d, _frame(
        spark, _docs(130, 150, 6) + _docs(92, 95, 7)))
    delete_docs(spark, d, _ids(spark, [7, 7, 140]))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _table_rows(spark, kind, paths):
    """Rows of one snapshot table, read back with the declared schemas."""
    if kind == "postings":
        return _rows(read_postings_any(spark, paths))
    if kind == "segments":
        return [r for p in _as_list(paths)
                for r in _rows(_read_combined(spark, p, p))]
    schema = {"docs": DOCS_SCHEMA, "term_stats": TERM_STATS_SCHEMA,
              "tombstones": TOMBSTONES_SCHEMA}[kind]
    return _rows(read_table(spark, schema, paths))


@pytest.fixture(scope="module")
def two_runs(spark, tmp_path_factory):
    """The NRT script on the driver path and with every write on
    Spark: (driver-path dir, Spark dir)."""
    root = tmp_path_factory.mktemp("local_writes")
    local, dist = str(root / "local"), str(root / "spark")
    _script(spark, local)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build, "LOCAL_POSTINGS_MAX_BYTES", -1)
        _script(spark, dist)
    return local, dist


def test_both_paths_write_the_same_snapshots(spark, two_runs):
    cats = [Catalog(d) for d in two_runs]
    assert cats[0].latest_id() == cats[1].latest_id()
    for sid in range(cats[0].latest_id() + 1):
        a, b = (c.load(sid) for c in cats)
        assert (a.stage, a.parent, a.props, a.lineage) == (
            b.stage, b.parent, b.props, b.lineage), sid
        assert a.tables.keys() == b.tables.keys()
        for kind in ("postings", "segments", "docs", "term_stats",
                     "tombstones"):
            if kind in a.tables:
                assert (_table_rows(spark, kind, a.tables[kind])
                        == _table_rows(spark, kind, b.tables[kind])), (
                    sid, kind)
        if "collection_stats" in a.tables:
            with open(a.tables["collection_stats"]) as fa, \
                    open(b.tables["collection_stats"]) as fb:
                assert json.load(fa) == json.load(fb)


def test_driver_path_tables_are_laid_out_like_spark_s(two_runs):
    """Term stats: term-sorted files with disjoint ranges; one
    tombstone file; the segment output in is_meta directories."""
    snap = Catalog(two_runs[0]).latest()
    ts = snap.tables["term_stats"]
    files = [pq.read_table(os.path.join(ts, f))["term"].to_pylist()
             for f in sorted(os.listdir(ts)) if f.endswith(".parquet")]
    assert len(files) == build.term_stats_files(int(snap.props["max_doc"]))
    terms = [t for f in files for t in f]
    assert terms == sorted(set(terms))
    tomb = snap.tables["tombstones"]
    assert len([f for f in os.listdir(tomb) if f.endswith(".parquet")]) == 1
    seg = snap.tables["segments"][-1]
    assert sorted(os.listdir(seg)) == ["is_meta=false", "is_meta=true"]


def _hits(df):
    return [(int(r["doc_id"]), np.float32(r["score"]).tobytes())
            for r in df.collect()]


@pytest.mark.parametrize("q", [
    ("search", "w00 w01 w05", {}),
    ("search", "w03 w07", {"mode": "and"}),
    ("search", "w02 w09 w11", {"k": None}),
    ("search_phrase", "w03 w03", {}),
    ("search_phrase", "w00 w01", {"k": None}),
])
def test_both_paths_answer_bit_identically(spark, two_runs, q):
    surface, text, kw = q
    a, b = (getattr(IndexSearcher(spark, d), surface)(text, **kw)
            for d in two_runs)
    got = _hits(a)
    assert got and got == _hits(b)


def test_driver_path_append_runs_no_job_and_delete_one(
        spark, tmp_path, count_jobs):
    d = str(tmp_path / "idx")
    _build(spark, d)
    replacing = _docs(10, 14, 9)
    keys = {(r["repo"], r["path"], r["commit"]) for r in replacing}
    replaced = [r["doc_id"] for r in read_table(
        spark, DOCS_SCHEMA, Catalog(d).latest().tables["docs"]).collect()
        if (r["repo"], r["path"], r["commit"]) in keys]
    batch = _frame(spark, _docs(90, 120, 8) + replacing)
    snap, n_append = count_jobs(lambda: append_documents(spark, d, batch))
    assert snap.props["max_doc"] == 124 and n_append == 0
    dels = _ids(spark, [5, 100])
    snap, n_delete = count_jobs(lambda: delete_docs(spark, d, dels))
    assert snap.stage == "delete" and n_delete == 1
    tomb = pq.read_table(snap.tables["tombstones"])["doc_id"].to_pylist()
    assert len(replaced) == 4
    assert tomb == sorted({*replaced, 5, 100})


@pytest.mark.parametrize("pandas", [True, False], ids=["pandas", "rows"])
def test_a_batch_over_one_bucket_is_appended_on_spark(
        spark, tmp_path, monkeypatch, count_jobs, pandas):
    """A batch over one key bucket goes to the Spark plan, and its
    whole rows never come to the driver: only the bounded key take
    decides the path."""
    d = str(tmp_path / "idx")
    _build(spark, d)
    monkeypatch.setattr(build, "DOCS_PER_BUCKET", 8)
    batch = _frame(spark, _docs(90, 100, 10), pandas=pandas)
    frame_cls = type(batch)
    collected, real_collect = [], frame_cls.collect

    def collect(self):
        collected.append(self.columns)
        return real_collect(self)

    monkeypatch.setattr(frame_cls, "collect", collect)
    snap, n_jobs = count_jobs(lambda: append_documents(spark, d, batch))
    assert snap.props["max_doc"] == 100 and n_jobs > 0
    assert collected and not any("content" in c for c in collected)


def _cache_entries(spark):
    """Entries in the shared cache manager (every persist() adds one)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_driver_path_open_builds_no_spark_plan(spark, built,
                                               open_distributed):
    index_dir, _ = built
    before = _cache_entries(spark)
    s = IndexSearcher(spark, index_dir)
    assert s._local_postings is not None
    assert _cache_entries(spark) == before
    assert not {"_postings", "_segments", "_term_stats",
                "_docs"} & vars(s).keys()
    queries = [{"query_text": "common_util base_handler"},
               {"query_text": "merge data", "mode": "and"},
               "seven hundred"]
    got, want = (x.search_many(queries, k=5) for x in (
        s, open_distributed(spark, index_dir)))
    assert _rows(got) == _rows(want) and _rows(got)


def test_explain_on_driver_path_runs_no_job(spark, built, open_distributed,
                                            count_jobs):
    index_dir, _ = built
    s = IndexSearcher(spark, index_dir)
    dist = open_distributed(spark, index_dir)
    q = "common_util base_handler"
    hits = s.search(q, k=3).collect()
    assert hits
    for h in hits:
        got, n_jobs = count_jobs(lambda: s.explain(q, h["doc_id"]))
        assert n_jobs == 0
        assert got["match"] and got == dist.explain(q, h["doc_id"])
