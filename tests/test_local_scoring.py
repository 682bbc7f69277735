"""Single queries scored on the driver: when the postings are cached
and no larger than build.LOCAL_POSTINGS_MAX_BYTES, IndexSearcher
holds the index on the driver and answers search / search_phrase (and
the span and multi-phrase surfaces, which share the execution seam)
in-process. Every routed surface must return bit-identical (doc_id,
float32 score) rows, in order, to the distributed path, on an index
with tombstones and replaced keys; the driver path runs no Spark job
per query and none at open."""

import random

import numpy as np
import pytest

from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row
from lucene_solr_spark.indexing.build import (
    IndexWriter,
    append_documents,
    delete_docs,
)
from lucene_solr_spark.search import spans as SP
from lucene_solr_spark.search.executor import IndexSearcher

VOCAB = [f"w{i:02d}" for i in range(30)]
N_BASE = 160
DELETED = [3, 17, 40, 41, 99]   # docIDs
REPLACED = range(8)             # corpus rows whose keys the append reuses


def _docs(lo, hi, seed):
    rnd = random.Random(seed)
    return [{**row(i), "content": " ".join(rnd.choices(
        VOCAB, weights=[1 / (r + 1) for r in range(len(VOCAB))],
        k=rnd.randint(6, 20)))} for i in range(lo, hi)]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    """A 2-batch build, tombstones, then an append that adds docs and
    replaces the keys of rows REPLACED."""
    d = str(tmp_path_factory.mktemp("local"))
    IndexWriter(spark, d, docs_per_segment=32, n_batches=2,
                analyzer="whitespace").build(spark.createDataFrame(
                    _docs(0, N_BASE, 1), schema=CORPUS_SCHEMA))
    delete_docs(spark, d, spark.createDataFrame(
        [(i,) for i in DELETED], "doc_id long"))
    append_documents(spark, d, spark.createDataFrame(
        _docs(N_BASE, N_BASE + 24, 2) + _docs(REPLACED.start,
                                               REPLACED.stop, 3),
        schema=CORPUS_SCHEMA))
    return d


@pytest.fixture(scope="module")
def searchers(spark, open_distributed, index_dir):
    local = IndexSearcher(spark, index_dir)
    dist = open_distributed(spark, index_dir)
    assert local._local_postings is not None
    assert dist._local_postings is None and dist._segs_bc is not None
    return local, dist


def _hits(df):
    return [(int(r["doc_id"]), np.float32(r["score"]).tobytes())
            for r in df.collect()]


SEARCHES = [
    ("or", "w00 w01 w05", {}),
    ("and", "w01 w03", {"mode": "and"}),
    ("mm", "w00 w02 w05 w09", {"min_should_match": 2}),
    ("exclude", "w00 w04", {"exclude": "w01"}),
    ("wand_off", "w00 w01 w05", {"wand": False}),
    ("after", "w00 w01 w05", {"after": (1.0, 50)}),
    ("all", "w02 w07", {"k": None}),
    ("k3", "w04 w11 w20", {"k": 3}),
    ("dismax", "w00 w06", {"mode": "dismax", "tie": 0.1}),
    ("classic", "w00 w03 w08", {"similarity": "classic"}),
    ("lmdirichlet", "w00 w03 w08", {"similarity": "lmdirichlet"}),
    ("dfr", "w01 w12", {"similarity": "dfr"}),
    ("ib", "w01 w12", {"similarity": "ib"}),
    ("sb_grid", "w01 w12", {"similarity": "dfr:g:l:h2"}),
    ("multi", "w02 w05", {"similarity": "multi:bm25+classic"}),
    ("absent", "zz_absent qq_absent", {}),
    ("and_absent", "w01 zz_absent", {"mode": "and"}),
]


@pytest.mark.parametrize("text,kw", [(t, kw) for _, t, kw in SEARCHES],
                         ids=[n for n, _, _ in SEARCHES])
def test_search_matches_distributed(searchers, text, kw):
    local, dist = searchers
    got, want = _hits(local.search(text, **kw)), _hits(dist.search(text, **kw))
    assert got == want
    if "absent" not in text:
        assert got


PHRASES = [
    ("exact", "w00 w01", 0),
    ("exact3", "w00 w00 w01", 0),
    ("sloppy", "w01 w00", 2),
    ("sloppy_far", "w00 w03 w01", 4),
    ("absent", "w00 zz_absent", 0),
]


@pytest.mark.parametrize("k", [10, None], ids=["k10", "all"])
@pytest.mark.parametrize("text,slop", [(t, s) for _, t, s in PHRASES],
                         ids=[n for n, _, _ in PHRASES])
def test_search_phrase_matches_distributed(searchers, text, slop, k):
    local, dist = searchers
    got = _hits(local.search_phrase(text, k=k, slop=slop))
    assert got == _hits(dist.search_phrase(text, k=k, slop=slop))
    assert bool(got) == ("absent" not in text)


def test_seam_surfaces_match_distributed(searchers):
    """search_spans, search_multi_phrase and search_ngram_phrase run
    through the same seam."""
    local, dist = searchers
    near = SP.SpanNear((SP.SpanTerm("w00"), SP.SpanTerm("w02")), slop=3,
                       in_order=False)
    calls = [
        lambda s: s.search_spans(near, k=10),
        lambda s: s.search_spans(SP.SpanTerm("zz_absent"), k=10),
        lambda s: s.search_multi_phrase([("w00", "w03"), ("w01",)], k=10),
        lambda s: s.search_multi_phrase([("w00", "w03"), ("w01",)],
                                        k=None, slop=2),
        lambda s: s.search_multi_phrase([("w02", "w05")], k=5),
        lambda s: s.search_ngram_phrase(["w00", "w01", "w02"], 2, k=10),
    ]
    for i, call in enumerate(calls):
        got = _hits(call(local))
        assert got == _hits(call(dist)), i
        assert bool(got) == (i != 1), i


def test_driver_path_runs_no_job(spark, index_dir, count_jobs):
    s, n_open = count_jobs(lambda: IndexSearcher(spark, index_dir))
    assert s.snap.tables.get("tombstones")
    assert n_open == 0
    assert s._local_postings is not None
    rows, n = count_jobs(lambda: s.search("w00 w01", k=5).collect())
    assert rows and n == 0
    rows, n = count_jobs(lambda: s.search_phrase("w00 w01").collect())
    assert rows and n == 0
    rows, n = count_jobs(lambda: s.search("zz_absent").collect())
    assert rows == [] and n == 0
    # tombstoned and replaced docs never come back
    assert not set(DELETED) & {r["doc_id"] for r in
                               s.search("w00", k=None).collect()}


def test_empty_boolean_results_run_no_job(searchers, count_jobs):
    """A boolean result known empty before any kernel runs is a local
    relation: collecting it runs no Spark job."""
    local, _ = searchers
    rows, n = count_jobs(
        lambda: local.search_boolean("zz_absent qq_absent").collect())
    assert rows == [] and n == 0
    rows, n = count_jobs(lambda: local.search_clauses([]).collect())
    assert rows == [] and n == 0


@pytest.mark.parametrize("how", ["bound", "uncached"])
def test_distributed_path_selection(spark, open_distributed, index_dir,
                                    count_jobs, how):
    s, n_open = count_jobs(
        lambda: open_distributed(spark, index_dir) if how == "bound"
        else IndexSearcher(spark, index_dir, cache_postings=False))
    assert s._local_postings is None
    # the segment map is read with pyarrow on this path too
    assert s._segs_bc is not None and n_open == 0
    rows, n = count_jobs(lambda: s.search("w00 w01", k=5).collect())
    assert rows and n >= 1
    rows, n = count_jobs(lambda: s.search_phrase("w00 w01").collect())
    assert rows and n >= 1

