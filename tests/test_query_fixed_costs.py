"""The query path's per-call fixed costs, gated for equal results:
df/cf lookups read term_stats on the driver (no Spark job), postings
term filters are one SQL IN expression (the same rows and plan as
Column.isin), and a search_many batch answers bit-identically to the
single-query calls on an index with tombstones and replaced keys."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row
from lucene_solr_spark.indexing.build import (
    IndexWriter,
    append_documents,
    delete_docs,
)
from lucene_solr_spark.search.executor import IndexSearcher, terms_in

VOCAB = [f"w{i:02d}" for i in range(40)]
# whitespace-analyzed, so these reach the index verbatim
SPECIAL = ["o'neil", "back\\slash", "50%", "café", "naïve", "日本語",
           "${java.home}", "it''s"]
ABSENT = ["zz_absent", "zz'absent", "zz\\absent", "zz%absent", "zzé",
          "${user.dir}", "w99"]
N_BASE = 160
DELETED = [3, 17, 40, 41, 99]   # docIDs
REPLACED = range(8)             # corpus rows whose keys the append reuses


def _doc_id(i: int) -> int:
    """docID of base corpus row i: its rank in (repo, path, commit)."""
    key = lambda j: tuple(row(j)[c] for c in ("repo", "path", "commit"))  # noqa: E731
    return sorted(range(N_BASE), key=key).index(i)


def _content(i: int, rnd: random.Random) -> str:
    words = rnd.choices(VOCAB, weights=[1 / (r + 1) for r in
                                        range(len(VOCAB))],
                        k=rnd.randint(6, 16))
    if i % 5 == 0:
        words.append(SPECIAL[(i // 5) % len(SPECIAL)])
    return " ".join(words)


def _docs(lo: int, hi: int, seed: int, key_of=row):
    rnd = random.Random(seed)
    return [{**key_of(i), "content": _content(i, rnd)}
            for i in range(lo, hi)]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """'built': a fresh index; 'appended': the same build, then
    tombstones, then an append that adds new docs and replaces the
    keys of rows REPLACED (their old versions become tombstones too)."""
    base = spark.createDataFrame(_docs(0, N_BASE, 1), schema=CORPUS_SCHEMA)
    out = {}
    for stage in ("built", "appended"):
        d = str(tmp_path_factory.mktemp(stage))
        IndexWriter(spark, d, docs_per_segment=32, n_batches=2,
                    analyzer="whitespace").build(base)
        out[stage] = d
    d = out["appended"]
    delete_docs(spark, d, spark.createDataFrame(
        [(i,) for i in DELETED], "doc_id long"))
    delta = _docs(N_BASE, N_BASE + 24, 2) + [
        {**r, "content": r["content"] + " zz'append naïve"}
        for r in _docs(REPLACED.start, REPLACED.stop, 3)]
    append_documents(spark, d, spark.createDataFrame(
        delta, schema=CORPUS_SCHEMA))
    return out


def _jobs_in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("bloom", [False, True], ids=["plain", "bloom"])
@pytest.mark.parametrize("stage", ["built", "appended"])
def test_lookups_run_no_job_and_match_the_scan(spark, indexes, stage,
                                               bloom):
    s = IndexSearcher(spark, indexes[stage])
    if bloom:
        assert s.enable_bloom() is not None
    present = [r["term"] for r in
               s._term_stats.orderBy("term").limit(30).collect()]
    present += SPECIAL + (["zz'append"] if stage == "appended" else [])
    terms = present + ABSENT
    sc = spark.sparkContext
    want = _jobs_in_group(sc, f"scan-{stage}-{bloom}", lambda: {
        r["term"]: (r["df"], r["cf"]) for r in
        s._term_stats.filter(F.col("term").isin(terms)).collect()})
    # the scan is the reference, and proves the job tracking works
    assert sc.statusTracker().getJobIdsForGroup(f"scan-{stage}-{bloom}")
    assert set(want) == set(present)

    group = f"lookup-{stage}-{bloom}"
    dfs, cfs = _jobs_in_group(sc, group, lambda: (
        s._lookup_dfs(terms), s._lookup_cfs(terms)))
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert dfs == {t: df for t, (df, _cf) in want.items()}
    assert cfs == {t: cf for t, (_df, cf) in want.items()}
    # answered from the cache the second time, absent terms included
    assert s._lookup_dfs(ABSENT + SPECIAL[:2]) == {
        t: want[t][0] for t in SPECIAL[:2]}


def _rows(df):
    return sorted((r["term"], r["seg_id"]) for r in
                  df.select("term", "seg_id").collect())


@pytest.mark.parametrize("case", ["empty", "300_terms", "special"])
def test_terms_in_matches_isin(spark, indexes, case):
    s = IndexSearcher(spark, indexes["appended"])
    vocab = [r["term"] for r in s._term_stats.select("term").collect()]
    terms = {"empty": [],
             "300_terms": (vocab * 8)[:290] + ABSENT + SPECIAL[:3],
             "special": SPECIAL + ABSENT + ["zz'append"]}[case]
    if case == "300_terms":
        assert len(terms) == 300
    want = _rows(s._postings.filter(F.col("term").isin(terms)))
    got = _rows(s._postings.filter(terms_in(terms)))
    assert got == want
    assert bool(want) == (case != "empty")
    # the value itself round-trips: a one-column frame of odd strings
    odd = SPECIAL + ABSENT + ["", "a\nb", "\\'", "'\\", "%_%", " ",
                              "\U0001f600x", "x`y", "$", "{}"]
    frame = spark.createDataFrame([(t,) for t in odd], "term string")
    subset = odd[::2]
    assert sorted(r["term"] for r in
                  frame.filter(terms_in(subset)).collect()) == sorted(subset)


def test_terms_in_keeps_the_in_filter_on_the_cached_scan(spark, indexes):
    s = IndexSearcher(spark, indexes["built"])
    assert s.postings_cached
    plan = s._postings.filter(terms_in(VOCAB[:20]))._jdf \
        .queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines()
                if "InMemoryTableScan" in line)
    # the predicate reaches the cached scan, where batch min/max
    # statistics on the term column prune
    assert "INSET" in scan or " IN (" in scan


def _hits(rows):
    return sorted((int(r["doc_id"]), np.float32(r["score"]).tobytes())
                  for r in rows)


@pytest.mark.parametrize("k", [10, None], ids=["k10", "all"])
def test_search_many_matches_single_queries_with_tombstones(spark, indexes,
                                                            k):
    s = IndexSearcher(spark, indexes["appended"])
    gone = set(DELETED) | {_doc_id(i) for i in REPLACED}
    # a surviving base doc's first three words make a phrase that hits
    live = next(i for i in range(REPLACED.stop, N_BASE)
                if _doc_id(i) not in gone)
    phrase = " ".join(_docs(0, N_BASE, 1)[live]["content"].split()[:3])
    batch = [
        {"query_text": "w00 w01 w02", "mode": "or", "mm": 0,
         "exclude": ""},
        {"query_text": "w01 w03", "mode": "and", "mm": 0, "exclude": ""},
        {"query_text": "w00 w02 w05 naïve", "mode": "or", "mm": 2,
         "exclude": ""},
        {"query_text": "w00 w04", "mode": "or", "mm": 0,
         "exclude": "w01"},
        phrase,
        {"query_text": "zz_absent ${user.dir}", "mode": "or", "mm": 0,
         "exclude": ""},
        "w01 zz_absent",
        {"query_text": "o'neil café back\\slash w07", "mode": "or",
         "mm": 0, "exclude": ""},
    ]
    got: dict = {}
    for r in s.search_many(batch, k=k).collect():
        got.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(batch):
        if isinstance(q, str):
            single = s.search_phrase(q, k=k)
        else:
            single = s.search(q["query_text"], k=k, mode=q["mode"],
                              min_should_match=q["mm"],
                              exclude=q["exclude"])
        want = single.collect()
        assert _hits(got.get(qid, [])) == _hits(want), (qid, q)
        if k is not None:  # same order too: score desc, doc_id asc
            assert [r["doc_id"] for r in got.get(qid, [])] == [
                r["doc_id"] for r in want]
    assert got[0] and got[4] and 5 not in got and 6 not in got
    # tombstoned and replaced docs never come back
    assert not gone & {r["doc_id"] for rs in got.values() for r in rs}
