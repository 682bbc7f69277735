"""THE correctness gate: dual execution engine-vs-oracle (the
TestBoolean2/CheckHits pattern, lucene/core/src/test/.../search/
TestBoolean2.java:132-144). Every query of the reference set must be
rank-identical — same docIDs, same ranks, bitwise-equal float32 scores.
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, corpus_rows
from lucene_solr_spark.fixtures import QUERY_SET
from lucene_solr_spark.indexing.build import DOC_KEY, IndexWriter
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.executor import IndexSearcher

N_DOCS = 300


# `built` (index + oracle) now lives in conftest.py, session-scoped —
# shared by every read-only engine-vs-oracle gate.


def _run_engine(searcher, q, wand):
    df = searcher.search(
        q["query_text"], k=10, mode=q["mode"],
        min_should_match=q["mm"], exclude=q["exclude"], wand=wand,
    )
    return [(r["doc_id"], np.float32(r["score"])) for r in df.collect()]


@pytest.mark.parametrize("q", QUERY_SET, ids=[f"q{q['query_id']}_{q['kind']}" for q in QUERY_SET])
def test_rank_identical(spark, built, q):
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    got = _run_engine(searcher, q, wand=False)
    want = oracle.search(
        q["query_text"], k=10, mode=q["mode"],
        min_should_match=q["mm"], exclude=q["exclude"],
    )
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"docIDs diverge for q{q['query_id']}: {got} vs {want}"
    )
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == np.float32(sw).tobytes(), (
            f"score bits diverge q{q['query_id']} doc {dg}: {sg!r} vs {sw!r}"
        )


def test_collection_stats_match(spark, built, small_corpus):
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    assert searcher.max_doc == oracle.max_doc
    assert searcher.sum_ttf == oracle.sum_ttf


def test_term_stats_match_oracle(spark, built):
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    rows = searcher._term_stats.collect()
    assert len(rows) == len(oracle.postings)
    for r in rows[:200]:
        assert r["df"] == oracle.df(r["term"]), r["term"]


def test_sha256_invariant(spark, built, small_corpus):
    """Per-row invariant vs the input corpus: sha256(content) equality
    (BASELINE.json input_hint)."""
    index_dir, _ = built
    searcher = IndexSearcher(spark, index_dir)
    corpus = spark.createDataFrame(small_corpus, schema=CORPUS_SCHEMA)
    joined = searcher._docs.join(
        corpus.withColumn("sha_src", F.sha2("content", 256)), on=DOC_KEY
    )
    bad = joined.filter(F.col("content_sha256") != F.col("sha_src")).count()
    assert bad == 0
    assert joined.count() == searcher.max_doc


def test_docid_assignment_parallelism_invariant(spark, small_corpus):
    """docIDs must derive from data order only — never from partition
    enumeration (SURVEY.md section 7 hard part 5)."""
    from lucene_solr_spark.indexing.build import assign_doc_ids

    corpus = spark.createDataFrame(small_corpus, schema=CORPUS_SCHEMA)
    a = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in assign_doc_ids(corpus, num_partitions=2).collect()
    }
    b = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in assign_doc_ids(corpus.repartition(13), num_partitions=7).collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(len(a)))


@pytest.fixture(scope="module")
def merged(spark, built, tmp_path_factory):
    """Salted-merge generation over a copy of the built index
    (SegmentMerger / forceMerge analogue) — searched through the same
    API. The shared ``built`` index stays read-only: the copy's
    snapshots still name the built tables, and the merge writes its
    output and its commit under the copy."""
    from lucene_solr_spark.indexing.build import merge_postings

    index_dir, oracle = built
    copy = str(tmp_path_factory.mktemp("merged") / "idx")
    shutil.copytree(index_dir, copy)
    merge_postings(spark, copy, segs_per_group=2)
    return copy, oracle


@pytest.mark.parametrize(
    "q", QUERY_SET, ids=[f"q{q['query_id']}_{q['kind']}" for q in QUERY_SET]
)
def test_wand_equals_exhaustive(spark, built, q):
    """Dual execution: block-max WAND pruning must be score-safe —
    bitwise-identical top-k vs the exhaustive path (the TestBoolean2
    in-order/out-of-order duel transferred to our pruning axis)."""
    index_dir, _ = built
    searcher = IndexSearcher(spark, index_dir)
    on = _run_engine(searcher, q, wand=True)
    off = _run_engine(searcher, q, wand=False)
    assert [d for d, _ in on] == [d for d, _ in off]
    assert [s.tobytes() for _, s in on] == [s.tobytes() for _, s in off]


@pytest.mark.parametrize(
    "q", QUERY_SET, ids=[f"q{q['query_id']}_{q['kind']}" for q in QUERY_SET]
)
def test_merged_rank_identical_and_wand_safe(spark, merged, q):
    """After the salted merge the index must answer every query
    rank-identically (docIDs + float32 score bits) and WAND must stay
    score-safe on merged (chunk-split) posting rows."""
    index_dir, oracle = merged
    searcher = IndexSearcher(spark, index_dir)
    got = _run_engine(searcher, q, wand=True)
    off = _run_engine(searcher, q, wand=False)
    assert got == off
    want = oracle.search(
        q["query_text"], k=10, mode=q["mode"],
        min_should_match=q["mm"], exclude=q["exclude"],
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == np.float32(sw).tobytes()


from lucene_solr_spark.fixtures import PHRASE_QUERY_SET


@pytest.mark.parametrize("phrase", PHRASE_QUERY_SET)
def test_phrase_rank_identical(spark, built, phrase):
    """Exact phrase (positions tier): engine vs oracle, docIDs + f32
    score bits (ExactPhraseScorer semantics, hole-aware offsets)."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search_phrase(phrase, k=10).collect()
    ]
    want = oracle.search_phrase(phrase, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], phrase
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == np.float32(sw).tobytes()


@pytest.mark.parametrize("phrase", PHRASE_QUERY_SET[:3])
def test_phrase_after_merge(spark, merged, phrase):
    """Positions survive the salted merge (prox re-encode per chunk)."""
    index_dir, oracle = merged
    searcher = IndexSearcher(spark, index_dir)
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search_phrase(phrase, k=10).collect()
    ]
    want = oracle.search_phrase(phrase, k=10)
    assert [(d, np.float32(s).tobytes()) for d, s in got] == [
        (d, np.float32(s).tobytes()) for d, s in want
    ]


from lucene_solr_spark.fixtures import BOOLEAN_QUERY_SET
from lucene_solr_spark.oracle import OracleBoolean


@pytest.mark.parametrize("qs", BOOLEAN_QUERY_SET)
def test_boolean_query_rank_identical(spark, built, qs):
    """Classic query strings through the parser + BooleanScorer2
    composition vs the boolean oracle — docIDs and f32 score bits."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search_boolean(qs, k=10).collect()
    ]
    want = OracleBoolean(oracle).search(qs, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], qs
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == np.float32(sw).tobytes(), (qs, dg)


def test_search_after_paging(spark, built):
    """searchAfter: cursored page 2 == rows 11..20 of a k=20 search
    (IndexSearcher.java:234-250 semantics: strictly after the cursor in
    (score desc, doc asc) order)."""
    index_dir, _ = built
    searcher = IndexSearcher(spark, index_dir)
    full = _run_engine(searcher, {"query_text": "common_util",
                                  "mode": "or", "mm": 0, "exclude": ""},
                       wand=False)
    all20 = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search("common_util", k=20).collect()
    ]
    cur = all20[9]
    page2 = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search(
            "common_util", k=10, after=(float(cur[1]), int(cur[0]))
        ).collect()
    ]
    assert page2 == all20[10:20]
    assert full == all20[:10]


def test_boosted_function_query(spark, built):
    """BoostedQuery: score * f(doc) re-ranks; verify against a direct
    per-doc recomputation from the unboosted full result."""
    from pyspark.sql import functions as SF

    from lucene_solr_spark.functions.valuesource import boosted_search

    index_dir, _ = built
    searcher = IndexSearcher(spark, index_dir)
    attrs = searcher._docs.select(
        "doc_id", SF.length("path").alias("plen")
    )
    got = boosted_search(
        searcher, "common_util", SF.log(SF.lit(1.0) + SF.col("plen")),
        attrs, k=10,
    ).collect()
    base = {
        r["doc_id"]: r["score"]
        for r in searcher.search("common_util", k=None).collect()
    }
    plens = {r["doc_id"]: r["plen"] for r in attrs.collect()}
    import math

    want = sorted(
        ((d, float(s) * math.log(1.0 + plens[d])) for d, s in base.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (d, pytest.approx(s, rel=0, abs=0)) for d, s in want
    ]


def test_search_many_matches_individual(spark, built):
    """Batched execution: search_many must return bit-identical top-k
    per query vs the single-query paths (same kernels, one job)."""
    from lucene_solr_spark.fixtures import PHRASE_QUERY_SET, QUERY_SET

    index_dir, _ = built
    s = IndexSearcher(spark, index_dir)
    batch = list(QUERY_SET[:6]) + list(PHRASE_QUERY_SET[:2])
    res = s.search_many(batch, k=10).collect()
    got = {}
    for r in res:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], np.float32(r["score"]))
        )
    for qid, q in enumerate(batch):
        if isinstance(q, str):
            want_df = s.search_phrase(q, k=10)
        else:
            want_df = s.search(
                q["query_text"], k=10, mode=q["mode"],
                min_should_match=q["mm"], exclude=q["exclude"],
            )
        want = [(r["doc_id"], np.float32(r["score"]))
                for r in want_df.collect()]
        assert got.get(qid, []) == want, f"batch query {qid} diverges"


def test_search_many_executor_merge_path(spark, built):
    """Large-batch leg: when n_groups*n_queries*k exceeds the driver
    cap, the final merge runs executor-side (window top-k) — results
    must be identical to the driver merge."""
    from lucene_solr_spark.fixtures import QUERY_SET

    index_dir, _ = built
    s = IndexSearcher(spark, index_dir)
    batch = list(QUERY_SET[:4])
    small = s.search_many(batch, k=10).collect()
    s.SEARCH_MANY_DRIVER_MERGE_MAX = 0  # force the executor window path
    try:
        big = s.search_many(batch, k=10).collect()
    finally:
        del s.SEARCH_MANY_DRIVER_MERGE_MAX
    norm = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["doc_id"], np.float32(r["score"]).tobytes())
        for r in rows
    )
    assert norm(small) == norm(big)


SIMILARITIES = [
    "classic", "lmdirichlet", "dfr", "lmjelinekmercer", "ib",
    "dfr_inl2", "dfr_ifb2", "dfr_pl2", "ib_spl", "sweetspot",
    "multi:bm25+lmdirichlet", "multi:dfr+ib",
    # composed SimilarityBase grid sample: every BasicModel,
    # AfterEffect, Normalization, Distribution and Lambda appears
    # at least once (full grid available; see sb_parse)
    "dfr:be:l:h2", "dfr:d:b:h1", "dfr:g:l:h3", "dfr:ine:b:z",
    "dfr:if:no:no", "dfr:p:b:h1",
    "ib:ll:ttf:h2", "ib:spl:df:h3",
    "multi:dfr:be:l:h2+ib:ll:ttf:h1",
]


@pytest.mark.parametrize("similarity", SIMILARITIES)
@pytest.mark.parametrize("q", [QUERY_SET[0], QUERY_SET[2], QUERY_SET[3],
                               QUERY_SET[5]],
                         ids=lambda q: f"q{q['query_id']}")
def test_pluggable_similarity_rank_identical(spark, built, q, similarity):
    """Similarity seam (SURVEY.md section 2.11): classic TFIDF
    (DefaultSimilarity incl. queryNorm + coord chains) and LMDirichlet
    must be rank-identical with bitwise-equal float32 scores vs the
    pure-Python oracle running the same published formulas."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search(
            q["query_text"], k=10, mode=q["mode"],
            min_should_match=q["mm"], exclude=q["exclude"],
            similarity=similarity,
        ).collect()
    ]
    want = oracle.search(
        q["query_text"], k=10, mode=q["mode"],
        min_should_match=q["mm"], exclude=q["exclude"],
        similarity=similarity,
    )
    assert [d for d, _ in got] == [d for d, _ in want], (similarity, q)
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == np.float32(sw).tobytes(), (similarity, dg)


@pytest.mark.parametrize(
    "alias,composed",
    [("dfr", "dfr:g:b:h2"), ("dfr_inl2", "dfr:in:l:h2"),
     ("dfr_ifb2", "dfr:if:b:h2"), ("dfr_pl2", "dfr:p:l:h2"),
     ("ib", "ib:ll:df:h2"), ("ib_spl", "ib:spl:df:h2")],
)
def test_sb_composition_equals_fused_alias(spark, built, alias, composed):
    """The generic SimilarityBase composition must be bit-identical to
    the hand-fused score blocks for the named configs (DFRSimilarity /
    IBSimilarity ctor equivalences)."""
    index_dir, _ = built
    searcher = IndexSearcher(spark, index_dir)
    q = QUERY_SET[2]["query_text"]
    a = [(r["doc_id"], np.float32(r["score"]).tobytes())
         for r in searcher.search(q, k=10, similarity=alias).collect()]
    b = [(r["doc_id"], np.float32(r["score"]).tobytes())
         for r in searcher.search(q, k=10, similarity=composed).collect()]
    assert a == b, (alias, composed)


def test_cogroup_path_matches_broadcast_path(spark, built, count_jobs):
    """The at-scale cogroup execution (norms too big to broadcast) must
    return bit-identical results to the broadcast fast path: single
    queries (AND, phrase, classic OR) and a mixed search_many batch."""
    index_dir, _ = built
    s = IndexSearcher(spark, index_dir)
    assert s._segs_bc is not None  # small index: broadcast active
    batch = [
        {"query_text": "common_util base_handler", "mode": "and"},
        "hundred seventy",
        {"query_text": "read_buf scan_impl token_codec", "mode": "or",
         "mm": 2},
        {"query_text": "common_util read_buf", "mode": "or",
         "exclude": "base_handler"},
    ]

    def run_all():
        return {
            "and": [(r["doc_id"], np.float32(r["score"]))
                    for r in s.search("common_util base_handler", k=10,
                                      mode="and").collect()],
            "phrase": [(r["doc_id"], np.float32(r["score"]))
                       for r in s.search_phrase("hundred seventy",
                                                k=10).collect()],
            "classic": [(r["doc_id"], np.float32(r["score"]))
                        for r in s.search("common_util read_buf scan_impl",
                                          k=10, similarity="classic")
                        .collect()],
            **{f"many_k{k}": sorted(
                (r["query_id"], r["doc_id"],
                 np.float32(r["score"]).tobytes())
                for r in s.search_many(batch, k=k).collect())
               for k in (10, None)},
        }

    a = run_all()
    s._segs_bc = None  # force the cogroup path
    rows, n_jobs = count_jobs(lambda: s.search(
        "common_util base_handler", k=10, mode="and").collect())
    _, n_phrase_jobs = count_jobs(lambda: s.search_phrase(
        "hundred seventy", k=10).collect())
    # the forced side really ran on Spark, not on the driver path
    assert n_jobs >= 1 and n_phrase_jobs >= 1
    b = run_all()
    for name, got in a.items():
        assert got, name
        assert got == b[name], name
    assert {q for q, _, _ in a["many_kNone"]} == set(range(len(batch)))


def test_assign_doc_ids_dedupes_duplicate_keys(spark):
    """updateDocuments ingest semantics: duplicate (repo, path, commit)
    keys collapse to ONE row; dense rank unaffected by duplication
    factor or partitioning (dedupe is in-pass under range
    partitioning — regression guard for the dropDuplicates removal)."""
    from lucene_solr_spark.indexing.build import assign_doc_ids

    rows = []
    for i in range(40):
        r = {"repo": f"r{i % 5}", "path": f"p{i:03d}", "commit": "c",
             "lang": "py", "content": f"doc {i}"}
        rows.append(r)
        if i % 3 == 0:
            rows.append(dict(r))  # duplicate key
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    out, n, _keyed = assign_doc_ids(corpus.repartition(7), num_partitions=3,
                                    return_count=True)
    got = sorted(
        (r["repo"], r["path"], r["doc_id"]) for r in out.collect()
    )
    assert n == 40
    assert len(got) == 40
    keys = sorted((f"r{i % 5}", f"p{i:03d}") for i in range(40))
    assert [(g[0], g[1]) for g in got] == keys
    assert sorted(g[2] for g in got) == list(range(40))


def test_whitespace_analyzer_rank_identical(spark, small_corpus, tmp_path):
    """Pluggable analyzer (Analyzer seam, lucene/core/.../analysis/
    Analyzer.java): an index built with the whitespace chain must be
    rank-identical to the oracle using the same chain, and the searcher
    must re-analyze query text with the index's pinned analyzer."""
    from lucene_solr_spark.corpusgen import CORPUS_SCHEMA
    from lucene_solr_spark.oracle import OracleIndex

    index_dir = str(tmp_path / "wsidx")
    corpus = spark.createDataFrame(small_corpus, schema=CORPUS_SCHEMA)
    IndexWriter(spark, index_dir, docs_per_segment=64, n_batches=1,
                analyzer="whitespace").build(corpus)
    searcher = IndexSearcher(spark, index_dir)
    assert searcher.analyzer.name == "whitespace"
    docs_sorted = sorted(
        small_corpus, key=lambda r: (r["repo"], r["path"], r["commit"])
    )
    oracle = OracleIndex.build(
        [(i, r["content"]) for i, r in enumerate(docs_sorted)],
        analyzer="whitespace",
    )
    for q in ["mergeIdx", "=", "def common_util(init_0)"]:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search(q, k=10).collect()]
        want = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (dg, sg), (dw, sw) in zip(got, want):
            assert sg.tobytes() == np.float32(sw).tobytes(), (q, dg)
    # boolean query strings must ALSO re-analyze with the pinned chain
    # (QueryParserBase re-analysis through the index analyzer) — under
    # whitespace analysis 'common_util(init_0)' is ONE term and case is
    # preserved, so a standard-chain parse would produce different
    # clauses entirely.
    from lucene_solr_spark.oracle import OracleBoolean

    ob = OracleBoolean(oracle)
    for q in ["+mergeIdx def", "def OR = -zzz_absent"]:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search_boolean(q, k=10).collect()]
        want = ob.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert got, q
        for (dg, sg), (dw, sw) in zip(got, want):
            assert sg.tobytes() == np.float32(sw).tobytes(), (q, dg)
    # clause-level spot check: the whitespace chain must keep case and
    # punctuation tokens that the standard chain would fold or split
    from lucene_solr_spark.search.queryparser import parse_query

    ast = parse_query("+mergeIdx =", analyzer=searcher.analyzer)
    assert [c.terms for c in ast] == [["mergeIdx"], ["="]]


@pytest.mark.parametrize("similarity", ["bm25"] + SIMILARITIES)
@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_explain_rederives_collector_scores(spark, built, open_distributed,
                                            path, similarity):
    """The CheckHits contract (test-framework/.../search/CheckHits.java
    :288+): explain(query, doc).value must equal the float32 score the
    collector returned, for every hit, across modes and similarities,
    both with the index held on the driver and with it on Spark."""
    index_dir, _ = built
    if path == "driver":
        s = IndexSearcher(spark, index_dir)
    else:
        s = open_distributed(spark, index_dir)
    assert (s._local_postings is not None) == (path == "driver")
    cases = [
        dict(query_text="common_util base_handler", mode="and",
             min_should_match=0, exclude=""),
        dict(query_text="read_buf scan_impl token_codec", mode="or",
             min_should_match=2, exclude=""),
        # plain OR: partial matches (classic's coord < 1) among the hits
        dict(query_text="common_util read_buf scan_impl", mode="or",
             min_should_match=0, exclude=""),
    ]
    for kw in cases:
        hits = s.search(k=5, similarity=similarity, **kw).collect()
        assert hits
        for r in hits:
            ex = s.explain(
                kw["query_text"], int(r["doc_id"]), mode=kw["mode"],
                min_should_match=kw["min_should_match"],
                exclude=kw["exclude"], similarity=similarity,
            )
            assert ex["match"], (kw, similarity, r)
            assert np.float32(ex["value"]).tobytes() == np.float32(
                r["score"]
            ).tobytes(), (kw, similarity, r["doc_id"])
    # non-matching doc explains as no-match
    hits = s.search("common_util", k=None).collect()
    matched = {r["doc_id"] for r in hits}
    non = next(d for d in range(s.max_doc) if d not in matched)
    assert not s.explain("common_util", non, similarity=similarity)["match"]


def test_randomized_query_duel(spark, built):
    """Randomized dual execution (the LuceneTestCase seeded-random
    pattern, test-framework/.../util/LuceneTestCase.java: failures
    reproduce from the printed seed): random term sets, modes, mm and
    exclusions drawn from the corpus vocabulary — engine vs oracle,
    docIDs + float32 score bits, WAND on."""
    import random

    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    vocab = sorted(oracle.postings)
    seed = int(os.environ.get("LSS_DUEL_SEED", "1237"))
    rng = random.Random(seed)
    for trial in range(25):
        n = rng.randint(1, 5)
        terms = rng.sample(vocab, n)
        # sometimes inject a nonexistent term (null-scorer paths)
        if rng.random() < 0.3:
            terms[rng.randrange(n)] = "zz_no_such_term_zz"
        mode = rng.choice(["or", "or", "and"])
        mm = rng.randint(0, n) if mode == "or" else 0
        exclude = " ".join(rng.sample(vocab, 1)) if rng.random() < 0.4 else ""
        q = " ".join(terms)
        got = [
            (r["doc_id"], np.float32(r["score"]))
            for r in searcher.search(
                q, k=10, mode=mode, min_should_match=mm, exclude=exclude
            ).collect()
        ]
        want = oracle.search(q, k=10, mode=mode, min_should_match=mm,
                             exclude=exclude)
        ctx = f"seed={seed} trial={trial} q={q!r} mode={mode} mm={mm} ex={exclude!r}"
        assert [d for d, _ in got] == [d for d, _ in want], ctx
        assert [s.tobytes() for _, s in got] == [
            np.float32(s).tobytes() for _, s in want
        ], ctx


def test_joinutil_score_modes(spark, built):
    """JoinUtil ScoreMode Total/Max/Avg: per-from-value folds must
    equal an independent pandas recomputation (f32 docID-order chain,
    TermsWithScoreCollector.java:100-127,160-176) applied to the
    engine's own from-query scores, and every returned to-doc must
    carry its to_field value's folded score."""
    import numpy as np

    index_dir, oracle = built
    s = IndexSearcher(spark, index_dir)
    q = "common_util"

    hits = s.search(q, k=None).toPandas()
    docs = s._docs.select("doc_id", "lang").toPandas()
    joined = hits.merge(docs, on="doc_id").sort_values("doc_id")

    want = {}
    for lang, grp in joined.groupby("lang"):
        acc = np.float32(0.0)
        mx = np.float32(-np.inf)
        for sc in grp["score"].to_numpy():
            acc = np.float32(np.float64(acc) + np.float64(sc))
            mx = max(mx, np.float32(sc))
        want[lang] = {
            "total": float(acc),
            "max": float(mx),
            "avg": float(np.float32(np.float64(acc) / len(grp))),
        }

    for mode in ("total", "max", "avg"):
        out = s.join_query_scored(q, "lang", "lang",
                                  score_mode=mode).toPandas()
        got = out.merge(docs, on="doc_id")
        assert len(got) > 0
        for lang, grp in got.groupby("lang"):
            assert set(np.float32(grp["score"])) == {
                np.float32(want[lang][mode])}, (mode, lang)

    import pytest as _pt
    with _pt.raises(ValueError):
        s.join_query_scored(q, "lang", "lang", score_mode="none_x")


def test_built_index_stays_read_only(built):
    """Last in the module: the shared index is still at the build's
    commit — no fixture or test here committed on top of it (a merge,
    an append, a delete or a rebuild would each add a snapshot)."""
    from lucene_solr_spark.catalog import Catalog

    cat = Catalog(built[0])
    snaps = [cat.load_or_none(i) for i in range(cat.latest_id() + 1)]
    build_commit = next(s for s in snaps if s and s.stage == "commit")
    assert cat.latest_id() == build_commit.snapshot_id
