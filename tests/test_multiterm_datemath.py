"""Round-2 operator gates: regexp/wildcard/range query surface,
TOP_TERMS rewrite, TooManyClauses, dismax, numeric range + field-value
filters, and Solr date math — engine vs pure-Python oracles."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_spark.oracle import (  # noqa: E402
    OracleBoolean,
    _levenshtein as _lev,
)
from lucene_solr_spark.search.executor import IndexSearcher  # noqa: E402
from lucene_solr_spark.search.queryparser import (  # noqa: E402
    TooManyClauses,
    parse_query,
)

F32 = np.float32


def _dual(spark, built, qs, rewrite=None):
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    got = [
        (r["doc_id"], F32(r["score"]))
        for r in searcher.search_boolean(qs, k=10, rewrite=rewrite).collect()
    ]
    want = OracleBoolean(oracle, rewrite=rewrite).search(qs, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], qs
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == F32(sw).tobytes(), (qs, dg)
    return got


@pytest.mark.parametrize("qs", [
    "/c.mmon_util/",                 # RegexpQuery whole-term match
    "/read_(buf|buffer)/ scan_impl",  # regexp as a SHOULD clause
    "c?mmon_util",                   # WildcardQuery '?'
    "*_util",                        # leading-wildcard run
    "[base_handler TO common_util]",  # TermRangeQuery inclusive
    "{base_handler TO common_util]",  # exclusive lower bound
    "[common_util TO *]",            # open upper end
    "+scan_impl [base_handler TO common_util}",
])
def test_multiterm_syntax_rank_identical(spark, built, qs):
    got = _dual(spark, built, qs)
    assert got, qs  # every pattern matches something in this corpus


def test_top_terms_rewrite_fuzzy(spark, built):
    """TOP_TERMS(n) (TopTermsRewrite.java): boost-ranked selection with
    the FuzzyTermsEnum similarity boost folded into term weights."""
    got = _dual(spark, built, "common_utik~", rewrite="top_terms_3")
    assert got
    # and the selection must actually differ from the plain rewrite
    # when n is tiny (1 nearest term only)
    got1 = _dual(spark, built, "common_utik~", rewrite="top_terms_1")
    assert got1


def test_oversize_constant_expansion_uses_docset(spark, built):
    """Constant-score kinds past maxClauseCount rewrite to an executor-
    side doc-set filter (CONSTANT_SCORE_AUTO's filter leg) — results
    stay rank-identical, no TooManyClauses, driver holds no term list."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    ast = parse_query("*")
    assert ast[0].kind == "wildcard"
    assert len(oracle.postings) > searcher.MAX_CLAUSE_COUNT, \
        "fixture drift: match-all no longer overflows the clause cap"
    got = _dual(spark, built, "* common_util")
    assert got
    # TOP_TERMS bounds the expansion driver-side instead
    assert _dual(spark, built, "write_*", rewrite="top_terms_8") is not None


def test_too_many_clauses_raises_for_scoring_expansion(spark, built):
    """Fuzzy (SCORING_BOOLEAN) expansions past maxClauseCount raise
    TooManyClauses (BooleanQuery.java:50-66), engine and oracle alike."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    pat = "heap_buf"
    n_match = sum(
        1 for t in oracle.postings
        if abs(len(t) - len(pat)) <= 2 and _lev(t, pat) <= 2
    )
    assert n_match >= 2, "fixture drift: fuzzy pattern matches < 2 terms"
    # shrink the cap so the small-corpus vocabulary overflows it
    cap = n_match - 1
    searcher.MAX_CLAUSE_COUNT = cap  # instance override
    try:
        with pytest.raises(TooManyClauses):
            searcher.search_boolean(f"{pat}~", k=10).collect()
        ob = OracleBoolean(oracle)
        ob.MAX_CLAUSE_COUNT = cap
        with pytest.raises(TooManyClauses):
            ob.search(f"{pat}~", k=10)
        # TOP_TERMS bounds it instead of raising (selection still must
        # agree between engine and oracle under the shrunken cap)
        got = [
            (r["doc_id"], F32(r["score"])) for r in searcher.search_boolean(
                f"{pat}~", k=10, rewrite=f"top_terms_{cap}").collect()
        ]
        obt = OracleBoolean(oracle, rewrite=f"top_terms_{cap}")
        obt.MAX_CLAUSE_COUNT = cap
        want = obt.search(f"{pat}~", k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (dg, sg), (dw, sw) in zip(got, want):
            assert sg.tobytes() == F32(sw).tobytes(), dg
    finally:
        del searcher.MAX_CLAUSE_COUNT


def test_dismax_vs_clausewise_combination(spark, built):
    """DisjunctionMaxScorer float math: max + (sum-max)*tie over the
    per-term BM25 scores (DisjunctionMaxScorer.java:85-87)."""
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    terms = ["common_util", "base_handler"]
    tie = 0.3
    cache = oracle._cache()
    per = [oracle._term_scores(t, cache) for t in terms]
    docs = set().union(*[set(p) for p in per])
    want = []
    for d in sorted(docs):
        subs = [p[d] for p in per if d in p]
        ssum, smax = F32(0.0), F32(-np.inf)
        for x in subs:
            ssum = F32(ssum + x)
            smax = max(smax, x)
        want.append((d, F32(smax + F32(F32(ssum - smax) * F32(tie)))))
    want.sort(key=lambda r: (-r[1], r[0]))
    want = want[:10]
    got = [
        (r["doc_id"], F32(r["score"]))
        for r in searcher.search_dismax(" ".join(terms), k=10,
                                        tie=tie).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (dg, sg), (dw, sw) in zip(got, want):
        assert sg.tobytes() == sw.tobytes(), dg
    # tie=0 is pure max
    got0 = searcher.search_dismax(" ".join(terms), k=5, tie=0.0).collect()
    for r in got0:
        subs = [p[r["doc_id"]] for p in per if r["doc_id"] in p]
        assert F32(r["score"]).tobytes() == max(subs).tobytes()


def test_numeric_range_and_field_value(spark, built):
    index_dir, oracle = built
    searcher = IndexSearcher(spark, index_dir)
    stats = {r["doc_id"]: r["doc_len"]
             for r in searcher.doc_stats().collect()}
    lo, hi = 40, 90
    want = sorted(d for d, n in stats.items() if lo <= n <= hi)
    got = sorted(r["doc_id"] for r in
                 searcher.numeric_range_docs("doc_len", lo, hi).collect())
    assert got == want
    # exclusive bounds
    want_ex = sorted(d for d, n in stats.items() if lo < n < hi)
    got_ex = sorted(r["doc_id"] for r in searcher.numeric_range_docs(
        "doc_len", lo, hi, include_lo=False, include_hi=False).collect())
    assert got_ex == want_ex
    # open end
    want_open = sorted(d for d, n in stats.items() if n >= hi)
    got_open = sorted(r["doc_id"] for r in
                      searcher.numeric_range_docs("doc_len", hi).collect())
    assert got_open == want_open
    # field-value filter: every doc has a lang in this corpus
    assert searcher.field_value_docs("lang").count() == len(stats)
    assert searcher.field_value_docs("lang", exists=False).count() == 0


def test_uncached_postings_path_rank_identical(spark, built, count_jobs):
    """The postings >> RAM fallback (no persist, parquet pushdown) must
    return bit-identical results to the cached path, and the scan plan
    must show the term predicate pushed into parquet."""
    index_dir, _ = built
    cached = IndexSearcher(spark, index_dir)
    assert cached.postings_cached
    uncached = IndexSearcher(spark, index_dir, cache_postings=False)
    assert not uncached.postings_cached
    for q, kw in [("common_util", {}), ("common_util base_handler",
                                        {"mode": "and"})]:
        a = [(r["doc_id"], np.float32(r["score"]).tobytes())
             for r in cached.search(q, k=10, **kw).collect()]
        rows, n_jobs = count_jobs(
            lambda: uncached.search(q, k=10, **kw).collect())
        b = [(r["doc_id"], np.float32(r["score"]).tobytes()) for r in rows]
        assert n_jobs >= 1, q  # the uncached side ran on Spark
        assert a and a == b, q
    plan = (
        uncached._postings.filter(
            uncached._postings["term"].isin(["common_util"])
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "common_util" in plan, plan
    # size threshold auto-path: a tiny limit must disable the cache
    assert cached._postings_bytes() > 0
    os.environ["LSS_POSTINGS_CACHE_MAX_BYTES"] = "1"
    try:
        tiny = IndexSearcher(spark, index_dir)
        assert not tiny.postings_cached
    finally:
        del os.environ["LSS_POSTINGS_CACHE_MAX_BYTES"]


def _check_time_limit(s):
    from lucene_solr_spark.search.executor import TimeExceededError

    rows = s.search_with_time_limit("common_util", timeout_ms=120_000,
                                    k=5)
    want = s.search("common_util", k=5).collect()
    assert rows and [r["doc_id"] for r in rows] == [
        r["doc_id"] for r in want]
    with pytest.raises(TimeExceededError):
        s.search_with_time_limit("common_util base_handler",
                                 timeout_ms=1, k=5, mode="and")


def test_time_limiting_collector(spark, built):
    """TimeLimitingCollector analogue: a generous budget returns the
    normal top-k; an expired budget raises TimeExceededError."""
    s = IndexSearcher(spark, built[0])
    assert s._local_postings is not None
    _check_time_limit(s)


def test_time_limiting_collector_distributed(spark, built,
                                             open_distributed):
    """The same on the distributed path, where an expired budget
    cancels the query's job group."""
    s = open_distributed(spark, built[0])
    assert s._local_postings is None
    _check_time_limit(s)


def test_time_limit_stops_between_groups_on_the_driver_path(
        spark, built, monkeypatch):
    """On the driver path the clock is checked before each scoring
    group's kernel: with every group slowed down, a short budget stops
    the search after the group it expired in, well before the untimed
    run would finish."""
    import time

    from lucene_solr_spark.search import executor
    from lucene_solr_spark.search.executor import TimeExceededError

    s = IndexSearcher(spark, built[0])
    assert s._local_postings is not None
    real = executor._group_ctx
    calls = []

    def slow_ctx(seg_pdf):
        calls.append(1)
        time.sleep(0.3)
        return real(seg_pdf)

    monkeypatch.setattr(executor, "_group_ctx", slow_ctx)
    assert s.search("common_util", k=5).collect()
    n_groups = len(calls)
    assert n_groups >= 2
    s._local_ctx.clear()
    calls.clear()
    t0 = time.monotonic()
    with pytest.raises(TimeExceededError):
        s.search_with_time_limit("common_util", timeout_ms=100, k=5)
    assert len(calls) <= 1
    assert time.monotonic() - t0 < 0.3 * n_groups


def test_date_math_parser():
    from datetime import datetime

    from lucene_solr_spark.functions.datemath import (
        DateMathParseError,
        parse_date_math,
    )

    now = datetime(2024, 3, 15, 10, 37, 42, 123000)
    cases = {
        "NOW": now,
        "NOW/DAY": datetime(2024, 3, 15),
        "NOW/HOUR": datetime(2024, 3, 15, 10),
        "NOW-7DAYS": datetime(2024, 3, 8, 10, 37, 42, 123000),
        "NOW/DAY+6MONTHS+3DAYS": datetime(2024, 9, 18),
        "NOW/YEAR": datetime(2024, 1, 1),
        "NOW+2YEARS/MONTH": datetime(2026, 3, 1),
        "NOW-1MILLI": datetime(2024, 3, 15, 10, 37, 42, 122000),
        "2024-01-31T00:00:00Z+1MONTH": datetime(2024, 2, 29),  # clamp
        "2024-01-05T08:30:00Z/DAY+12HOURS": datetime(2024, 1, 5, 12),
        "2024-06-01T00:00:00.250Z": datetime(2024, 6, 1, 0, 0, 0, 250000),
    }
    for expr, want in cases.items():
        assert parse_date_math(expr, now) == want, expr
    for bad in ["NOW/WEEK", "NOW+", "NOW*3DAYS", "TOMORROW", "NOW+3"]:
        with pytest.raises(DateMathParseError):
            parse_date_math(bad, now)


def test_damerau_matches_duckdb():
    """The engine's Damerau distance must equal DuckDB's
    damerau_levenshtein on realistic vocab pairs — the fuzzy oracle
    (fuzzy_query_top10) depends on this equivalence."""
    import duckdb

    from lucene_solr_spark.oracle import _levenshtein, _damerau_distance

    con = duckdb.connect()
    words = [
        "table", "tabel", "atbel", "tables", "stable", "tbale", "cable",
        "merge", "megre", "emrge", "margin", "vector", "vectro", "a",
        "ab", "ba", "abc", "acb", "bca", "cab", "", "spark", "sprak",
        "abcd", "bacd", "badc", "dcba",
    ]
    for a in words:
        for b in words:
            want = con.execute(
                "SELECT damerau_levenshtein(?, ?)", [a, b]
            ).fetchone()[0]
            assert _damerau_distance(a, b) == want, (a, b)
            # transpositions only ever REDUCE the distance
            assert _damerau_distance(a, b) <= _levenshtein(a, b)


def test_fuzzy_transpositions_rank_identical(spark, built):
    """'<term>~' duels engine vs OracleBoolean with the Damerau metric on
    both sides (transposed patterns included)."""
    for q in ["seven~", "hunderd~", "esven~ +doc"]:
        _dual(spark, built, q)


def test_fuzzy_transposition_widens_match(spark, built):
    """A double-transposition pattern ('esven' -> 'seven' via one
    transposition + distance budget left) must match under the Damerau
    default where plain Levenshtein(>2) would not."""
    from lucene_solr_spark.oracle import _levenshtein, _damerau_distance

    assert _damerau_distance("esven", "seven") == 1
    assert _levenshtein("esven", "seven") == 2
    assert _damerau_distance("atbel", "table") == 2
    assert _levenshtein("atbel", "table") == 4
    index_dir, _ = built
    s = IndexSearcher(spark, index_dir)
    got = s.search_boolean("esven~", k=10).collect()
    assert len(got) > 0  # 'seven' (distance 1) is in the corpus vocab


@pytest.mark.parametrize("qs", [
    "+(common_util base_handler) scan_impl",      # MUST group + opt
    "(common_util scan_impl) -(base_handler)",    # group + NOT group
    "+(write_* scan_impl) +common_util",          # multi-term in group
    "((common_util base_handler) scan_impl)",     # nested nesting
    "common_util AND (scan_impl base_handler)",   # AND binding a group
])
def test_nested_boolean_rank_identical(spark, built, qs):
    """Grouping parens -> nested BooleanQuery: engine DataFrame-combine
    tree vs the oracle's recursive evaluation, bit-exact f32."""
    got = _dual(spark, built, qs)
    assert got, qs


def test_unbalanced_parens_raise():
    from lucene_solr_spark.search.queryparser import (QueryParseError,
                                                      parse_query)

    for bad in ["(a", "a)", "((a b) c"]:
        with pytest.raises(QueryParseError):
            parse_query(bad)


# ---------------------------------------------------------------------------
# CompiledAutomaton-commonPrefix analogue: literal-prefix pushdown for
# wildcard/regexp expansion (executor._wildcard_prefix /
# _regex_literal_prefix). The prefix must be IMPLIED by the pattern —
# conjoining it can never change results, only let parquet skip.
# ---------------------------------------------------------------------------

def test_regex_literal_prefix_is_necessary():
    import re as _re

    from lucene_solr_spark.search.executor import (
        _regex_literal_prefix, _wildcard_prefix, _wildcard_regex,
    )

    vocab = [
        "merge", "merges", "merged", "mergesort", "me", "mer", "m",
        "aerge", "xmerge", "merg", "mmerge", "table", "tab", "t",
        "data", "scan", "write_lock", "write", "wri",
    ]
    patterns = [
        "merge.*", "mer?ge", "m{2}erge", "merge[sd]", "merges?",
        "ab|cd", "(me)rge", "m.rge", "merge", "w.*e", "\\d+",
        "me+rge", "tab.?",
    ]
    for pat in patterns:
        pre = _regex_literal_prefix(pat)
        rx = _re.compile(f"^(?:{pat})$")
        for t in vocab:
            if rx.match(t):
                assert t.startswith(pre), (pat, pre, t)

    for pat in ["mer*", "me?ge", "*rge", "merge", "wr?te_*"]:
        pre = _wildcard_prefix(pat)
        rx = _re.compile(_wildcard_regex(pat))
        for t in vocab:
            if rx.match(t):
                assert t.startswith(pre), (pat, pre, t)


def test_regex_literal_prefix_hypothesis():
    """Randomized necessity check over a pattern grammar that exercises
    quantifiers, classes and alternation."""
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lucene_solr_spark.search.executor import _regex_literal_prefix

    atom = st.sampled_from(
        ["a", "b", "c", "d", ".", "a*", "b?", "c+", "[ab]", "d{2}",
         "(ab)", "a|b"])
    pattern = st.lists(atom, min_size=1, max_size=6).map("".join)
    word = st.text(alphabet="abcd", min_size=0, max_size=8)

    @given(pattern, word)
    @settings(max_examples=300, deadline=None)
    def check(pat, t):
        try:
            rx = _re.compile(f"^(?:{pat})$")
        except _re.error:
            return
        pre = _regex_literal_prefix(pat)
        if rx.match(t):
            assert t.startswith(pre), (pat, pre, t)

    check()


def test_wildcard_prefix_pushdown_in_plan(spark, built):
    """The wildcard expansion plan must carry a StringStartsWith parquet
    pushdown (the seek), and results must be identical to the bare
    anchored-regex scan."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from lucene_solr_spark.search.executor import _wildcard_regex

    index_dir, oracle = built
    s = IndexSearcher(spark, index_dir)
    rows = s._expand_rows(
        type("C", (), {"kind": "wildcard", "pattern": "write_*"})(), None)
    bare = s.expand_terms(
        F.col("term").rlike(_wildcard_regex("write_*"))).collect()
    assert sorted(t for t, _, _ in rows) == sorted(r.term for r in bare)
    assert len(rows) > 0

    # plan evidence on an uncached parquet term dict (the searcher's
    # own term_stats scan is cache-served here, hiding the source):
    # startswith reaches the source as a pushed filter, rlike cannot
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = f"{td}/terms.parquet"
        spark.createDataFrame(
            [("write_lock", 1), ("alpha", 2)], "term string, df long"
        ).write.parquet(p)
        q = spark.read.parquet(p).filter(
            F.col("term").startswith("write_")
            & F.col("term").rlike(_wildcard_regex("write_*")))
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain("formatted")
        plan = buf.getvalue()
        assert "StringStartsWith(term,write_)" in plan, plan


# ---------------------------------------------------------------------------
# AnalyzingQueryParser (queryparser/analyzing/AnalyzingQueryParser.java)
# ---------------------------------------------------------------------------

def test_analyzing_wildcard_chunk_analysis():
    from lucene_solr_spark.functions.analysis import get_analyzer
    from lucene_solr_spark.search.queryparser import (
        QueryParseError, analyzing_wildcard_pattern, parse_query,
    )

    eng = get_analyzer("english")   # lowercase + stop + Porter stem
    # each literal chunk stems independently; wildcards survive
    assert analyzing_wildcard_pattern("RUNNing*", eng) == "run*"
    assert analyzing_wildcard_pattern("Jump?running", eng) == "jump?run"
    assert analyzing_wildcard_pattern("*Jumping", eng) == "*jump"
    # a stopword chunk yields zero tokens -> ParseException analogue
    import pytest as _pt
    with _pt.raises(QueryParseError):
        analyzing_wildcard_pattern("the*", eng)

    std = get_analyzer("standard")
    # chains without stem/stop: analyzing mode == classic lowercase
    # (trailing-single-* terms parse as PREFIX clauses — stem only)
    for w, kind, want in (("MeRge*", "prefix", "merge"),
                          ("ta?le", "wildcard", "ta?le"),
                          ("VEC*tor?", "wildcard", "vec*tor?")):
        a = parse_query(w, analyzer=std, analyzing=True)
        c = parse_query(w, analyzer=std)
        assert a[0].kind == c[0].kind == kind
        assert a[0].pattern == c[0].pattern == want


def test_analyzing_boolean_path(spark, built):
    """search_boolean(analyzing=True) equals the classic path on the
    standard-chain fixture index (lowercase-only chain ⇒ identical
    patterns) — the parser-mode plumbing reaches the executor."""
    index_dir, oracle = built
    s = IndexSearcher(spark, index_dir)
    a = s.search_boolean("WRITE_* common_util", k=10, analyzing=True)
    c = s.search_boolean("WRITE_* common_util", k=10)
    ra = [(r.doc_id, r.score) for r in a.collect()]
    rc = [(r.doc_id, r.score) for r in c.collect()]
    assert ra == rc and len(ra) > 0
