"""MultiPhraseQuery gates (lucene/core/.../search/MultiPhraseQuery.java):

1. kernel-level golden vectors for the union-postings ExactPhraseScorer
   walk — including the last-slot duplicate-multiplicity rule
   (ExactPhraseScorer.java:302-303: a duplicate position in the final
   chunk state re-satisfies ``counts[pos] == endMinus1`` and increments
   freq again, while duplicates in earlier slots dedup) — verified
   against a direct Python port of the reference counting algorithm;
2. engine-vs-oracle duels over the built fixture (dual execution:
   codec decode + distributed kernel vs raw-position set walk);
3. the single-slot rewrite (BooleanQuery of SHOULD TermQueries with
   per-term weights, MultiPhraseQuery.rewrite :287-295).
"""

import numpy as np
import pytest
from postings_fixture import encode_group

from lucene_solr_spark.search.executor import (
    IndexSearcher,
    make_multi_phrase_scorer,
)

F32 = np.float32


def reference_union_exact_freq(slot_positions, offsets, slot_order):
    """Direct port of ExactPhraseScorer.phraseFreq() (:230-310) over
    union position lists: chunk states in ``slot_order``; first state
    marks counts=1 (duplicate marks idempotent), middle states
    increment once per gen when counts==t, the LAST state increments
    freq for EVERY occurrence satisfying counts==endMinus1."""
    adj = []
    for i in slot_order:
        adj.append(sorted(p - offsets[i] for p in slot_positions[i]))
    counts: dict = {}
    for p in adj[0]:
        counts[p] = 1  # duplicate assignment idempotent (:244)
    for t in range(1, len(adj) - 1):
        for p in adj[t]:
            if counts.get(p) == t:  # :267-269 — once per gen
                counts[p] = t + 1
    end_minus_1 = len(adj) - 1
    freq = 0
    for p in adj[-1]:
        if counts.get(p) == end_minus_1:  # :302-303 — NOT consumed
            freq += 1
    return freq


def run_kernel(slots, docs_positions, k=10, slop=0):
    """Drive make_multi_phrase_scorer on one synthetic scoring group
    encoded with the real codec (postings_fixture.encode_group)."""
    from lucene_solr_spark.functions.bm25 import K1_PLUS_1, idf

    posts, segs, cache = encode_group(docs_positions)
    max_doc = int(segs["doc_count"].sum())
    dfs = dict(zip(posts["term"], posts["df"]))
    w = F32(0.0)
    for alts, _ in slots:
        for t in alts:
            w = F32(w + idf(dfs.get(t, 0), max_doc))
    wv = F32(w * K1_PLUS_1)
    kern = make_multi_phrase_scorer(slots, wv, cache, k, slop)
    return kern(posts, segs), cache, wv


class TestKernelGoldenVectors:
    def test_simple_union_match(self):
        """slots [(a|b), c]: doc 0 'a c', doc 1 'b c', doc 2 'c a'."""
        out, cache, wv = run_kernel(
            [(("a", "b"), 0), (("c",), 1)],
            {0: {"a": [0], "c": [1]},
             1: {"b": [0], "c": [1]},
             2: {"c": [0], "a": [1]}})
        assert set(out["doc_id"]) == {0, 1}

    def test_freq_counts_all_alignments(self):
        out, _, _ = run_kernel(
            [(("a", "b"), 0), (("c",), 1)],
            {0: {"a": [0, 4], "b": [2], "c": [1, 3, 5]},
             1: {"a": [0], "c": [1]}})
        # doc0: starts {0,2,4} -> pf 3; doc1: pf 1 -> doc0 scores higher
        assert list(out["doc_id"]) == [0, 1]

    def test_last_slot_duplicate_multiplicity(self):
        """posInc-0 duplicate in the max-df slot double-counts freq;
        port-vs-kernel equality on the same synthetic positions."""
        # slot1 = (c|d), both with a token at position 1 of doc 0
        # -> union posList has TWO entries at pos 1
        slots = [(("a",), 0), (("c", "d"), 1)]
        docs = {0: {"a": [0], "c": [1], "d": [1]},
                1: {"a": [0], "c": [1]}}
        out, cache, wv = run_kernel(slots, docs)
        # reference port: slot order by coarse df: a (df 2) first? df:
        # a=2, c-union df = 2+1 = 3 -> a first, union last
        slot_positions = [[0], [1, 1]]
        freq0 = reference_union_exact_freq(slot_positions, [0, 1], [0, 1])
        assert freq0 == 2  # duplicate re-increments (:302-303)
        doc_len0 = 3
        from lucene_solr_spark.functions.smallfloat import encode_norm

        nrm = cache[int(encode_norm(doc_len0))]
        want0 = F32(wv * F32(freq0) / (F32(freq0) + nrm))
        got = dict(zip(out["doc_id"], out["score"]))
        assert F32(got[0]).tobytes() == want0.tobytes()

    def test_earlier_slot_duplicate_dedups(self):
        """A duplicate in a NON-last slot dedups (counts==t guard)."""
        # make the duplicated union slot the LOW-df one so it sorts
        # first: slot0 = (a|b) df 2 at doc0 only; slot1 = c df 2
        slots = [(("a", "b"), 0), (("c",), 1)]
        docs = {0: {"a": [0], "b": [0], "c": [1]},
                1: {"c": [0], "a": [5]}}
        out, cache, wv = run_kernel(slots, docs)
        # coarse df: slot0 = df(a)+df(b) = 2+1 = 3 > df(c) = 2 ->
        # c sorts FIRST, union slot LAST -> duplicates at start 0 of
        # doc 0 DOUBLE-count per the reference walk
        freq = reference_union_exact_freq([[0, 0], [1]], [0, 1], [1, 0])
        assert freq == 2
        from lucene_solr_spark.functions.smallfloat import encode_norm

        nrm = cache[int(encode_norm(3))]
        want = F32(wv * F32(freq) / (F32(freq) + nrm))
        got = dict(zip(out["doc_id"], out["score"]))
        assert F32(got[0]).tobytes() == want.tobytes()

    def test_slot_absent_in_group_no_match(self):
        out, _, _ = run_kernel(
            [(("a",), 0), (("zzz",), 1)],
            {0: {"a": [0], "c": [1]}})
        assert len(out) == 0

    def test_sloppy_union(self):
        """slop=1 tolerates one-gap reordering through union slots."""
        out, _, _ = run_kernel(
            [(("a", "b"), 0), (("c",), 1)],
            {0: {"a": [0], "c": [2]},   # one hole: matches at slop 1
             1: {"b": [0], "c": [3]}},  # two holes: needs slop 2
            slop=1)
        assert set(out["doc_id"]) == {0}


class TestEngineVsOracle:
    @pytest.fixture(scope="class")
    def searcher(self, spark, built):
        index_dir, _ = built
        return IndexSearcher(spark, index_dir)

    @pytest.mark.parametrize("slots,slop,expect_hits", [
        ([("one", "two"), ("hundred",)], 0, True),
        ([("hundred",), ("twenty", "seventy", "ninety")], 0, True),
        ([("one", "two"), ("hundred",), ("twenty", "thirty")], 0, True),
        ([("one", "two"), ("hundred",)], 2, True),
        ([("doc",), ("hundred", "thousand")], 3, True),
        ([("doc",), ("qqqzz_missing",)], 0, False),
    ])
    def test_rank_and_score_identical(self, searcher, built, slots, slop,
                                      expect_hits):
        _, oracle = built
        norm = [(tuple(s), i) for i, s in enumerate(slots)]
        got = [(int(r["doc_id"]), F32(r["score"]))
               for r in searcher.search_multi_phrase(
                   norm, k=10, slop=slop).collect()]
        want = [(d, F32(s))
                for d, s in oracle.search_multi_phrase(norm, k=10,
                                                       slop=slop)]
        if expect_hits:
            assert got, f"vacuous duel for {slots}"
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs.tobytes() == ws.tobytes(), (gd, gs, ws)

    def test_union_beats_single_alternative(self, searcher):
        """The union slot must admit docs a plain phrase would miss."""
        multi = {int(r["doc_id"]) for r in searcher.search_multi_phrase(
            [(("one", "two"), 0), (("hundred",), 1)], k=None).collect()}
        one = {int(r["doc_id"]) for r in
               searcher.search_phrase("one hundred", k=None).collect()}
        two = {int(r["doc_id"]) for r in
               searcher.search_phrase("two hundred", k=None).collect()}
        assert multi == (one | two) and two - one and one - two

    def test_single_slot_rewrites_to_boolean_or(self, searcher, built):
        _, oracle = built
        norm = [(("one", "hundred"), 0)]
        got = [(int(r["doc_id"]), F32(r["score"]))
               for r in searcher.search_multi_phrase(norm, k=10).collect()]
        want = [(d, F32(s))
                for d, s in oracle.search_multi_phrase(norm, k=10)]
        assert got and [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs.tobytes() == ws.tobytes()

    def test_sloppy_repeat_terms_scope_cut(self, searcher):
        with pytest.raises(ValueError):
            searcher.search_multi_phrase(
                [(("hundred",), 0), (("hundred", "seven"), 1)], slop=2)

    def test_absent_everywhere_is_empty(self, searcher):
        out = searcher.search_multi_phrase(
            [(("qqqqzz",), 0), (("data",), 1)], k=10)
        assert out.count() == 0


# ---------------------------------------------------------------------------
# NGramPhraseQuery (core search/NGramPhraseQuery.java:46-77)
# ---------------------------------------------------------------------------

def test_ngram_phrase_rewrite_matches_full_phrase(spark, tmp_path):
    """On a consecutive-position character-bigram field, the pruned
    phrase (every n-th gram + the last) matches exactly the docs the
    full gram phrase matches, while shipping fewer posting lists."""
    from lucene_solr_spark.corpusgen import CORPUS_SCHEMA
    from lucene_solr_spark.indexing.build import IndexWriter
    from lucene_solr_spark.search.executor import IndexSearcher

    words = ["abcdef", "abcxef", "xbcdef", "abcde", "zzzzzz", "abzdef"]
    rows = [(f"r{i}", f"p{i}", f"c{i}", "py", w)
            for i, w in enumerate(words)]
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    d = str(tmp_path / "ngram_idx")
    IndexWriter(spark, d, docs_per_segment=4, n_batches=1,
                analyzer="ngram_tok2").build(corpus)
    s = IndexSearcher(spark, d)

    grams = [w for w in ("ab", "bc", "cd", "de", "ef")]  # "abcdef"
    full = s._phrase_from_offsets(
        [(g, i) for i, g in enumerate(grams)], k=None).collect()
    pruned = s.search_ngram_phrase(grams, 2, k=None).collect()
    assert sorted(r.doc_id for r in full) == \
        sorted(r.doc_id for r in pruned)
    # only the exact "abcdef" docs match
    assert len(full) == 1

    # guards: short phrase / n < 2 -> identical scores (no pruning)
    short = ["ab", "bc"]
    a = s.search_ngram_phrase(short, 2, k=None).collect()
    b = s._phrase_from_offsets(
        [(g, i) for i, g in enumerate(short)], k=None).collect()
    assert [(r.doc_id, r.score) for r in a] == \
        [(r.doc_id, r.score) for r in b]
    c = s.search_ngram_phrase(grams, 1, k=None).collect()
    dfull = s._phrase_from_offsets(
        [(g, i) for i, g in enumerate(grams)], k=None).collect()
    assert [(r.doc_id, r.score) for r in c] == \
        [(r.doc_id, r.score) for r in dfull]
