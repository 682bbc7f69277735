"""The per-group scoring skeleton, Spark-free, across all seven kernel
factories: tombstones never surface, the per-group top-k keeps the
(score desc, doc asc) order with ties straddling the k-th score, and a
segment frame without a ``deleted_enc`` column (the shape the
perfbench kernel replay feeds) scores the same docs."""

import numpy as np
import pytest
from postings_fixture import encode_group

from lucene_solr_spark.functions.bm25 import idf
from lucene_solr_spark.search import spans as SP
from lucene_solr_spark.search.executor import (
    QueryPlan,
    make_boolean_scorer,
    make_group_scorer,
    make_multi_phrase_scorer,
    make_phrase_scorer,
    make_phrase_windows_scorer,
    make_sloppy_phrase_scorer,
    make_span_scorer,
)

F32 = np.float32
K = 3

# "a b" twice (top score), "a b" once (the tie group: same tfs, same
# length), "a x b" (sloppy/union-slot match, longer), no match
HI = "a b c a b d"
TIE = "a b c d e f"
LO = "a x b c d e f g"
NONE = "c d"
TEXTS = [TIE, HI, TIE, TIE, LO, HI, TIE, TIE, NONE, TIE, LO]
# one top doc and the lowest tie doc are deleted: unmasked, each
# would change the k-cut
DELETED = [1, 2]
DOCS = {d: {} for d in range(len(TEXTS))}
for _d, _text in enumerate(TEXTS):
    for _p, _t in enumerate(_text.split()):
        DOCS[_d].setdefault(_t, []).append(_p)

WV = F32(2.5)
PHRASE = [("a", 0), ("b", 1)]


def _plan(cache, k, mode, terms=("a", "b"), exclude=()):
    dfs = {t: sum(1 for pos in DOCS.values() if t in pos)
           for t in (*terms, *exclude)}
    return QueryPlan(
        terms=list(terms), dfs={t: dfs[t] for t in terms},
        weights={t: float(idf(dfs[t], len(TEXTS))) for t in terms},
        mode=mode, mm=0, exclude_terms=list(exclude), k=k, cache=cache)


# name -> make(cache, k); the windows kernel takes no k (it feeds a
# union + sum and always returns every match)
FACTORIES = {
    "group_or_wand": lambda c, k: make_group_scorer(
        _plan(c, k, "or"), True),
    "group_and_excl": lambda c, k: make_group_scorer(
        _plan(c, k, "and", exclude=("g",)), True),
    "group_dismax": lambda c, k: make_group_scorer(
        _plan(c, k, "dismax"), False),
    "phrase": lambda c, k: make_phrase_scorer(PHRASE, WV, c, k),
    "phrase_windows": lambda c, k: make_phrase_windows_scorer(
        [(PHRASE, float(WV)), ([("b", 0), ("c", 1)], 1.5)], c),
    "multi_phrase": lambda c, k: make_multi_phrase_scorer(
        [(("a",), 0), (("b", "x"), 1)], WV, c, k, 0),
    "multi_phrase_sloppy": lambda c, k: make_multi_phrase_scorer(
        [(("a",), 0), (("c",), 2)], WV, c, k, 1),
    "sloppy_phrase": lambda c, k: make_sloppy_phrase_scorer(
        PHRASE, WV, c, k, 2),
    "span_near": lambda c, k: make_span_scorer(
        SP.SpanNear((SP.SpanTerm("a"), SP.SpanTerm("b")), slop=1,
                    in_order=True), WV, c, k),
    "boolean": lambda c, k: make_boolean_scorer([
        {"occur": "must", "kind": "term", "terms": ["a"], "wv": 1.25,
         "cost": 9, "mm": 0},
        {"occur": "should", "kind": "phrase", "terms": ["a", "b"],
         "offsets": PHRASE, "slop": 0, "wv": 2.0, "cost": 7},
        {"occur": "should", "kind": "phrase", "terms": ["a", "b"],
         "offsets": PHRASE, "slop": 2, "wv": 0.5, "cost": 7},
        {"occur": "not", "kind": "term", "terms": ["g"], "wv": 1.0,
         "cost": 2},
    ], c, k),
}


def _hits(kernel, posts, segs):
    out = kernel(posts, segs)
    assert str(out["doc_id"].dtype) == "int64"
    assert str(out["score"].dtype) == "float32"
    return [(int(d), F32(s).tobytes())
            for d, s in zip(out["doc_id"], out["score"])]


@pytest.mark.parametrize("name", sorted(FACTORIES))
def test_tombstones_and_tie_at_k(name):
    make = FACTORIES[name]
    posts, segs, cache = encode_group(DOCS, seg_size=6, deleted=DELETED)
    full = _hits(make(cache, None), posts, segs)
    scores = [np.frombuffer(s, np.float32)[0] for _, s in full]
    assert len(full) > K and scores[K - 1] == scores[K], (
        "fixture must tie across the k-th score")
    assert [d for d, s in full] == [
        d for d, s in sorted(full, key=lambda h: (
            -np.frombuffer(h[1], np.float32)[0], h[0]))]
    assert not {d for d, _ in full} & set(DELETED)
    cut = _hits(make(cache, K), posts, segs)
    assert cut == (full if name == "phrase_windows" else full[:K])

    # no deleted_enc column: the same kernel, every doc live
    p2, s2, _ = encode_group(DOCS, seg_size=6)
    assert "deleted_enc" not in s2.columns
    unmasked = _hits(make(cache, None), p2, s2)
    assert {d for d, _ in unmasked} & set(DELETED)
    assert full == [h for h in unmasked if h[0] not in DELETED]
