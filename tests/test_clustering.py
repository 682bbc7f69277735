"""STC clustering gates (clustering.py vs contrib/clustering surface +
the Zamir-Etzioni algorithm): base-cluster scoring, 0.5-overlap merge,
label selection, Other Topics tail, hole awareness, and the
no-driver-docset scale contract (only metadata is collected)."""

import pytest

from lucene_solr_spark.clustering import stc_clusters


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


class TestSTC:
    def test_two_clear_clusters_and_other(self, spark):
        texts = [
            "quick brown fox runs",          # cluster A: quick brown
            "quick brown fox jumps",
            "quick brown cat sits",
            "red wine glass full",           # cluster B: red wine
            "red wine bottle empty",
            "red wine cork stuck",
            "zebra xylophone unique words",  # belongs to no cluster
        ]
        out = stc_clusters(_df(spark, texts), min_phrase_len=2,
                           min_base_docs=2).collect()
        by_label = {r["label"]: r for r in out}
        assert "Other Topics" in by_label
        assert by_label["Other Topics"]["docs_csv"] == "6"
        # 'quick brown' df=3 n=2 -> score 6; fox docs merge in via
        # 'quick brown fox' (df=2, overlap 2/2 and 2/3 > 0.5)
        qa = [r for r in out if r["label"] != "Other Topics"
              and "quick" in r["label"]]
        assert len(qa) == 1
        assert qa[0]["docs_csv"] == "0,1,2"
        rb = [r for r in out if "wine" in r["label"]]
        assert len(rb) == 1
        assert rb[0]["docs_csv"] == "3,4,5"

    def test_label_is_highest_scoring_phrase(self, spark):
        # 'm n' appears in 3 docs (score 6); 'm n c' in 2 (score 6) —
        # all merge via >0.5 overlap; label tie broken asc -> 'm n'
        texts = ["m n c x", "m n c y", "m n z w"]
        out = stc_clusters(_df(spark, texts), min_phrase_len=2,
                           min_base_docs=2).collect()
        top = out[0]
        assert top["label"] == "m n"
        assert top["docs_csv"] == "0,1,2"
        assert top["score"] == pytest.approx(6.0 + 6.0 + 4.0)

    def test_no_merge_below_threshold(self, spark):
        # 'p q' in docs 0-3, 'r s' in docs 3-6: overlap 1/4 <= 0.5
        texts = ["p q one", "p q two", "p q three", "p q r s bridge",
                 "r s five", "r s six", "r s seven"]
        out = [r for r in stc_clusters(_df(spark, texts),
                                       min_phrase_len=2,
                                       min_base_docs=2).collect()
               if r["label"] != "Other Topics"]
        labels = {r["label"] for r in out}
        assert "p q" in labels and "r s" in labels

    def test_stopword_hole_breaks_phrase(self, spark):
        # 'fast the car' x3: 'fast car' must NOT form a phrase
        # (the stopword hole breaks adjacency)
        texts = ["fast the car", "fast the car", "fast the car"]
        out = stc_clusters(_df(spark, texts), min_phrase_len=2,
                           min_base_docs=2).collect()
        labels = {r["label"] for r in out}
        assert labels == {"Other Topics"}

    def test_empty_base_returns_single_other(self, spark):
        texts = ["alpha beta", "gamma delta"]
        out = stc_clusters(_df(spark, texts), min_phrase_len=2,
                           min_base_docs=2).collect()
        assert len(out) == 1
        assert out[0]["label"] == "Other Topics"
        assert out[0]["n_docs"] == 2

    def test_single_word_penalty(self, spark):
        # unigram df=4 -> 2.0; bigram df=2 -> 4.0: bigram outranks
        texts = ["k m", "k m", "k x", "k y"]
        out = stc_clusters(_df(spark, texts), min_phrase_len=1,
                           min_base_docs=2).collect()
        # base: 'k' df4 score 2.0, 'm' df2 score 1.0, 'k m' df2 score
        # 4.0; 'k m' merges with 'm' (2/2, 2/2) but NOT with 'k'
        # (2/4 = 0.5, not > 0.5) -> top cluster {k m, m} score 5.0
        assert out[0]["label"] == "k m"
        assert out[0]["score"] == pytest.approx(5.0)
        ks = [r for r in out if r["label"] == "k"]
        assert len(ks) == 1 and ks[0]["score"] == pytest.approx(2.0)

    @pytest.mark.parametrize("texts", [
        ["quick brown fox", "quick brown cat", "red wine glass"],
        ["alpha beta", "gamma delta"],  # no base cluster: early return
    ])
    def test_caller_cache_survives(self, spark, texts):
        df = _df(spark, texts).persist()
        try:
            df.count()
            stc_clusters(df, min_phrase_len=2, min_base_docs=2).collect()
            assert df.storageLevel.useMemory
        finally:
            df.unpersist()
        # an uncached input is cached for the call only
        plain = _df(spark, texts)
        stc_clusters(plain, min_phrase_len=2, min_base_docs=2).collect()
        assert not plain.storageLevel.useMemory
