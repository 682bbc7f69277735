"""Greek stemmer dueled over TestGreekStemmer.java's full checkOneTerm
table (343 vectors, parsed from the reference test source; the test
analyzer chain is GreekLowerCaseFilter + GreekStemFilter) plus the
GreekAnalyzerTest assertAnalyzesTo vectors for the casefold."""

import re

from reference_files import require_reference_file

from lucene_solr_spark.functions.greekstemmer import (
    greek_lowercase,
    greek_stem,
    greek_stem_chain,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"


def test_full_reference_vectors():
    require_reference_file(f"{REF}/el/TestGreekStemmer.java")
    src = open(f"{REF}/el/TestGreekStemmer.java", encoding="utf-8").read()
    pairs = re.findall(r'checkOneTerm\(a,\s*"([^"]+)",\s*"([^"]+)"\)', src)
    assert len(pairs) >= 300
    bad = [(w, e, greek_stem_chain(w))
           for w, e in pairs if greek_stem_chain(w) != e]
    assert not bad, (
        f"{len(bad)}/{len(pairs)} mismatches, first 15: {bad[:15]}")


def test_lowercase_folding():
    # GreekLowerCaseFilter: final sigma standardized, tonos/dialytika
    # removed, ordinary letters lowercased
    assert greek_lowercase("ΜΊΑ") == "μια"
    assert greek_lowercase("ποιόσ") == "ποιοσ"
    assert greek_lowercase("ὁ") == greek_lowercase("ὁ")  # non-mapped kept
    assert greek_lowercase("ς") == "σ"


def test_short_words_unchanged():
    assert greek_stem("του") == "του"
