"""Batch-2 national stemmers (cz/bg/lv/hi/id) dueled against the
reference's OWN test vectors, parsed straight out of
Test{Czech,Bulgarian,Latvian,Hindi,Indonesian}Stemmer.java — every
single-token assertAnalyzesTo / checkOneTerm / check assertion in the
plain-stemmer test methods becomes a (word, stem) pair here."""

import re

import pytest
from reference_files import require_reference_file

from lucene_solr_spark.functions.natstemmers import (
    NAT_STEMMERS,
    bulgarian_stem,
    czech_stem,
    hindi_stem,
    indonesian_stem,
    latvian_stem,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"

_ANALYZES = re.compile(
    r'assertAnalyzesTo\(\w+,\s*"([^"\s]+)",\s*'
    r'new String\[\]\s*\{\s*"([^"\s]*)"\s*\}\s*\)')
_ONETERM = re.compile(
    r'checkOneTerm(?:Reuse)?\(\w+,\s*"([^"\s]+)",\s*"([^"\s]*)"\)')
_CHECK = re.compile(r'\bcheck\("([^"\s]+)",\s*"([^"\s]*)"\)')

# (stemmer, test file, min vectors, methods whose vectors DON'T apply
# to the plain derivational stemmer — exclusion-set / inflectional
# variants)
CASES = [
    (czech_stem, "cz/TestCzechStemmer.java", 100,
     ("testWithStemExclusionSet",)),
    (bulgarian_stem, "bg/TestBulgarianStemmer.java", 80,
     ("testWithStemExclusionSet",)),
    (latvian_stem, "lv/TestLatvianStemmer.java", 150, ()),
    (hindi_stem, "hi/TestHindiStemmer.java", 20, ()),
    (indonesian_stem, "id/TestIndonesianStemmer.java", 50,
     ("testInflectionalOnly", "testEmptyTerm")),
]


def _vectors(path, skip_methods):
    src = open(path, encoding="utf-8").read()
    # split into methods so variant test methods can be skipped
    chunks = re.split(r"public void (\w+)\(", src)
    pairs = []
    for i in range(1, len(chunks), 2):
        method, body = chunks[i], chunks[i + 1]
        if method in skip_methods:
            continue
        for rx in (_ANALYZES, _ONETERM, _CHECK):
            pairs.extend(rx.findall(body))
    return pairs


@pytest.mark.parametrize(
    "stem,path,floor,skip", CASES,
    ids=[c[1].split("/")[0] for c in CASES])
def test_reference_vectors(stem, path, floor, skip):
    require_reference_file(f"{REF}/{path}")
    pairs = _vectors(f"{REF}/{path}", skip)
    assert len(pairs) >= floor, f"extraction too small for {path}"
    # assertAnalyzesTo runs the full analyzer chain, which lowercases
    # before the stem filter (the stemmers document lowercase input)
    bad = [(w, e, stem(w.lower()))
           for w, e in pairs if stem(w.lower()) != e]
    assert not bad, (
        f"{len(bad)}/{len(pairs)} mismatches, first 10: {bad[:10]}")


def test_inflectional_indonesian():
    # TestIndonesianStemmer.testInflectionalOnly runs with
    # stemDerivational=false
    require_reference_file(f"{REF}/id/TestIndonesianStemmer.java")
    src = open(f"{REF}/id/TestIndonesianStemmer.java",
               encoding="utf-8").read()
    body = src.split("testInflectionalOnly")[1].split(
        "public void")[0]
    pairs = _ONETERM.findall(body)
    assert len(pairs) >= 4
    for w, e in pairs:
        assert indonesian_stem(w, stem_derivational=False) == e, w


def test_registry():
    assert set(NAT_STEMMERS) == {"cz", "bg", "lv", "hi", "id"}
    for fn in NAT_STEMMERS.values():
        assert fn("") == ""
