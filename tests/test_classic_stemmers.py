"""Batch-3 classic stemmers: German discriminator stemmer over the
reference's own de/data.txt vocabulary table, Arabic light stemmer
over TestArabicStemFilter's check() vectors parsed from the test
source."""

import re

from reference_files import require_reference_file

from lucene_solr_spark.functions.classicstemmers import (
    CLASSIC_STEMMERS,
    arabic_stem,
    german_classic_stem,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"


def test_german_reference_vocabulary():
    require_reference_file(f"{REF}/de/data.txt")
    pairs = []
    for line in open(f"{REF}/de/data.txt", encoding="utf-8"):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) == 2:
            pairs.append((parts[0], parts[1]))
    assert len(pairs) >= 20
    bad = [(w, e, german_classic_stem(w))
           for w, e in pairs if german_classic_stem(w) != e]
    assert not bad, f"{len(bad)}/{len(pairs)}: {bad[:10]}"


def test_arabic_reference_vectors():
    require_reference_file(f"{REF}/ar/TestArabicStemFilter.java")
    src = open(f"{REF}/ar/TestArabicStemFilter.java",
               encoding="utf-8").read()
    pairs = re.findall(r'check\("([^"]+)",\s*"([^"]+)"\)', src)
    assert len(pairs) >= 20
    bad = [(w, e, arabic_stem(w)) for w, e in pairs
           if arabic_stem(w) != e]
    assert not bad, f"{len(bad)}/{len(pairs)}: {bad[:10]}"


def test_registry():
    assert set(CLASSIC_STEMMERS) == {"de_classic", "ar", "br"}
    assert german_classic_stem("") == ""
    assert arabic_stem("") == ""


def test_brazilian_reference_vectors():
    from lucene_solr_spark.functions.classicstemmers import (
        brazilian_stem_filter,
    )

    require_reference_file(f"{REF}/br/TestBrazilianStemmer.java")
    src = open(f"{REF}/br/TestBrazilianStemmer.java",
               encoding="utf-8").read()
    pairs = re.findall(r'check\("([^"]+)",\s*"([^"]+)"\)', src)
    assert len(pairs) >= 80
    bad = [(w, e, brazilian_stem_filter(w.lower()))
           for w, e in pairs if brazilian_stem_filter(w.lower()) != e]
    assert not bad, f"{len(bad)}/{len(pairs)}: {bad[:10]}"
