"""KStem dueled over the reference's OWN kstemTestData.zip vocabulary
(the file TestKStemmer reads via VocabularyAssert — 12k word/stem
pairs)."""

import io
import zipfile

from reference_files import require_reference_file

from lucene_solr_spark.functions.kstem import kstem

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"


def test_full_reference_vocabulary():
    require_reference_file(f"{REF}/en/kstemTestData.zip")
    with zipfile.ZipFile(f"{REF}/en/kstemTestData.zip") as z:
        raw = z.read("kstem_examples.txt").decode("utf-8")
    pairs = []
    for line in io.StringIO(raw):
        line = line.rstrip("\n")
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) == 2:
            pairs.append((parts[0], parts[1]))
    assert len(pairs) > 10000
    bad = [(w, e, kstem(w)) for w, e in pairs if kstem(w) != e]
    assert not bad, (
        f"{len(bad)}/{len(pairs)} mismatches, first 15: {bad[:15]}")


def test_passthrough_contract():
    assert kstem("ab") == "ab"          # len <= 2
    assert kstem("x" * 50) == "x" * 50  # len >= MaxWordLen-1
    assert kstem("can't") == "can't"    # non a-z
    assert kstem("aide") == "aide"      # exception word maps to itself
    assert kstem("flies") == "flies"    # head word itself -> unchanged
    assert kstem("babies") == "baby"
    assert kstem("dying") == "die"      # direct conflation
    assert kstem("italians") == "italy"  # plural -> nationality root
