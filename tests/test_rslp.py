"""RSLP/RSLG stemmers dueled over the reference's OWN vocabulary test
data (ptrslptestdata.zip, ptminimaltestdata.zip, gltestdata.zip —
the files TestPortugueseStemFilter / TestPortugueseMinimalStemFilter /
TestGalicianStemFilter read via VocabularyAssert)."""

import io
import zipfile

import pytest
from reference_files import require_reference_file

from lucene_solr_spark.functions.rslpstemmer import (
    RSLP_STEMMERS,
    galician_minimal_stem,
    galician_stem,
    portuguese_minimal_stem,
    portuguese_rslp_stem,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"

VOCABS = [
    (portuguese_rslp_stem, f"{REF}/pt/ptrslptestdata.zip", "ptrslp.txt"),
    (portuguese_minimal_stem, f"{REF}/pt/ptminimaltestdata.zip",
     "ptminimal.txt"),
    (galician_stem, f"{REF}/gl/gltestdata.zip", "gl.txt"),
]


def _load_pairs(path, member):
    with zipfile.ZipFile(path) as z:
        name = member if member in z.namelist() else z.namelist()[0]
        raw = z.read(name)
    pairs = []
    for line in io.StringIO(raw.decode("utf-8")):
        line = line.rstrip("\n")
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) == 2:
            pairs.append((parts[0], parts[1]))
    return pairs


@pytest.mark.parametrize(
    "stem,path,member", VOCABS,
    ids=[v[2] for v in VOCABS])
def test_full_reference_vocabulary(stem, path, member):
    require_reference_file(path)
    pairs = _load_pairs(path, member)
    assert len(pairs) > 1000, f"suspiciously small vocabulary: {path}"
    bad = [(w, e, stem(w)) for w, e in pairs if stem(w) != e]
    assert not bad, (
        f"{len(bad)}/{len(pairs)} mismatches, first 10: {bad[:10]}")


def test_galician_minimal_examples():
    # TestGalicianMinimalStemFilter.java:45-53 vectors
    assert galician_minimal_stem("elefantes") == "elefante"
    assert galician_minimal_stem("elefante") == "elefante"
    assert galician_minimal_stem("kalóres") == "kalór"
    assert galician_minimal_stem("kalór") == "kalór"
    assert galician_minimal_stem("mas") == "mas"
    assert galician_minimal_stem("barcelonês") == "barcelonês"


def test_registry():
    assert len(RSLP_STEMMERS) == 4
    for fn in RSLP_STEMMERS.values():
        assert fn("") == ""
