"""Light/minimal stemmer pack dueled against the reference's OWN
vocabulary test data — the same word\\tstem files the reference's
VocabularyAssert.assertVocabulary reads (10k-55k pairs per language),
so parity is over the full published vocabularies, not samples.

Reference tests: Test{German,French,Spanish,Italian,Portuguese,
Russian,Swedish,Finnish,Hungarian}LightStemFilter.java,
Test{German,French,Norwegian}MinimalStemFilter.java,
TestNorwegian{Light,Minimal}StemFilter.java."""

import io
import os
import zipfile

import pytest
from reference_files import require_reference_file

from lucene_solr_spark.functions.lightstemmers import (
    LIGHT_STEMMERS,
    finnish_light_stem,
    french_light_stem,
    french_minimal_stem,
    german_light_stem,
    german_minimal_stem,
    hungarian_light_stem,
    italian_light_stem,
    norwegian_light_stem,
    norwegian_minimal_stem,
    portuguese_light_stem,
    russian_light_stem,
    spanish_light_stem,
    swedish_light_stem,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"

# (stemmer, test-data path, member-in-zip-or-None)
VOCABS = [
    (german_light_stem, f"{REF}/de/delighttestdata.zip", "delight.txt"),
    (german_minimal_stem, f"{REF}/de/deminimaltestdata.zip",
     "deminimal.txt"),
    (french_light_stem, f"{REF}/fr/frlighttestdata.zip", "frlight.txt"),
    (french_minimal_stem, f"{REF}/fr/frminimaltestdata.zip",
     "frminimal.txt"),
    (spanish_light_stem, f"{REF}/es/eslighttestdata.zip", "eslight.txt"),
    (italian_light_stem, f"{REF}/it/itlighttestdata.zip", "itlight.txt"),
    (portuguese_light_stem, f"{REF}/pt/ptlighttestdata.zip",
     "ptlight.txt"),
    (russian_light_stem, f"{REF}/ru/rulighttestdata.zip", "rulight.txt"),
    (swedish_light_stem, f"{REF}/sv/svlighttestdata.zip", "svlight.txt"),
    (finnish_light_stem, f"{REF}/fi/filighttestdata.zip", "filight.txt"),
    (hungarian_light_stem, f"{REF}/hu/hulighttestdata.zip",
     "hulight.txt"),
    (norwegian_light_stem, f"{REF}/no/nb_light.txt", None),
    (norwegian_minimal_stem, f"{REF}/no/nb_minimal.txt", None),
]


def _load_pairs(path, member):
    if member is not None:
        with zipfile.ZipFile(path) as z:
            name = member if member in z.namelist() else z.namelist()[0]
            raw = z.read(name)
    else:
        with open(path, "rb") as f:
            raw = f.read()
    pairs = []
    for line in io.StringIO(raw.decode("utf-8")):
        line = line.rstrip("\n")
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) != 2:
            continue
        pairs.append((parts[0], parts[1]))
    return pairs


@pytest.mark.parametrize(
    "stem,path,member", VOCABS,
    ids=[os.path.basename(v[1]) for v in VOCABS])
def test_full_reference_vocabulary(stem, path, member):
    require_reference_file(path)
    pairs = _load_pairs(path, member)
    # the zip vocabularies are 10k-55k pairs; the hand-crafted
    # Norwegian nb_*.txt lists are ~80
    floor = 1000 if member is not None else 50
    assert len(pairs) > floor, f"suspiciously small vocabulary: {path}"
    bad = [(w, e, stem(w)) for w, e in pairs if stem(w) != e]
    assert not bad, (
        f"{len(bad)}/{len(pairs)} mismatches, first 10: {bad[:10]}")


def test_registry_covers_all():
    assert len(LIGHT_STEMMERS) == 13
    for name, fn in LIGHT_STEMMERS.items():
        assert callable(fn), name
        # stemmers never grow a token and are identity-safe on ''
        assert fn("") == ""
