"""Snowball stemmer family dueled over the reference's OWN
TestSnowballVocabData.zip (voc.txt -> output.txt per language — the
exact data TestSnowballVocab.assertVocabulary reads). Every word of
every language must stem EXACTLY; the transpiled classes
(snowball_ext.py) execute on the ported string machine
(snowball_runtime.py)."""

import os
import zipfile

import pytest
from reference_files import require_reference_file

from lucene_solr_spark.functions.snowball_ext import SNOWBALL_CLASSES

ZIP = ("/root/reference/lucene/analysis/common/src/test/org/apache/"
       "lucene/analysis/snowball/TestSnowballVocabData.zip")

# zip dir name -> class key (TestSnowballVocab.java's language list)
LANGS = {
    "danish": "danish", "dutch": "dutch", "english": "english",
    "finnish": "finnish", "french": "french", "german": "german",
    "german2": "german2", "hungarian": "hungarian",
    "italian": "italian", "kraaij_pohlmann": "kp",
    "lovins": "lovins", "norwegian": "norwegian", "porter": "porter",
    "portuguese": "portuguese", "romanian": "romanian",
    "russian": "russian", "spanish": "spanish", "swedish": "swedish",
    "turkish": "turkish",
}


def _available():
    if not os.path.exists(ZIP):
        return [None]  # one case, skipped by its guard
    with zipfile.ZipFile(ZIP) as z:
        dirs = {n.split("/")[0] for n in z.namelist() if "/" in n}
    return sorted(d for d in dirs if d in LANGS)


@pytest.mark.parametrize("lang", _available())
def test_full_reference_vocabulary(lang):
    require_reference_file(ZIP)
    cls = SNOWBALL_CLASSES[LANGS[lang]]
    with zipfile.ZipFile(ZIP) as z:
        voc = z.read(f"{lang}/voc.txt").decode("utf-8").splitlines()
        out = z.read(f"{lang}/output.txt").decode("utf-8").splitlines()
    assert len(voc) == len(out) and len(voc) > 1000
    st = cls()
    bad = []
    for w, e in zip(voc, out):
        st.set_current(w)
        st.stem()
        got = st.get_current()
        if got != e:
            bad.append((w, e, got))
    assert not bad, (
        f"{lang}: {len(bad)}/{len(voc)} mismatches, first 10: {bad[:10]}")


# The four languages absent from TestSnowballVocabData.zip get their
# independent vectors from the reference's OWN analyzer tests — data
# authored by the reference project, not generated by this
# implementation (r3 advice: no oracle could catch a transpile bug
# in these four before this).
REFERENCE_ANALYZER_VECTORS = {
    # TestCatalanAnalyzer.java:36-38
    "catalan": [("llengües", "llengu"), ("llengua", "llengu")],
    # TestBasqueAnalyzer.java:36-38, :50 (mendiari via exclusion test)
    "basque": [("zaldi", "zaldi"), ("zaldiak", "zaldi"),
               ("mendiari", "mendi")],
    # TestArmenianAnalyzer.java:36-38
    "armenian": [("արծիվ", "արծ"), ("արծիվներ", "արծ")],
    # TestIrishAnalyzer.java:36-38
    "irish": [("siopadóireacht", "siopadóir"),
              ("síceapatacha", "síceapaite")],
}


@pytest.mark.parametrize("lang", sorted(REFERENCE_ANALYZER_VECTORS))
def test_unzipped_language_reference_vectors(lang):
    cls = SNOWBALL_CLASSES[lang]
    st = cls()
    for word, expect in REFERENCE_ANALYZER_VECTORS[lang]:
        st.set_current(word)
        st.stem()
        assert st.get_current() == expect, (lang, word)
