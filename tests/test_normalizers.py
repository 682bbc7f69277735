"""Normalizer pack dueled over the reference tests' own vectors,
parsed from Test{ArabicNormalization,PersianNormalization,
HindiNormalizer,GermanNormalization}Filter/.java sources."""

import re

import pytest
from reference_files import require_reference_file

from lucene_solr_spark.functions.normalizers import (
    NORMALIZERS,
    arabic_normalize,
    german_normalize,
    hindi_normalize,
    persian_normalize,
)

REF = "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"

_PAIR = re.compile(
    r'(?:check|checkOneTerm)\((?:\w+,\s*)?"([^"]+)",\s*"([^"]+)"\)')


def _unesc(s):
    """Decode Java \\uXXXX escapes inside extracted string literals."""
    return re.sub(r"\\u([0-9a-fA-F]{4})",
                  lambda m: chr(int(m.group(1), 16)), s)

CASES = [
    (arabic_normalize, "ar/TestArabicNormalizationFilter.java", 12),
    (persian_normalize, "fa/TestPersianNormalizationFilter.java", 5),
    (hindi_normalize, "hi/TestHindiNormalizer.java", 12),
    (german_normalize, "de/TestGermanNormalizationFilter.java", 3),
]


@pytest.mark.parametrize(
    "fn,path,floor", CASES, ids=[c[1].split("/")[0] for c in CASES])
def test_reference_vectors(fn, path, floor):
    require_reference_file(f"{REF}/{path}")
    src = open(f"{REF}/{path}", encoding="utf-8").read()
    pairs = [(_unesc(w), _unesc(e)) for w, e in _PAIR.findall(src)]
    assert len(pairs) >= floor, f"extraction too small: {len(pairs)}"
    bad = [(w, e, fn(w)) for w, e in pairs if fn(w) != e]
    assert not bad, f"{len(bad)}/{len(pairs)}: {bad[:10]}"


def test_registry():
    assert set(NORMALIZERS) == {"ar_norm", "fa_norm", "hi_norm",
                                "de_norm", "ar_pipe", "fa_pipe",
                                "hi_pipe"}
    for fn in NORMALIZERS.values():
        assert fn("") == ""


def test_composed_pipelines():
    # ArabicAnalyzer order: normalize then stem (e.g. the definite
    # article strips after hamza-seat folding)
    assert NORMALIZERS["ar_pipe"]("ألحسن") \
        == "حسن"
    # PersianAnalyzer: farsi yeh -> arabic yeh after arabic pass
    assert NORMALIZERS["fa_pipe"]("یک") == "يك"
