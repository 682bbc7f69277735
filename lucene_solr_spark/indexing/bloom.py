"""Bloom term-existence sidecar — BloomFilteringPostingsFormat
re-expression (lucene/codecs/src/java/org/apache/lucene/codecs/bloom/
BloomFilteringPostingsFormat.java, FuzzySet.java, MurmurHash2.java,
DefaultBloomFilterFactory.java).

The reference wraps a delegate postings format and, per segment,
records every term of a field into an in-RAM FuzzySet; seekExact
fail-fasts on ``contains == NO`` — "save a disk seek if there is a
match on an in-memory structure that may occasionally give a false
positive but guaranteed no false negatives"
(BloomFilteringPostingsFormat.java:334-345).

Our engine's seekExact analogue is ``IndexSearcher._lookup_dfs``: a
driver-side pyarrow read of the term-sorted term_stats parquet,
filtered on the term column so row groups whose min/max excludes
every probed term are skipped (no Spark job). A cold term batch still
opens the files' footers and decodes the matching row groups, and
fuzzy/spell/suggest paths probe MANY absent terms. The bloom sidecar
answers NO in memory in microseconds — absent-only batches skip the
read entirely.

Fidelity kept exactly (tests/test_bloom.py pins published vectors):
- MurmurHash2.hash32 (seed 0x9747b28c) including Java's SIGNED-byte
  tail mixing (MurmurHash2.java:87-97 — ``h ^= data[len-3] << 16``
  sign-extends; the 4-byte word loop's sign extension washes out mod
  2^32, the tail's does not);
- FuzzySet all-ones bitset sizes (3, 7, ..., 2^31-1; FuzzySet.java:
  82-92), ``hash & bloomSize`` projection with Java ``hash * -1``
  negative handling (:160-164, Integer.MIN_VALUE fixpoint);
- sizing at 10% desired saturation via
  getEstimatedNumberUniqueValuesAllowingForCollisions (:292-299),
  downsize-to-10% on save (BloomFilterFactory.java:47-52), and the
  90%-saturation retirement rule (DefaultBloomFilterFactory.java:35-39).

Distributed build: one Arrow ``mapInPandas`` pass over term_stats
(each task sets bits into a task-local bitset over ONLY its input
split and emits the packed bytes), OR-folded on the driver — one scan,
no shuffle, byte traffic = n_tasks × bitset size.
"""

from __future__ import annotations

import json
import os
from typing import Optional

import numpy as np

_SEED = 0x9747B28C
_M = 0x5BD1E995
_U32 = 0xFFFFFFFF

# FuzzySet.usableBitSetSizes (FuzzySet.java:82-92): 30 all-ones masks
# 3, 7, 15, ..., 2^31-1
USABLE_SIZES = []
_size = 1
for _ in range(30):
    _size = ((_size << 1) | 1) & _U32
    USABLE_SIZES.append(_size)


def _sb(b: int) -> int:
    """Java signed byte."""
    return b - 256 if b > 127 else b


def murmurhash2_32(data: bytes, seed: int = _SEED) -> int:
    """MurmurHash2.hash(byte[], seed, 0, len) — exact Java-int port
    (MurmurHash2.java:60-101). Returns the SIGNED 32-bit result."""
    n = len(data)
    h = (seed ^ n) & _U32
    n4 = n >> 2
    for i in range(n4):
        j = i << 2
        # sign extension of the top byte washes out mod 2^32: the word
        # is the plain little-endian uint32
        k = (data[j + 3] << 24 | data[j + 2] << 16
             | data[j + 1] << 8 | data[j]) & _U32
        k = (k * _M) & _U32
        k ^= k >> 24
        k = (k * _M) & _U32
        h = (h * _M) & _U32
        h ^= k
    left = n - (n4 << 2)
    # the tail mixes SIGNED bytes (MurmurHash2.java:87-95)
    if left >= 3:
        h ^= (_sb(data[n - 3]) << 16) & _U32
    if left >= 2:
        h ^= (_sb(data[n - 2]) << 8) & _U32
    if left >= 1:
        h ^= _sb(data[n - 1]) & _U32
        h = (h * _M) & _U32
    h ^= h >> 13
    h = (h * _M) & _U32
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def _positions(terms, bloom_size: int) -> np.ndarray:
    """Bit positions for a batch of terms: Java ``hash < 0 -> hash*-1``
    then ``hash & bloomSize`` (FuzzySet.java:160-164, 214-223) — the
    AND operates on the two's-complement bit pattern, so negate mod
    2^32 (Integer.MIN_VALUE maps to itself)."""
    out = np.empty(len(terms), np.int64)
    for i, t in enumerate(terms):
        h = murmurhash2_32(t.encode("utf-8"))
        if h < 0:
            h = (-h) & _U32  # MIN_VALUE -> 0x80000000, like Java
        out[i] = h & bloom_size
    return out


def get_nearest_set_size(max_values: int,
                         desired_saturation: float) -> int:
    """FuzzySet.getNearestSetSize(int, float) (:117-130)."""
    for size in USABLE_SIZES:
        num_set = int(size * desired_saturation)
        est = estimated_unique_values(size, num_set)
        if est > max_values:
            return size
    return -1


def estimated_unique_values(set_size: int, num_bits: int) -> int:
    """FuzzySet.getEstimatedNumberUniqueValuesAllowingForCollisions
    (:292-299)."""
    saturation = num_bits / set_size
    return int(set_size * (-np.log(1.0 - saturation)))


class FuzzySet:
    """FuzzySet.java — NO / MAYBE membership over an all-ones-sized
    bitset, single MurmurHash2 probe."""

    def __init__(self, bits: np.ndarray, bloom_size: int):
        self.bits = bits  # uint8 array, (bloom_size+1)/8 bytes
        self.bloom_size = int(bloom_size)

    @classmethod
    def create(cls, max_values: int,
               desired_saturation: float = 0.10) -> "FuzzySet":
        """createSetBasedOnQuality (:139-142); DefaultBloomFilterFactory
        sizes at 10% saturation (:29-32)."""
        size = get_nearest_set_size(max_values, desired_saturation)
        if size < 0:
            size = USABLE_SIZES[-1]
        return cls(np.zeros((size + 8) // 8, np.uint8), size)

    # -- membership ----------------------------------------------------
    def add_terms(self, terms) -> None:
        pos = _positions(terms, self.bloom_size)
        np.bitwise_or.at(self.bits, pos >> 3,
                         np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))

    def may_contain(self, term: str) -> bool:
        """True = MAYBE, False = definite NO (FuzzySet.java:156-164)."""
        h = murmurhash2_32(term.encode("utf-8"))
        if h < 0:
            h = (-h) & _U32
        pos = h & self.bloom_size
        return bool(self.bits[pos >> 3] & (1 << (pos & 7)))

    # -- lifecycle (BloomFilterFactory rules) ---------------------------
    def saturation(self) -> float:
        set_bits = int(np.unpackbits(self.bits).sum())
        return set_bits / float(self.bloom_size)

    def is_saturated(self) -> bool:
        """DefaultBloomFilterFactory.isSaturated (:35-39): retire past
        90% — a filter that can barely say NO is wasted memory."""
        return self.saturation() > 0.9

    def downsize(self, target_max_saturation: float = 0.1):
        """FuzzySet.downsize (:249-283): reproject set bits into the
        smallest all-ones size that stays under the target saturation
        (valid because every size is an AND-mask of every larger one).
        Returns None when no smaller size qualifies."""
        num_set = int(np.unpackbits(self.bits).sum())
        right_size = self.bloom_size
        for size in USABLE_SIZES:
            if num_set / size <= target_max_saturation:
                right_size = size
                break
        if right_size >= self.bloom_size:
            return None
        idx = np.flatnonzero(np.unpackbits(self.bits, bitorder="little"))
        down = np.zeros((right_size + 8) // 8, np.uint8)
        new_pos = idx & right_size
        np.bitwise_or.at(down, new_pos >> 3,
                         np.left_shift(np.uint8(1),
                                       (new_pos & 7).astype(np.uint8)))
        return FuzzySet(down, right_size)

    # -- persistence ----------------------------------------------------
    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            hdr = json.dumps({"bloom_size": self.bloom_size,
                              "version": 1}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            f.write(self.bits.tobytes())
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "FuzzySet":
        with open(path, "rb") as f:
            n = int.from_bytes(f.read(4), "big")
            hdr = json.loads(f.read(n))
            bits = np.frombuffer(f.read(), np.uint8).copy()
        return cls(bits, int(hdr["bloom_size"]))


def build_bloom(term_stats_df, n_terms: int,
                desired_saturation: float = 0.10) -> Optional[FuzzySet]:
    """Distributed bloom build over the term dictionary: one Arrow
    pass (mapInPandas), per-task bitsets OR-folded on the driver, then
    the reference's downsize-on-save + saturation-retirement rules.

    Returns None when the filter would be retired (saturation > 0.9
    even at the largest size — DefaultBloomFilterFactory.isSaturated).
    """
    proto = FuzzySet.create(n_terms, desired_saturation)
    bloom_size = proto.bloom_size
    nbytes = len(proto.bits)

    def to_bitsets(batches):
        import pandas as pd

        local = np.zeros(nbytes, np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            pos = _positions(pdf["term"].tolist(), bloom_size)
            np.bitwise_or.at(local, pos >> 3,
                             np.left_shift(np.uint8(1),
                                           (pos & 7).astype(np.uint8)))
        if any_rows:
            yield pd.DataFrame({"bits": [local.tobytes()]})

    parts = term_stats_df.select("term").mapInPandas(
        to_bitsets, schema="bits binary").collect()
    acc = np.zeros(nbytes, np.uint8)
    for r in parts:
        acc |= np.frombuffer(r["bits"], np.uint8)
    fs = FuzzySet(acc, bloom_size)
    smaller = fs.downsize(desired_saturation)
    if smaller is not None:
        fs = smaller
    if fs.is_saturated():
        return None
    return fs
