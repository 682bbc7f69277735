"""Seeded inputs and the correctness gate.

Queries and updates are pure functions of the seed. After the timed part
of a run, every engine result is compared with ``OracleIndex``: the same
docIDs in the same ranks and bitwise-equal float32 scores. The oracle is
built only over the terms the run's queries use (every document is
still analyzed, for the norms and collection stats), and its answers are
cached per seed, sizes and source hash under ``.perfbench_work/``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Set, Tuple

import numpy as np

K = 10
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

Doc = Tuple[int, dict]  # (docID, corpus row)


def doc_key(row: dict) -> Tuple[str, str, str]:
    return (row["repo"], row["path"], row["commit"])


def read_corpus(path: str) -> List[Doc]:
    """The rows the engine indexed, in engine docID order (dense rank of
    the (repo, path, commit) key)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    return list(enumerate(sorted(rows, key=doc_key)))


# -- queries ------------------------------------------------------------

def window_df(docs: List[Doc]) -> Counter:
    """Document frequency of every analyzed term in the given docs."""
    from lucene_solr_spark.functions.analysis import analyze

    df: Counter = Counter()
    for _, r in docs:
        df.update(set(analyze(r["content"])))
    return df


def warmup_queries(lo: int) -> List[dict]:
    """Seed-independent queries of each shape, run before timing."""
    from lucene_solr_spark.corpusgen import int_to_english

    base = dict(mode="or", mm=0, exclude="")
    return [dict(base, kind="term", text="common_util"),
            dict(base, kind="phrase", text=int_to_english(lo + 1)),
            dict(base, kind="term", text="core_ctx shared_buf", mode="and"),
            dict(base, kind="term", text="base_handler", exclude="core_ctx")]


class QueryStream:
    """Top-k queries across DF bands of the indexed window: single terms
    (high / mid / rare DF), OR-2, OR-20, AND-2, AND-3, mm 2-of-4, NOT,
    and exact phrases of the doc-header number words. Every drawn term
    occurs in the window. Kinds rotate in a fixed order so every run
    sees the same mix."""

    KINDS = ("high", "phrase", "mid", "or2", "and2", "rare", "or20",
             "mm", "and3", "not")

    def __init__(self, seed: int, lo: int, hi: int, df: Counter):
        from lucene_solr_spark.functions.analysis import analyze

        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.lo, self.hi = lo, hi
        self.n = 0
        # bands are DF-rank quantiles: the corpus vocabulary is dense, so
        # the rarest terms still occur in several docs of a window
        ranked = sorted((t for t in df if analyze(t) == [t]),
                        key=lambda t: (-df[t], t))
        n = len(ranked)
        self.bands = {"high": ranked[:n // 50],
                      "mid": ranked[2 * n // 5:3 * n // 5],
                      "rare": ranked[-n // 20:]}

    def _word(self, band: str) -> str:
        pool = self.bands[band]
        return pool[int(self.rng.integers(len(pool)))]

    def _words(self, n: int) -> str:
        bands = ("high", "mid", "mid", "rare")
        return " ".join(self._word(bands[int(self.rng.integers(4))])
                        for _ in range(n))

    def next(self) -> dict:
        from lucene_solr_spark.corpusgen import int_to_english

        kind = self.KINDS[self.n % len(self.KINDS)]
        self.n += 1
        q = dict(kind="term", mode="or", mm=0, exclude="")
        if kind in ("high", "mid", "rare"):
            q["text"] = self._word(kind)
        elif kind == "phrase":
            doc = int(self.rng.integers(self.lo, self.hi))
            q.update(kind="phrase", text=int_to_english(doc))
        elif kind in ("or2", "or20"):
            q["text"] = self._words(2 if kind == "or2" else 20)
        elif kind in ("and2", "and3"):
            q.update(mode="and", text=" ".join(
                [self._word("high"), self._word("mid")]
                + [self._word("high")] * (kind == "and3")))
        elif kind == "mm":
            q.update(mm=2, text=self._words(4))
        else:
            q.update(text=self._word("high"), exclude=self._word("mid"))
        return q


def query_terms(q: dict) -> Tuple[Set[str], Set[str]]:
    """(all analyzed terms, phrase terms) of a query."""
    from lucene_solr_spark.functions.analysis import (
        analyze,
        analyze_with_positions,
    )

    if q["kind"] == "phrase":
        ts = {t for t, _ in analyze_with_positions(q["text"])}
        return ts, ts
    return set(analyze(q["text"])) | set(analyze(q["exclude"])), set()


def query_key(q: dict) -> str:
    return json.dumps([q["kind"], q["text"], q["mode"], q["mm"],
                       q["exclude"]])


# -- updates ------------------------------------------------------------

@dataclass
class Cycle:
    rows: List[dict]             # appended rows, replacements included
    added: List[Doc]             # (docID, row) in docID order
    deletes: List[int]           # docIDs passed to delete_docs
    tombstones: frozenset        # every dead docID after this cycle
    probe: dict                  # phrase query for probe_doc
    probe_doc: int               # a docID appended in this cycle
    live_input_bytes: int        # content bytes of live docs


class UpdateStream:
    """NRT cycles: fresh rows, rows that replace a live key with new
    content, and deletes of live docIDs, all drawn from the seed. Tracks
    the docIDs the engine must assign (appended rows take the next dense
    range in key order; a replaced key's old docID is tombstoned)."""

    def __init__(self, seed: int, base: List[Doc], next_index: int,
                 n_append: int, n_replace: int, n_delete: int):
        self.rng = np.random.Generator(np.random.PCG64(seed + 7919))
        self.live: Dict[Tuple[str, str, str], int] = {
            doc_key(r): d for d, r in base}
        self.rows_by_id: Dict[int, dict] = {d: r for d, r in base}
        self.dead: Set[int] = set()
        self.max_doc = len(base)
        self.next_index = next_index
        self.n_append, self.n_replace = n_append, n_replace
        self.n_delete = n_delete
        self.live_bytes = sum(len(r["content"].encode()) for _, r in base)

    def _draw_live(self, n: int, exclude=()) -> List[int]:
        ids = sorted(set(self.live.values()) - set(exclude))
        pick = self.rng.choice(len(ids), size=n, replace=False)
        return [ids[int(i)] for i in pick]

    def next_cycle(self) -> Cycle:
        from lucene_solr_spark.corpusgen import doc_content, int_to_english, row

        n_fresh = self.n_append - self.n_replace
        first = self.next_index
        fresh = [row(i) for i in range(first, first + n_fresh)]
        replaced = self._draw_live(self.n_replace)
        rows = list(fresh)
        for j, old in enumerate(replaced):
            r = dict(self.rows_by_id[old])
            r["content"] = doc_content(first + n_fresh + j)
            rows.append(r)
        self.next_index = first + self.n_append
        deletes = self._draw_live(self.n_delete, exclude=replaced)

        added = list(enumerate(sorted(rows, key=doc_key), self.max_doc))
        self.max_doc += len(added)
        for old in replaced + deletes:
            self.dead.add(old)
            self.live_bytes -= len(self.rows_by_id[old]["content"].encode())
            del self.live[doc_key(self.rows_by_id[old])]
        for d, r in added:
            self.live[doc_key(r)] = d
            self.rows_by_id[d] = r
            self.live_bytes += len(r["content"].encode())

        # probe: a fresh doc whose header phrase no other doc contains
        # (no trailing zero word, not the x98/x99 duplicate pair)
        cands = [i for i in range(first, first + n_fresh)
                 if i % 10 and i % 100 < 98]
        i = cands[int(self.rng.integers(len(cands)))]
        probe_doc = self.live[doc_key(row(i))]
        probe = dict(kind="phrase", text="doc " + int_to_english(i),
                     mode="or", mm=0, exclude="")
        return Cycle(rows, added, deletes, frozenset(self.dead), probe,
                     probe_doc, self.live_bytes)


# -- oracle -------------------------------------------------------------

class LiteOracle:
    """OracleIndex restricted to the terms in play: postings for query
    terms, positions for phrase terms, norms and stats for every doc."""

    def __init__(self, terms: Set[str], phrase_terms: Set[str]):
        from lucene_solr_spark.oracle import OracleIndex

        self.idx = OracleIndex()
        self.idx.analyzer = "standard"
        self.terms, self.phrase_terms = terms, phrase_terms

    def add(self, docs: List[Doc]) -> None:
        from lucene_solr_spark.functions.analysis import analyze_with_positions
        from lucene_solr_spark.functions.smallfloat import encode_norm

        idx = self.idx
        for doc_id, r in docs:
            twp = analyze_with_positions(r["content"])
            idx.max_doc += 1
            idx.sum_ttf += len(twp)
            with np.errstate(divide="ignore"):
                idx.norm_bytes[doc_id] = int(encode_norm(len(twp)))
            tf = Counter(t for t, _ in twp)
            for t in self.terms & tf.keys():
                idx.postings.setdefault(t, []).append((doc_id, tf[t]))
            if self.phrase_terms & tf.keys():
                for t, p in twp:
                    if t in self.phrase_terms:
                        idx.positions.setdefault(t, {}).setdefault(
                            doc_id, []).append(p)

    def answer(self, q: dict, dead: frozenset = frozenset()):
        k = K if not dead else 1 << 30
        if q["kind"] == "phrase":
            got = self.idx.search_phrase(q["text"], k=k)
        else:
            got = self.idx.search(q["text"], k=k, mode=q["mode"],
                                  min_should_match=q["mm"],
                                  exclude=q["exclude"])
        return [(d, s) for d, s in got if d not in dead][:K]


def _encode(hits) -> list:
    return [[int(d), np.float32(s).tobytes().hex()] for d, s in hits]


def source_hash() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "lucene_solr_spark", "**",
                                          "*.py"), recursive=True)
                   + glob.glob(os.path.join(HERE, "*.py")))
    for p in files:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + f.read())
    return h.hexdigest()


class Expected:
    """Oracle answers for one (workload, seed, sizes), cached on disk."""

    def __init__(self, work: str, workload: str, seed: int, sizes):
        key = json.dumps([workload, seed, sizes, source_hash()])
        name = hashlib.sha256(key.encode()).hexdigest()[:24] + ".json"
        self.path = os.path.join(os.path.dirname(work), "expected", name)
        try:
            with open(self.path) as f:
                self.cache: Dict[str, list] = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self.dirty = False

    def _fill(self, wanted: List[str], build) -> None:
        if all(w in self.cache for w in wanted):
            return
        self.cache.update(build())
        self.dirty = True

    def _save(self) -> None:
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path + ".tmp", "w") as f:
                json.dump(self.cache, f)
            os.replace(self.path + ".tmp", self.path)

    def check_static(self, docs: List[Doc], checked, searcher) -> int:
        """Top-k results plus collection and term stats of one index.
        Returns the number of mismatches (a failed call counts as one)."""
        terms: Set[str] = set()
        phrase: Set[str] = set()
        for q, _ in checked:
            a, p = query_terms(q)
            terms |= a
            phrase |= p
        wanted = ([query_key(q) for q, _ in checked]
                  + ["max_doc", "sum_ttf"] + [f"df:{t}" for t in terms])

        def build():
            o = LiteOracle(terms, phrase)
            o.add(docs)
            out = {query_key(q): _encode(o.answer(q)) for q, _ in checked}
            out["max_doc"], out["sum_ttf"] = o.idx.max_doc, o.idx.sum_ttf
            out.update({f"df:{t}": o.idx.df(t) for t in terms})
            return out

        self._fill(wanted, build)
        self._save()
        bad = sum(got is None or _encode(got) != self.cache[query_key(q)]
                  for q, got in checked)
        bad += searcher.max_doc != self.cache["max_doc"]
        bad += searcher.sum_ttf != self.cache["sum_ttf"]
        from pyspark.sql import functions as F

        engine_df = {r["term"]: int(r["df"]) for r in searcher.term_stats()
                     .filter(F.col("term").isin(sorted(terms))).collect()}
        bad += sum(engine_df.get(t, 0) != self.cache[f"df:{t}"]
                   for t in terms)
        return bad

    def check_nrt(self, base: List[Doc], cycles: List[dict]) -> int:
        """Every cycle: the probe returns the appended doc, and the probe
        and queries match an oracle over all docs so far (tombstoned ones
        included, since stats keep counting them) with dead docs
        filtered out of its ranking."""
        def qs(c):
            return [c["cyc"].probe] + c["queries"]

        wanted = [f"{i}:{query_key(q)}" for i, c in enumerate(cycles)
                  for q in qs(c)]
        terms: Set[str] = set()
        phrase: Set[str] = set()
        for c in cycles:
            for q in qs(c):
                a, p = query_terms(q)
                terms |= a
                phrase |= p

        def build():
            o = LiteOracle(terms, phrase)
            o.add(base)
            out = {}
            for i, c in enumerate(cycles):
                o.add(c["cyc"].added)
                for q in qs(c):
                    out[f"{i}:{query_key(q)}"] = _encode(
                        o.answer(q, c["cyc"].tombstones))
            return out

        self._fill(wanted, build)
        self._save()
        bad = 0
        for i, c in enumerate(cycles):
            probe = c["probe"]
            bad += probe is None or c["cyc"].probe_doc not in [
                d for d, _ in probe]
            for q, got in zip(qs(c), [probe] + c["got"]):
                bad += (got is None or _encode(got)
                        != self.cache[f"{i}:{query_key(q)}"])
        return bad
