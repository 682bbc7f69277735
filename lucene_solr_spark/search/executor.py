"""Query execution: the IndexSearcher of this engine.

Spark shape (SURVEY.md section 3.1, re-expressing IndexSearcher.search,
lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:259-273):

  stage A (driver, no cluster): analyze query with the SAME chain
    (QueryParserBase re-analysis semantics, lucene/queryparser/.../classic/
    QueryParserBase.java:490-620), look up term_stats (a pyarrow read of
    the term-sorted parquet, pruned on term min/max), compute idf + the
    256-entry norm cache once per query (TermWeight ctor,
    TermQuery.java:50-59).
  stage B (executors): postings.filter(term IN terms) -> cogroup with
    segment norms by scoring group -> applyInPandas kernel scores with
    numpy float32 in the NORMATIVE accumulation order (ConjunctionScorer
    cost-order float32 sum / DisjunctionSumScorer double sum), emitting
    <= k rows per group (per-partition bounded top-k, the
    TopScoreDocCollector analogue).
  stage C (driver): global orderBy(score desc, doc_id asc).limit(k)
    over ~n_groups*k rows (HitQueue.lessThan tie-break,
    search/HitQueue.java:76-81) — a tiny, exact merge because all
    groups share one global docID space (unlike Solr's shardIndex
    tie-break, TopDocs.java:95-117; SURVEY.md section 3.3).

Physical execution adapts to scale:
  - an index whose cached postings are at most
    indexing.build.LOCAL_POSTINGS_MAX_BYTES is also held on the driver:
    single queries run the same kernels in-process and merge there
    (IndexSearcher._top_hits), with no Spark job — stage B and C
    without the cluster;
  - postings cache pre-partitioned by scoring group (term-sorted within
    partitions): groupBy(gid).applyInPandas reuses the partitioning, so
    a query's kernel runs in the SAME stage as the cache scan — zero
    shuffles per query;
  - segment norms broadcast when they fit (<=32M docs, the
    broadcast-join idea), else cogrouped so each task receives exactly
    its groups' norms;
  - search_many multiplexes a whole query batch through one job with
    per-(task, group, term) decode sharing and a driver-side exact
    merge — the high-QPS path.

Every per-group kernel is a function of one _Group: a scoring group's
doc span, norm bytes, tombstones and postings rows by term. Spark's
applyInPandas adapters build it with _Group.of, the driver path from
its held rows (IndexSearcher._local_groups), and search_many hands each
query ``g.view(terms)`` of one shared group, so a term decodes once
per batch. ``explain`` reads the same group.

Block-max WAND pruning (wand=True, BM25 only) uses the per-block
(max_tf, max_nb) skip metadata to decode only blocks that can still
beat the group's running heap floor — score-safe, so results are
identical with wand on/off (gated by
tests/test_engine_vs_oracle.py::test_wand_equals_exhaustive).
Similarities: bm25 (default, inlined in the kernels) and every model of
functions/similarity.py, whose spec (built once per query in ``plan``)
the kernels and ``explain`` score through one function; all
dual-execution gated.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from collections import namedtuple
from dataclasses import dataclass
from functools import cached_property
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    FloatType,
    LongType,
    StructField,
    StructType,
)

from lucene_solr_spark.catalog import Catalog
from lucene_solr_spark.constants import B, K1
from lucene_solr_spark.functions import similarity as S
from lucene_solr_spark.functions.analysis import get_analyzer
from lucene_solr_spark.functions.bm25 import K1_PLUS_1, avgdl, idf, norm_cache
from lucene_solr_spark.indexing.build import (
    _POSTING_COLS,
    DOCS_SCHEMA,
    TERM_STATS_SCHEMA,
    TOMBSTONES_SCHEMA,
    SEGS_BROADCAST_MAX_DOCS,
    _as_list,
    _is_combined_dir,
    held_on_driver,
    postings_bytes,
    read_postings_any,
    read_segments_any,
    read_table,
)
from lucene_solr_spark.indexing.codec import decode_postings, decode_skips

F32 = np.float32
HITS_SCHEMA = StructType([StructField("doc_id", LongType()),
                          StructField("score", FloatType())])


@dataclass
class QueryPlan:
    """Rewritten query (the Query.rewrite fixpoint analogue,
    IndexSearcher.java:626-636): analyzed, deduped terms with global
    stats resolved; AND clause order fixed df-ascending (stable)."""

    terms: List[str]            # scoring clauses, original order
    dfs: Dict[str, int]
    weights: Dict[str, float]   # float32 idf per term (boost=1)
    mode: str                   # 'or' | 'and' | 'dismax'
    mm: int
    exclude_terms: List[str]
    k: int
    cache: np.ndarray           # 256-entry float32 norm cache
    empty: bool = False
    after: Optional[Tuple[float, int]] = None  # searchAfter cursor
    sim: Optional[dict] = None  # non-BM25 similarity spec (functions/similarity.py)
    tie: float = 0.0            # dismax tieBreakerMultiplier


class TimeExceededError(RuntimeError):
    """TimeLimitingCollector.TimeExceededException analogue."""


def _wildcard_regex(pat: str) -> str:
    """WildcardQuery pattern -> anchored Java regex for Column.rlike:
    ``*`` = any run, ``?`` = one char, everything else literal
    (WildcardQuery.java:33-59 toAutomaton)."""
    out = []
    for ch in pat:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _wildcard_prefix(pat: str) -> str:
    """Literal prefix of a wildcard pattern (chars before the first
    ``*``/``?``) — the seek prefix CompiledAutomaton derives for the
    term-dict walk (WildcardQuery's automaton has a common prefix;
    PrefixTermsEnum-style seek). Used as a NECESSARY pre-filter that
    parquet can push down (StringStartsWith), unlike rlike."""
    out = []
    for ch in pat:
        if ch in "*?":
            break
        out.append(ch)
    return "".join(out)


_REGEX_META = set("\\.[]{}()*+?|^$")


def _regex_literal_prefix(pattern: str) -> str:
    """Conservative longest REQUIRED literal prefix of a regex — the
    relational stand-in for CompiledAutomaton.commonPrefix (the seek
    target of RegexpQuery's terms-enum walk; sandbox RegexCapabilities
    .prefix() is the same idea). Returns "" whenever in doubt:

      * any top-level alternation disables the prefix ("ab|cd");
      * scan stops at the first metacharacter;
      * if that metacharacter is a quantifier that can make the
        preceding literal optional (``*``, ``?``, ``{``), the literal
        is dropped too ("mer?ge" -> "me").

    The returned prefix is implied by the pattern, so conjoining
    startswith(prefix) to the rlike cannot change results — it only
    lets the scan skip term-dict row groups."""
    if "|" in pattern:
        return ""
    out = []
    for ch in pattern:
        if ch in _REGEX_META:
            if ch in "*?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _sql_string(s: str) -> str:
    """Spark SQL string literal of ``s``. Every ASCII character but
    letters, digits and ``_`` becomes a ``\\uXXXX`` escape, so neither
    quotes and backslashes nor the parser's ``${...}`` variable
    substitution can change the value; other characters pass verbatim."""
    return "'" + "".join(
        c if c.isalnum() or c == "_" or ord(c) > 127
        else "\\u%04x" % ord(c) for c in s) + "'"


def terms_in(terms) -> Column:
    """``term IN (terms)`` built in ONE JVM call. Column.isin makes one
    py4j literal call per term (about 0.5 ms each, over 100 ms for a
    255-term batch); this parses a single SQL expression instead.
    The plan is the same In/InSet predicate, so cached-batch and
    row-group min/max pruning on the sorted term column still apply."""
    terms = list(terms)
    if not terms:
        return F.col("term").isin([])
    return F.expr(f"term IN ({', '.join(map(_sql_string, terms))})")


class _SrndUnsat(Exception):
    """A surround prefix/trunc expansion matched no index terms — the
    enclosing distance query is unsatisfiable (empty SpanOr from
    surround/query/SpanNearClauseFactory.java)."""


class IndexSearcher:
    # postings above this on-disk size are NOT persisted: rely on
    # parquet predicate pushdown + OS page cache (the Lucene mmap
    # model). Override with LSS_POSTINGS_CACHE_MAX_BYTES.
    POSTINGS_CACHE_MAX_BYTES = 8 * 1024 ** 3

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_postings: Optional[bool] = None):
        # The search phase runs on a conf-isolated sibling session:
        # newSession() shares the SparkContext AND the cache manager
        # (persisted postings/segments are visible) but has its OWN
        # SQLConf, so disabling AQE here cannot leak to co-tenant ETL
        # on the caller's session (ADVICE r1: no session-global side
        # effects from a constructor). AQE is off for queries because
        # its re-planning both adds driver latency and WRAPS the cached
        # postings plan so its gid hash partitioning is no longer
        # visible to groupBy(gid).applyInPandas — reintroducing a
        # per-query Exchange (see tools/explain_audit.py evidence).
        self.spark = spark.newSession()
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark = self.spark
        self.catalog = Catalog(index_dir)
        snap = self.catalog.latest_at_stage("commit", "merge", "delete")
        if snap is None:
            raise ValueError(f"no committed index at {index_dir}")
        self.snap = snap
        with open(snap.tables["collection_stats"]) as f:
            coll = json.load(f)
        self.max_doc = int(coll["max_doc"])
        self.sum_ttf = int(coll["sum_total_term_freq"])
        self.avgdl = avgdl(self.sum_ttf, self.max_doc)
        self.cache = norm_cache(self.avgdl, K1, B)
        self.group_factor = int(snap.props.get("group_factor", 1))
        # query text is ALWAYS re-analyzed with the chain the index was
        # built with (QueryParserBase re-analysis semantics)
        self.analyzer = get_analyzer(snap.props.get("analyzer", "standard"))

        gf = self.group_factor
        par = spark.sparkContext.defaultParallelism
        # the cache is pre-partitioned by scoring group and term-sorted
        # inside each partition: groupBy("gid").applyInPandas reuses
        # the cached hash partitioning (NO shuffle on the query path —
        # the kernel runs in the same stage as the cache scan), while
        # per-batch term min/max stats keep pruning the term IN lookup
        n_groups_est = max(-(-self.max_doc // gf), 1)
        self._posts_parts = max(min(n_groups_est, 2 * par), 1)
        posts_bytes = self._postings_bytes()
        if cache_postings is None:
            # auto: cache only when the postings plausibly fit — above
            # the threshold the persist would thrash executor memory at
            # cluster scale, and the sorted-parquet pushdown path is
            # the designed fallback (scan prunes row groups by term
            # min/max exactly like the cache prunes batches)
            limit = int(os.environ.get(
                "LSS_POSTINGS_CACHE_MAX_BYTES",
                self.POSTINGS_CACHE_MAX_BYTES,
            ))
            cache_postings = posts_bytes <= limit
        self.postings_cached = bool(cache_postings)
        # driver path: a small index is held on the driver, which
        # answers single queries in-process (_top_hits) — Lucene's
        # in-process IndexSearcher; a Spark job's fixed cost would
        # dominate. Uncached postings keep every query on Spark.
        local = self.postings_cached and held_on_driver(self.max_doc,
                                                         posts_bytes)
        # adaptive broadcast of segment meta (the Catalyst
        # broadcast-join idea applied to the norms side): when all norm
        # blobs fit comfortably (~1 byte/doc + deletions), ship them to
        # every task once and run the scoring kernels under a plain
        # groupBy — one shuffle leg instead of a cogroup's two, and no
        # per-query Arrow transfer of the segs side. Above the
        # threshold (cluster scale) the cogroup path delivers each task
        # exactly its groups' norms. The broadcast map is read with
        # pyarrow on the driver (no Spark job); it also gives n_groups.
        self._segs_bc = None
        # driver path state: postings as one Arrow table, each group's
        # _group_ctx built once per searcher
        self._local_postings = None
        self._local_ctx: Dict[int, tuple] = {}
        # search_with_time_limit's deadline, per calling thread
        self._timed = threading.local()
        if self.max_doc <= SEGS_BROADCAST_MAX_DOCS:
            seg_map = self._read_local_segments()
            self._segs_bc = spark.sparkContext.broadcast(seg_map)
            n_gids = len(seg_map)
            if local:
                self._local_postings = self._read_local_postings()
                self._local_row = namedtuple(
                    "Row", self._local_postings.column_names)._make
        else:
            n_gids = read_segments_any(
                spark, snap.tables["segments"]).select(
                (F.col("seg_id") / F.lit(gf)).cast("long")).distinct().count()
        self.n_groups = max(int(n_gids), 1)
        # the same term-sorted files, read on the driver by _lookup_dfs
        self._term_stats_files = pa_ds.dataset(
            snap.tables["term_stats"], format="parquet")
        # driver-side TermContext cache (TermQuery gathers stats once
        # per query, TermQuery.java:161-177; hot terms stay cached)
        self._df_cache: Dict[str, Optional[int]] = {}

    # The Spark plans over the snapshot's tables are built on first use
    # by a Spark-path surface (search_many, term scans, enable_bloom,
    # ...): an open on the driver path builds, and caches, none of them.
    @cached_property
    def _postings(self) -> DataFrame:
        # postings cached: every query filters this table by term, and
        # re-reading + re-decoding parquet per query is the latency
        # floor otherwise. Spark's columnar cache keeps per-batch
        # min/max stats on the sorted term column, so the term IN
        # filter prunes cached batches the same way parquet row groups
        # prune. (Cluster scale: postings >> RAM — drop the persist and
        # rely on parquet predicate pushdown + OS page cache, exactly
        # the Lucene mmap model.)
        posts = (
            read_postings_any(self.spark, self.snap.tables["postings"])
            .withColumn("gid", (F.col("seg_id")
                                / F.lit(self.group_factor)).cast("long"))
            .repartition(self._posts_parts, "gid")
            .sortWithinPartitions("term")
        )
        if self.postings_cached:
            posts = posts.persist(StorageLevel.MEMORY_AND_DISK)
        return posts

    @cached_property
    def _segments(self) -> DataFrame:
        # segment meta (norm blobs) is small relative to postings
        # (O(n_segs)); without the broadcast every query cogroups
        # against it, so it is cached — repeated reads from parquet
        # dominate small-query latency otherwise
        segs = read_segments_any(self.spark, self.snap.tables["segments"])
        segments = segs.select("seg_id", "doc_base", "doc_count",
                               "norms_enc")
        tomb = self.snap.tables.get("tombstones")
        if tomb:
            segments = self._attach_tombstones(segments, tomb)
        segments = segments.withColumn(
            "gid", (F.col("seg_id") / F.lit(self.group_factor)).cast("long")
        )
        # pre-shard the segs side by scoring group: cogroups then reuse
        # this hash partitioning instead of re-sharding into
        # spark.sql.shuffle.partitions tiny tasks on every query — the
        # per-query task count tracks n_groups, not the global conf.
        # Cached only where it is read per query (the cogroup path);
        # with the broadcast it stays a plan.
        n_parts = max(min(self.n_groups,
                          2 * self.spark.sparkContext.defaultParallelism), 1)
        segments = segments.repartition(n_parts, "gid")
        if self._segs_bc is None:
            segments = segments.persist()
        return segments

    @cached_property
    def _term_stats(self) -> DataFrame:
        return read_table(self.spark, TERM_STATS_SCHEMA,
                          self.snap.tables["term_stats"]).persist()

    @cached_property
    def _docs(self) -> DataFrame:
        return read_table(self.spark, DOCS_SCHEMA, self.snap.tables["docs"])

    def _postings_bytes(self) -> int:
        """On-disk size of the snapshot's postings (build.postings_bytes)."""
        return postings_bytes(self.snap.tables["postings"])

    def _read_local_segments(self) -> Dict[int, pd.DataFrame]:
        """The broadcast segment map read with pyarrow on the driver (no
        Spark job): segment meta by gid, tombstones packed per segment
        as sorted ``<i8`` docIDs — the rows _attach_tombstones builds
        for the cogroup path."""
        segs = pa.concat_tables([
            pa_ds.dataset(os.path.join(p, "is_meta=true"), format="parquet")
            .to_table(columns=["seg_id", "doc_base", "doc_count",
                               "norms_enc"])
            for p in _as_list(self.snap.tables["segments"])
        ]).to_pandas()
        tomb = self.snap.tables.get("tombstones")
        if tomb:
            ids = np.sort(pa_ds.dataset(tomb, format="parquet")
                          .to_table(columns=["doc_id"])["doc_id"]
                          .to_numpy())
            base = segs["doc_base"].to_numpy()
            lo = np.searchsorted(ids, base)
            hi = np.searchsorted(ids, base + segs["doc_count"].to_numpy())
            segs["deleted_enc"] = [
                ids[a:b].astype("<i8").tobytes() if b > a else None
                for a, b in zip(lo, hi)]
        segs["gid"] = segs["seg_id"] // self.group_factor
        return {int(g): p for g, p in segs.groupby("gid")}

    def _read_local_postings(self) -> pa.Table:
        """Every postings row (_POSTING_COLS plus gid) as one Arrow
        table on the driver, sorted (term, seg_id) — the row order a
        cached partition hands the kernel."""
        parts = []
        for p in _as_list(self.snap.tables["postings"]):
            if _is_combined_dir(p):
                p = os.path.join(p, "is_meta=false")
                if not os.path.isdir(p):
                    continue  # a generation without postings rows
            parts.append(pa_ds.dataset(p, format="parquet")
                         .to_table(columns=_POSTING_COLS))
        tbl = pa.concat_tables(parts)
        tbl = tbl.append_column(
            "gid", pc.divide(tbl["seg_id"], self.group_factor))
        return tbl.sort_by([("term", "ascending"), ("seg_id", "ascending")])

    def _attach_tombstones(self, segments: DataFrame, tomb_path: str):
        """Join the tombstone set onto segment meta as a per-segment
        packed docID blob (the .liv bitset analogue) so every scoring
        kernel sees deletions through the cogrouped segs side — no extra
        shuffle at query time. Segment bounds broadcast (O(n_segs))."""
        tomb = read_table(self.spark, TOMBSTONES_SCHEMA, tomb_path)
        bounds = segments.select("seg_id", "doc_base", "doc_count")
        joined = tomb.join(
            F.broadcast(bounds),
            (F.col("doc_id") >= F.col("doc_base"))
            & (F.col("doc_id") < F.col("doc_base") + F.col("doc_count")),
        ).select("seg_id", "doc_id")

        def pack(key, pdf):
            ids = np.sort(pdf["doc_id"].to_numpy(np.int64))
            return pd.DataFrame(
                {"seg_id": [int(key[0])],
                 "deleted_enc": [ids.astype("<i8").tobytes()]}
            )

        per_seg = joined.groupBy("seg_id").applyInPandas(
            pack, schema="seg_id long, deleted_enc binary"
        )
        return segments.join(per_seg, "seg_id", "left")

    # -- stage A: plan -----------------------------------------------------
    def plan(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
        min_should_match: int = 0,
        exclude: str = "",
        similarity: str = "bm25",
        tie: float = 0.0,
    ) -> QueryPlan:
        raw = self.analyzer.analyze(query_text)
        seen: set = set()
        qterms = [t for t in raw if not (t in seen or seen.add(t))]
        ex_raw = self.analyzer.analyze(exclude) if exclude else []
        seen_e: set = set()
        exterms = [t for t in ex_raw if not (t in seen_e or seen_e.add(t))]
        all_terms = list(dict.fromkeys(qterms + exterms))
        dfs = self._lookup_dfs(all_terms)
        empty = not qterms or all(t not in dfs for t in qterms)
        if mode == "and" and any(t not in dfs for t in qterms):
            empty = True  # null scorer on a MUST clause (BooleanQuery.java:301-366)
        scoring = [t for t in qterms if t in dfs]
        weights = {
            t: float(idf(dfs[t], self.max_doc)) for t in scoring
        }
        sim = None
        if scoring:
            # (df, cf) of every scoring term is cached by _lookup_dfs
            sim = S.spec(similarity, scoring, dfs,
                         self._lookup_cfs(scoring), self.max_doc,
                         self.sum_ttf)
        return QueryPlan(
            terms=scoring,
            dfs={t: dfs[t] for t in scoring},
            weights=weights,
            mode=mode,
            mm=int(min_should_match),
            exclude_terms=[t for t in exterms if t in dfs],
            k=int(k),
            cache=self.cache,
            empty=empty,
            sim=sim,
            tie=float(tie),
        )

    def enable_bloom(self, path: Optional[str] = None,
                     rebuild: bool = False):
        """Attach the Bloom term-existence sidecar
        (BloomFilteringPostingsFormat.java:334-345 seekExact fail-fast;
        indexing/bloom.py). Built once per snapshot with a single Arrow
        scan over term_stats and persisted next to the snapshots;
        afterwards ``_lookup_dfs`` answers definite-NO terms driver-side
        — an absent-only term batch (the common fuzzy/spell shape)
        skips the term_stats read entirely. Returns the FuzzySet, or
        None when the filter was retired as saturated
        (DefaultBloomFilterFactory.isSaturated > 0.9)."""
        from lucene_solr_spark.indexing.bloom import FuzzySet, build_bloom

        if path is None:
            path = os.path.join(self.catalog.index_dir, "bloom",
                                f"snap{self.snap.snapshot_id}.fuzzy")
        if not rebuild and os.path.exists(path):
            self._bloom = FuzzySet.load(path)
            return self._bloom
        n_terms = self._term_stats.count()
        fs = build_bloom(self._term_stats, n_terms)
        if fs is not None:
            fs.save(path)
        self._bloom = fs
        return fs

    def _lookup_dfs(self, terms) -> Dict[str, int]:
        """df per term with a driver-side cache; misses become ONE
        filtered pyarrow read of the term-sorted term_stats parquet on
        the driver (row groups whose term min/max excludes every miss
        are skipped) — no Spark job, whose scheduling and planning
        would cost more than the read. With a bloom sidecar attached
        (enable_bloom), definite-NO terms are resolved in-memory first
        — the seekExact fail-fast of
        BloomFilteringPostingsFormat.java:334-345."""
        missing = [t for t in terms if t not in self._df_cache]
        bloom = getattr(self, "_bloom", None)
        if missing and bloom is not None:
            maybe = []
            for t in missing:
                if bloom.may_contain(t):
                    maybe.append(t)
                else:
                    self._df_cache[t] = None  # guaranteed absent
            missing = maybe
        if missing:
            tb = self._term_stats_files.to_table(
                columns=["term", "df", "cf"],
                filter=pc.field("term").isin(missing),
            ).to_pydict()
            found = dict(zip(tb["term"], zip(tb["df"], tb["cf"])))
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: self._df_cache[t][0] for t in terms
                if self._df_cache.get(t) is not None}

    def _lookup_cfs(self, terms) -> Dict[str, int]:
        """totalTermFreq per term (TermStatistics.totalTermFreq) — same
        cache as _lookup_dfs."""
        self._lookup_dfs(terms)
        return {t: self._df_cache[t][1] for t in terms
                if self._df_cache.get(t) is not None}


    def _run_kernel(self, posts: DataFrame, kernel, schema: str) -> DataFrame:
        """Execute a per-group scoring kernel on Spark, over each
        group's _Group.of: broadcast-segments fast path (one shuffle
        leg) when the norms fit in a broadcast, cogroup (each task
        receives exactly its groups' norms) at scale."""
        if self._segs_bc is not None:
            bc = self._segs_bc

            def with_bcast(key, pdf):
                return kernel(_Group.of(pdf, bc.value.get(int(key[0]))))

            return posts.groupBy("gid").applyInPandas(
                with_bcast, schema=schema
            )

        def with_segs(pdf, segs):
            return kernel(_Group.of(pdf, segs))

        return (
            posts.groupBy("gid")
            .cogroup(self._segments.groupBy("gid"))
            .applyInPandas(with_segs, schema=schema)
        )

    def _local_groups(self, terms, gid: Optional[int] = None):
        """The driver path's groups (see __init__): a _Group per scoring
        group holding driver-held postings rows of ``terms`` (only group
        ``gid`` when given), each term's rows in seg_id order (the
        table is sorted). Each group's context is built once per
        searcher; a search_with_time_limit deadline is checked before
        each group (TimeLimitingCollector's clock)."""
        tbl = self._local_postings
        keep = pc.is_in(tbl["term"],
                        value_set=pa.array(list(terms), pa.string()))
        if gid is not None:
            keep = pc.and_(pc.equal(tbl["gid"], gid), keep)
        cols = tbl.filter(keep).to_pydict()
        by_gid: Dict[int, Dict[str, list]] = {}
        for r in map(self._local_row, zip(*cols.values())):
            by_gid.setdefault(r.gid, {}).setdefault(r.term, []).append(r)
        segs = self._segs_bc.value
        deadline = getattr(self._timed, "deadline", None)
        for key, rows in by_gid.items():
            if deadline is not None and time.monotonic() >= deadline:
                raise TimeExceededError("time limit reached")
            if key not in segs:
                continue  # no meta: nothing of the group can match
            ctx = self._local_ctx.get(key)
            if ctx is None:
                ctx = self._local_ctx[key] = _group_ctx(segs[key])
            yield _Group(ctx, rows)

    def _top_hits(self, terms, kernel, k: Optional[int]) -> DataFrame:
        """The single-query execution seam: the postings rows of
        ``terms`` through the per-group ``kernel``, then the global
        merge — score desc, doc_id asc, the first k (k=None: every
        hit). On the driver path (see __init__) the kernel runs
        in-process per group and the merged hits come back as a local
        relation, so neither building nor collecting them runs a Spark
        job; otherwise it is one kernel job over the cached postings."""
        if self._local_postings is None or self._segs_bc is None:
            posts = self._postings.filter(terms_in(terms))
            out = self._run_kernel(posts, kernel, HITS_SCHEMA).orderBy(
                F.desc("score"), F.asc("doc_id"))
            return out if k is None else out.limit(k)
        parts = [kernel(g) for g in self._local_groups(terms)]
        hits = pd.concat(parts, ignore_index=True) if parts else _empty_hits()
        docs = hits["doc_id"].to_numpy()
        scores = hits["score"].to_numpy()
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return self._hits_frame(docs[order], scores[order])

    def _hits_frame(self, docs=(), scores=()) -> DataFrame:
        """(doc_id, score) rows as a local relation: collecting it runs
        no Spark job, an empty one included."""
        return self.spark.createDataFrame(pa.table({
            "doc_id": pa.array(docs, pa.int64()),
            "score": pa.array(scores, pa.float32())}), HITS_SCHEMA)

    # -- stage B + C: execute ----------------------------------------------
    def search(
        self,
        query_text: str,
        k: Optional[int] = 10,
        mode: str = "or",
        min_should_match: int = 0,
        exclude: str = "",
        wand: bool = True,
        after: Optional[Tuple[float, int]] = None,
        similarity: str = "bm25",
        tie: float = 0.0,
    ) -> DataFrame:
        """Top-k BM25 search. ``k=None`` returns ALL matching docs with
        scores (the TotalHitCount / facet / grouping feeding path — no
        per-group truncation, no global limit).

        ``after=(score, doc_id)`` is the deep-paging cursor
        (IndexSearcher.searchAfter, IndexSearcher.java:234-250): only
        hits strictly after the cursor in (score desc, doc asc) order
        are returned. Applied INSIDE the kernel before the per-group
        cut, so page k+1 is exact; WAND is disabled for cursored pages
        (the pruning bound assumes an empty floor)."""
        plan = self.plan(query_text, k if k is not None else 0, mode,
                         min_should_match, exclude, similarity, tie)
        if plan.sim is not None:
            wand = False  # block-max bound is BM25-specific
        if k is None:
            plan.k = None  # type: ignore[assignment]
        if after is not None:
            plan.after = (float(np.float32(after[0])), int(after[1]))
            wand = False
        if plan.empty:
            return self._hits_frame()
        return self._top_hits(plan.terms + plan.exclude_terms,
                              make_group_scorer(plan, wand), plan.k)

    def search_phrase(
        self, phrase_text: str, k: Optional[int] = 10, slop: int = 0
    ) -> DataFrame:
        """Phrase BM25 top-k (PhraseQuery, search/PhraseQuery.java).
        slop=0 runs ExactPhraseScorer (ExactPhraseScorer.java:26-91);
        slop>0 runs SloppyPhraseScorer (SloppyPhraseScorer.java via
        search/sloppy.py) with freq = the float sloppy frequency. The
        phrase is analyzed with the SAME chain; StopFilter holes become
        position offsets (QueryParserBase.java:570-616 with
        enablePositionIncrements), so 'big the table' requires 'table'
        two positions after 'big'. freq = phraseFreq; weight = sum of
        clause idfs (BM25Similarity.java:185-198)."""
        from lucene_solr_spark.functions.bm25 import idf

        tp = self.analyzer.analyze_with_positions(phrase_text)
        if not tp:
            return self._hits_frame()
        p0 = tp[0][1]
        offsets = [(t, p - p0) for t, p in tp]
        return self._phrase_from_offsets(offsets, k, slop)

    def _phrase_from_offsets(self, offsets, k, slop: int = 0
                             ) -> DataFrame:
        """Shared phrase execution over explicit (term, offset) pairs —
        the PhraseQuery weight/scorer half, reused by search_phrase and
        the NGramPhraseQuery rewrite path."""
        from lucene_solr_spark.functions.bm25 import idf

        uniq = list(dict.fromkeys(t for t, _ in offsets))
        dfs = self._lookup_dfs(uniq)
        if any(t not in dfs for t in uniq):
            return self._hits_frame()
        w = np.float32(0.0)
        for t, _ in offsets:  # f32 accumulation in clause order
            w = np.float32(w + idf(dfs[t], self.max_doc))
        wv = np.float32(w * K1_PLUS_1)
        if slop > 0:
            kernel = make_sloppy_phrase_scorer(
                offsets, wv, self.cache, k, int(slop)
            )
        else:
            kernel = make_phrase_scorer(offsets, wv, self.cache, k)
        return self._top_hits(uniq, kernel, k)

    def search_phrase_windows(self, windows, boost: float = 1.0
                              ) -> Optional[DataFrame]:
        """pf2/pf3 shingled-window batch (ExtendedDismaxQParser
        .addShingledPhraseQueries :495-560): the sliding-window
        phrases of ONE FieldParams sub-query execute as a SINGLE
        kernel pass over ONE postings scan, instead of one scan +
        driver plan per window. ``windows``: list of analyzed token
        lists (each a window's surviving tokens, offsets 0..n-1 —
        the same collapsed-hole shape the per-leg path produces by
        re-parsing the joined tokens). Per window the exact-phrase
        chain runs with weight = f32(f32(f32-idf-sum * boost) *
        (k1+1)) (BM25Stats.normalize :289-293); window scores
        double-accumulate per doc (DisjunctionSumScorer) and cross
        ONE f32 boundary — plan-for-plan what the union + sum of the
        individual legs computes. Returns (doc_id, score float) of
        all matching docs, or None when no window survives."""
        from lucene_solr_spark.functions.bm25 import idf

        all_terms = sorted({t for toks in windows for t in toks})
        if not all_terms:
            return None
        dfs = self._lookup_dfs(all_terms)
        planned = []
        for toks in windows:
            if not toks or any(t not in dfs for t in toks):
                continue    # a SHOULD window with an absent term
            w = np.float32(0.0)
            for t in toks:  # f32 idf accumulation in clause order
                w = np.float32(w + idf(dfs[t], self.max_doc))
            wv = float(np.float32(
                np.float32(w * np.float32(boost)) * K1_PLUS_1))
            planned.append(([(t, i) for i, t in enumerate(toks)], wv))
        if not planned:
            return None
        fetch = sorted({t for offs, _ in planned for t, _ in offs})
        posts = self._postings.filter(terms_in(fetch))
        kernel = make_phrase_windows_scorer(planned, self.cache)
        return self._run_kernel(posts, kernel,
                                "doc_id long, score float")

    def search_ngram_phrase(self, gram_terms, n: int,
                            k: Optional[int] = 10) -> DataFrame:
        """NGramPhraseQuery (search/NGramPhraseQuery.java:46-77): a
        phrase over consecutive n-gram terms keeps only every n-th
        term plus the last one — on a true n-gram field the dropped
        grams are implied by their neighbors, so the match set is
        unchanged while the kernel ships len/n of the posting lists.
        Pruning applies only under the reference's guards (n >= 2,
        >= 3 terms, strictly consecutive positions); the rewritten
        query IS a fresh PhraseQuery, so its weight sums idf over the
        KEPT terms only (rewrite replaces the query, :66-76)."""
        offsets = [(t, i) for i, t in enumerate(gram_terms)]
        if n >= 2 and len(gram_terms) >= 3:
            last = len(gram_terms) - 1
            offsets = [(t, i) for t, i in offsets
                       if i % n == 0 or i >= last]
        return self._phrase_from_offsets(offsets, k)

    def search_spans(self, span, k: Optional[int] = 10) -> DataFrame:
        """Span query top-k (lucene/core/.../search/spans/): pass a
        span AST built from search/spans.py node types (SpanTerm,
        SpanNear ordered/unordered, SpanOr, SpanNot, SpanFirst). Terms
        are NOT re-analyzed (SpanTermQuery takes index terms verbatim,
        SpanTermQuery.java). Scoring per SpanScorer: freq = f32 sum of
        1/(matchLength+1) over the reference match enumeration; weight
        = f32 idf sum over the query's distinct terms in SORTED order
        (SpanWeight.java:33-50 TreeSet) * (k1+1)."""
        from lucene_solr_spark.functions.bm25 import idf
        from lucene_solr_spark.search import spans as SP

        w_terms = sorted(set(SP.span_terms(span)))
        p_terms = list(dict.fromkeys(SP.positions_terms(span)))
        dfs = self._lookup_dfs(p_terms)
        w = np.float32(0.0)
        for t in w_terms:  # f32 accumulation in sorted term order;
            # absent terms still contribute idf with df=0 (SpanWeight
            # builds TermStatistics for every extracted term)
            w = np.float32(w + idf(dfs.get(t, 0), self.max_doc))
        wv = np.float32(w * K1_PLUS_1)
        present = [t for t in p_terms if t in dfs]
        if not present:
            return self._hits_frame()
        return self._top_hits(present,
                              make_span_scorer(span, wv, self.cache, k), k)

    def search_complex_phrase(self, phrase_text: str, slop: int = 0,
                              k: Optional[int] = 10) -> DataFrame:
        """ComplexPhraseQueryParser (lucene/queryparser/.../
        complexPhrase/ComplexPhraseQueryParser.java): a phrase whose
        positions may hold wildcards / prefixes / fuzzy terms, e.g.
        ``"(mer*) data"``. Each multi-term position expands against the
        term dictionary (ComplexPhraseQuery.rewrite :226-283 forces the
        SCORING_BOOLEAN rewrite, then folds the visible terms into a
        SpanOrQuery :346-348); the sequence runs as an in-order
        SpanNearQuery(slop) (:283), scored by the span kernel.

        TooManyClauses propagates from oversize expansions, matching
        the embedded parser. An expansion with NO matching index terms
        makes the whole SpanNear unsatisfiable -> empty result.
        """
        from lucene_solr_spark.search import spans as SP
        from lucene_solr_spark.search.queryparser import (
            TooManyClauses, parse_complex_phrase)

        clauses = parse_complex_phrase(phrase_text, analyzer=self.analyzer)
        span_clauses = []
        for c in clauses:
            if c.kind == "term":
                span_clauses.append(SP.SpanTerm(c.text))
                continue
            rows = self._expand_rows(c, None)
            if isinstance(rows, tuple):
                # constant-score kinds hand back a doc-set past the cap
                # — inside a phrase that is a TooManyClauses condition
                # (the reference's embedded parser rewrite would throw)
                raise TooManyClauses(
                    f"phrase expansion of {c.text!r} exceeds "
                    f"maxClauseCount={self.MAX_CLAUSE_COUNT}")
            if not rows:
                return self._hits_frame()
            if len(rows) == 1:
                span_clauses.append(SP.SpanTerm(rows[0][0]))
            else:
                span_clauses.append(SP.SpanOr(
                    tuple(SP.SpanTerm(t) for t, _df, _b in rows)))
        if not span_clauses:
            return self._hits_frame()
        if len(span_clauses) == 1:
            return self.search_spans(span_clauses[0], k=k)
        return self.search_spans(
            SP.SpanNear(tuple(span_clauses), slop=slop, in_order=True), k=k)

    def search_multi_phrase(self, slots, k: Optional[int] = 10,
                            slop: int = 0) -> DataFrame:
        """MultiPhraseQuery (lucene/core/src/java/org/apache/lucene/
        search/MultiPhraseQuery.java): a phrase where each position
        holds an ARRAY of alternative index terms (the "Microsoft
        app*" shape — prefix/synonym expansion inside a phrase, scored
        as a phrase, not as spans).

        ``slots``: sequence of ``(alternatives, position)`` pairs, or
        bare term lists (positions then run 0..n-1). Terms are index
        terms VERBATIM (MultiPhraseQuery.add takes Terms; no
        re-analysis), matching search_spans.

        Reference semantics kept exactly:
        - weight = f32 idf accumulation over ALL terms in add order
          (slot order, then within-slot order), absent terms
          contributing idf with df=0 — MultiPhraseWeight builds a
          TermStatistics for every term (:146-156), and
          BM25Similarity.idfExplain sums f32 in array order.
        - one-slot query rewrites to BooleanQuery of SHOULD TermQueries
          with PER-TERM weights (rewrite() :287-295) — delegated to the
          standard OR kernel.
        - per segment (our gid group), each slot's postings are the
          UNION of its members' docs-and-positions
          (UnionDocsAndPositionsEnum :408-520, positions merge-sorted
          with duplicates KEPT); a slot with no member present in the
          group yields no matches from that group (scorer() returns
          null when the union docFreq is 0, :204-221).
        - slop=0 counts phraseFreq with the ExactPhraseScorer gen/count
          walk (ExactPhraseScorer.java:244-303) over slots sorted by
          ascending per-segment coarse docFreq (= sum of member dfs,
          :203-214; ties by position — PhraseQuery.PostingsAndFreq
          compareTo). The walk dedups duplicate positions in every slot
          EXCEPT the last (max-df) one, where each duplicate occurrence
          re-satisfies ``counts[pos] == endMinus1`` and increments freq
          again (:302-303) — the kernel reproduces that multiplicity
          rule. (Duplicates only arise when the index holds posInc-0
          synonym tokens.)
        - slop>0 runs SloppyPhraseScorer over the union position lists.
          Slot term sets must be pairwise disjoint: the reference's
          hasMultiTermRpts repeat handling
          (SloppyPhraseScorer.java:150-213) is a documented scope cut
          (ValueError), like the module docstring in search/sloppy.py.
        """
        norm_slots: List[Tuple[Tuple[str, ...], int]] = []
        for i, s in enumerate(slots):
            if (isinstance(s, (tuple, list)) and len(s) == 2
                    and isinstance(s[1], int)
                    and not isinstance(s[0], str)):
                alts, pos = s
            else:
                alts, pos = s, (norm_slots[-1][1] + 1 if norm_slots else 0)
            if isinstance(alts, str):
                alts = (alts,)
            norm_slots.append((tuple(alts), int(pos)))
        if not norm_slots:
            return self._hits_frame()

        all_terms_ordered = [t for alts, _ in norm_slots for t in alts]
        uniq = list(dict.fromkeys(all_terms_ordered))
        dfs = self._lookup_dfs(uniq)
        # f32 idf accumulation in add order; absent terms df=0
        w = np.float32(0.0)
        for t in all_terms_ordered:
            w = np.float32(w + idf(dfs.get(t, 0), self.max_doc))
        present = [t for t in uniq if t in dfs]

        if len(norm_slots) == 1:
            # rewrite(): BooleanQuery of SHOULD TermQueries (per-term
            # idf weights, DisjunctionSumScorer double accumulation)
            if not present:
                return self._hits_frame()
            plan = QueryPlan(
                terms=present,
                dfs={t: dfs[t] for t in present},
                weights={t: float(np.float32(idf(dfs[t], self.max_doc)))
                         for t in present},
                mode="or", mm=1, exclude_terms=[],
                k=k if k is not None else 0, cache=self.cache,
            )
            if k is None:
                plan.k = None  # type: ignore[assignment]
            return self._top_hits(present,
                                  make_group_scorer(plan, wand=False), k)

        if not present:
            return self._hits_frame()
        if slop > 0:
            seen: set = set()
            for alts, _ in norm_slots:
                aset = set(alts)
                if seen & aset:
                    raise ValueError(
                        "multi-phrase slop>0 with repeating terms "
                        "across slots (hasMultiTermRpts, "
                        "SloppyPhraseScorer.java:150-213) is a "
                        "documented scope cut")
                seen |= aset
        wv = np.float32(w * K1_PLUS_1)
        kernel = make_multi_phrase_scorer(
            norm_slots, wv, self.cache, k, int(slop))
        return self._top_hits(present, kernel, k)

    def search_boosting(self, match_query: str, context_query: str,
                        demote: float, k: Optional[int] = 10) -> DataFrame:
        """BoostingQuery (lucene/queries/.../BoostingQuery.java): the
        match query selects and scores; documents ALSO matching the
        context query have their score multiplied by ``demote``
        (context-only matches are ignored — the context clause carries
        boost 0, and the overridden coord returns 1 for one clause /
        ``demote`` for both, :54-75). All float32: score' =
        f32(score * demote) when the doc is in the context doc set."""
        hits = self.search_boolean(match_query, k=None)
        ctx = (self.search_boolean(context_query, k=None)
               .select("doc_id", F.lit(True).alias("_ctx")))
        out = (
            hits.join(ctx, "doc_id", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("_ctx").isNotNull(),
                    (F.col("score").cast("float")
                     * F.lit(float(np.float32(demote))).cast("float"))
                    .cast("float"),
                ).otherwise(F.col("score").cast("float")).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
        return out if k is None else out.limit(k)

    def terms_filter_docs(self, terms) -> DataFrame:
        """TermsFilter (lucene/queries/.../TermsFilter.java): the
        non-scoring doc set holding ANY of an explicit term list —
        the filter-cache analogue of an OR over TermQueries. Runs as
        a pushed-down isin over the sorted postings scan + distributed
        decode (same plan as the CONSTANT_SCORE multi-term path)."""
        return self.match_docs(terms_in(terms))

    def fuzzy_like_this(self, query_text: str, min_sim: float = 0.5,
                        prefix_len: int = 0, max_num_terms: int = 50,
                        max_variants: int = 50,
                        k: Optional[int] = 10) -> DataFrame:
        """FuzzyLikeThisQuery in its ignoreTF mode (lucene/sandbox/.../
        queries/FuzzyLikeThisQuery.java): fuzzy-MLT term selection.

        Per analyzed source term (:207-257): enumerate index terms with
        SlowFuzzy similarity = 1 - d/(prefixLen + min(textLen,
        targetLen)) > min_sim (SlowFuzzyTermsEnum.java:115), boost =
        (sim - min_sim) * 1/(1 - min_sim); keep the top
        MAX_VARIANTS_PER_TERM=50 variants by (boost desc, term asc —
        the ScoreTermQueue tie rule :352-357). Variant score =
        f32(boost^2) * f32 idf, idf = log(numDocs/(df+1)) + 1
        (DefaultSimilarity), df = source term's df or the int-division
        average of variant dfs when the source is absent (:238-241).
        The global queue keeps the top ``max_num_terms`` variants
        (:261+ rewrite); with ignoreTF each selected variant
        contributes its score as a constant to every matching doc
        (ConstantScoreQuery clause, :303), doc score = double-acc sum
        cast f32 once. Documented divergences: queryNorm omitted (a
        per-query constant — ranking unchanged); numDocs = maxDoc
        (equal in the absence of deletes).
        """
        from lucene_solr_spark.oracle import _levenshtein

        sources = list(dict.fromkeys(self.analyzer.analyze(query_text)))
        nd = int(self.max_doc)
        ms = np.float32(min_sim)
        scale = np.float32(np.float32(1.0) / (np.float32(1.0) - ms))
        selected: List[Tuple[str, np.float32]] = []
        for src in sources:
            pl = int(prefix_len)
            tl = len(src) - pl
            # pushdown-able necessary bound: d < (1-ms)*(pl+min) and
            # min(tl, cl) <= tl, so d <= floor((1-ms)*len(src))
            cond = F.levenshtein(F.col("term"), F.lit(src)) <= int(
                math.floor((1.0 - float(min_sim)) * len(src)))
            if pl:
                cond = F.col("term").startswith(src[:pl]) & cond
            cand = self._term_stats.filter(cond).select("term", "df") \
                .collect()
            variants = []
            total_df = 0
            src_df = 0
            for r in cand:
                t, df = r["term"], int(r["df"])
                if pl and not t.startswith(src[:pl]):
                    continue
                cl = len(t) - pl
                d = _levenshtein(t[pl:], src[pl:])
                sim = np.float32(
                    np.float32(1.0)
                    - np.float32(np.float32(d)
                                 / np.float32(pl + min(tl, cl))))
                if not (sim > ms):
                    continue
                if t == src:
                    src_df = df
                total_df += df
                boost = np.float32((sim - ms) * scale)
                variants.append((t, df, boost))
            if not variants:
                continue
            avg_df = total_df // len(variants)
            use_df = src_df if src_df > 0 else avg_df
            idf = np.float32(math.log(nd / float(use_df + 1)) + 1.0)
            variants.sort(key=lambda v: (-float(v[2]), v[0]))
            for t, _df, boost in variants[:max_variants]:
                selected.append(
                    (t, np.float32(np.float32(boost * boost) * idf)))
        if not selected:
            return self._hits_frame()
        selected.sort(key=lambda v: (-float(v[1]), v[0]))
        selected = selected[:max_num_terms]
        vdf = self.spark.createDataFrame(
            [(t, float(s)) for t, s in selected],
            "term string, vscore double")
        posts = self._postings.filter(
            terms_in(sorted({t for t, _s in selected}))
        ).select("term", "df", "doc_ids_enc", "tfs_enc", "skips_enc",
                 "sdoc", "stf")

        pairs = posts.mapInPandas(_decode_rows, _TERM_DOC_TF)
        out = (
            self._live(pairs)
            .join(F.broadcast(vdf), "term")
            .groupBy("doc_id")
            .agg(F.sum("vscore").cast("float").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
        return out if k is None else out.limit(k)

    def _srnd_to_span(self, node):
        """Surround AST -> span AST (query/SpanNearClauseFactory.java:
        terms and prefix/trunc expansions become SpanTerm/SpanOr
        clauses; DistanceQuery.java:100 slop = opDistance - 1). Raises
        _SrndUnsat when an expansion matches nothing (the factory
        yields an empty SpanOr -> unsatisfiable near)."""
        from lucene_solr_spark.search import spans as SP
        from lucene_solr_spark.search import surround as SR
        from lucene_solr_spark.search.queryparser import (
            Clause, QueryParseError, TooManyClauses)

        if isinstance(node, SR.SrndTerm):
            return SP.SpanTerm(node.text)
        if isinstance(node, (SR.SrndPrefix, SR.SrndTrunc)):
            if isinstance(node, SR.SrndPrefix):
                c = Clause(occur="must", kind="prefix",
                           text=node.stem + "*", pattern=node.stem)
            else:
                c = Clause(occur="must", kind="wildcard",
                           text=node.pattern, pattern=node.pattern)
            rows = self._expand_rows(c, None)
            if isinstance(rows, tuple):
                raise TooManyClauses(
                    f"surround expansion of {c.text!r} exceeds "
                    f"maxClauseCount={self.MAX_CLAUSE_COUNT}")
            if not rows:
                raise _SrndUnsat(c.text)
            if len(rows) == 1:
                return SP.SpanTerm(rows[0][0])
            return SP.SpanOr(tuple(SP.SpanTerm(t) for t, _df, _b in rows))
        if isinstance(node, SR.SrndDistance):
            return SP.SpanNear(
                tuple(self._srnd_to_span(s) for s in node.subs),
                slop=node.distance - 1, in_order=node.ordered)
        if isinstance(node, SR.SrndBool) and node.op == "or":
            subs = []
            for s in node.subs:
                try:
                    subs.append(self._srnd_to_span(s))
                except _SrndUnsat:
                    pass  # OR drops empty alternatives
            if not subs:
                raise _SrndUnsat(repr(node))
            return subs[0] if len(subs) == 1 else SP.SpanOr(tuple(subs))
        raise QueryParseError(
            f"{getattr(node, 'op', type(node).__name__)} is not a "
            "distance subquery (DistanceSubQuery.java)")

    def search_surround(self, query: str,
                        k: Optional[int] = 10) -> DataFrame:
        """Surround query language (queryparser/surround/): W/N
        proximity operators over spans, e.g. ``2W(pre*, value)`` or
        ``merge N data``. Top-level AND/OR/NOT compose sub-results as
        the rewritten BooleanQuery would: disjunction double-acc score
        sum cast f32 once, conjunction keeps docs present in every sub,
        NOT(a, b) anti-joins. Everything else runs through the span
        kernel (see search_spans)."""
        from lucene_solr_spark.search import surround as SR
        from lucene_solr_spark.search.queryparser import QueryParseError

        def run(node) -> DataFrame:
            if isinstance(node, SR.SrndBool) and node.op == "not":
                inc = run(node.subs[0])  # unsat include -> empty (raise)
                try:
                    exc = run(node.subs[1])
                except _SrndUnsat:
                    return inc  # nothing to exclude
                return inc.join(exc.select("doc_id"), "doc_id",
                                "left_anti")
            if isinstance(node, SR.SrndBool) and node.op == "and":
                subs = [run(s) for s in node.subs]
                acc = None
                for s in subs:
                    s = s.select("doc_id",
                                 F.col("score").cast("double").alias("sc"))
                    acc = s if acc is None else (
                        acc.join(s.withColumnRenamed("sc", "sc2"), "doc_id")
                        .select("doc_id",
                                (F.col("sc") + F.col("sc2")).alias("sc")))
                return acc.select("doc_id",
                                  F.col("sc").cast("float").alias("score"))
            if isinstance(node, SR.SrndBool) and node.op == "or":
                # top-level OR: try the pure-span form first (all subs
                # span-able -> single kernel pass); fall back to the
                # boolean sum when a sub is itself AND/NOT
                try:
                    span = self._srnd_to_span(node)
                except QueryParseError:
                    subs = []
                    for s in node.subs:
                        try:
                            subs.append(run(s).select(
                                "doc_id",
                                F.col("score").cast("double").alias("sc")))
                        except _SrndUnsat:
                            pass  # OR drops empty alternatives
                    if not subs:
                        raise _SrndUnsat(repr(node))
                    u = subs[0]
                    for s in subs[1:]:
                        u = u.unionByName(s)
                    return (u.groupBy("doc_id")
                            .agg(F.sum("sc").cast("float").alias("score")))
                return self.search_spans(span, k=None)
            return self.search_spans(self._srnd_to_span(node), k=None)

        node = SR.parse_surround(query)
        try:
            out = run(node)
        except _SrndUnsat:
            return self._hits_frame()
        return self._filter_top(out, (), k)

    MAX_CLAUSE_COUNT = 1024  # BooleanQuery.maxClauseCount default
    # search_many merges per-group top-k on the driver below this many
    # estimated rows; above it the merge is a per-query executor window
    SEARCH_MANY_DRIVER_MERGE_MAX = 200_000

    def _expand_rows(self, c, rewrite: Optional[str]):
        """Expand a multi-term clause against the term dictionary.
        Returns [(term, df, boost)] — the relational analogue of the
        automaton/terms-enum walk feeding a MultiTermQuery rewrite
        (MultiTermQuery.java:66+).

        rewrite=None: CONSTANT_SCORE / SCORING_BOOLEAN; raises
        TooManyClauses past MAX_CLAUSE_COUNT (BooleanQuery.java:50-66 —
        the reference throws rather than silently truncating).
        rewrite='top_terms_<n>': TopTermsRewrite.java:39-140 — keep the
        n best terms by (boost desc, term asc); boost is the fuzzy
        similarity (FuzzyTermsEnum.java:366-377, minSim=0 scale) and
        1.0 for the constant-boost kinds (prefix/wildcard/regexp/range,
        where top-n therefore = first n in term order)."""
        from lucene_solr_spark.search.queryparser import TooManyClauses

        if c.kind == "prefix":
            cond = F.col("term").startswith(c.pattern)
        elif c.kind == "wildcard":
            cond = F.col("term").rlike(_wildcard_regex(c.pattern))
            pre = _wildcard_prefix(c.pattern)
            if pre:
                # necessary condition, pushdown-able (rlike is not)
                cond = F.col("term").startswith(pre) & cond
        elif c.kind == "regexp":
            # RegexpQuery: pattern must match the WHOLE term
            # (AutomatonQuery semantics)
            cond = F.col("term").rlike(f"^(?:{c.pattern})$")
            pre = _regex_literal_prefix(c.pattern)
            if pre:
                cond = F.col("term").startswith(pre) & cond
        elif c.kind == "range":
            cond = F.lit(True)
            if c.lo is not None:
                cond = cond & (F.col("term") >= c.lo if c.include_lo
                               else F.col("term") > c.lo)
            if c.hi is not None:
                cond = cond & (F.col("term") <= c.hi if c.include_hi
                               else F.col("term") < c.hi)
        elif c.kind == "multi":
            # fuzzy, transpositions=true default (FuzzyQuery.java:52).
            # Pushdown-able NECESSARY pre-filters stand in for the
            # Levenshtein-automaton walk (FuzzyTermsEnum.java):
            # |len diff| <= 2, and JVM levenshtein <= 4 (a transposition
            # costs <= 2 plain edits, so damerau<=2 => lev<=4 (each primitive transposition inflates to at most 2 plain edits)). Only the
            # tiny surviving slice crosses into the Arrow Damerau check.
            n = len(c.pattern)
            cond = F.length("term").between(n - 2, n + 2)
            if getattr(c, "transpositions", True):
                from lucene_solr_spark.oracle import _damerau_distance

                pat = c.pattern

                @pandas_udf("boolean")
                def _osa_ok(terms: pd.Series) -> pd.Series:
                    return terms.map(lambda t: _damerau_distance(t, pat) <= 2)

                cond = (
                    cond
                    & (F.levenshtein(F.col("term"), F.lit(c.pattern)) <= 4)
                    & _osa_ok(F.col("term"))
                )
            else:
                cond = cond & (
                    F.levenshtein(F.col("term"), F.lit(c.pattern)) <= 2
                )
        else:
            raise ValueError(c.kind)

        top_n = None
        if rewrite is not None:
            m = re.match(r"^top_terms_(\d+)$", rewrite)
            if not m:
                raise ValueError(f"unknown rewrite {rewrite!r}")
            top_n = int(m.group(1))
        limit = self.MAX_CLAUSE_COUNT
        q = self._term_stats.filter(cond).select("term", "df").orderBy("term")
        if top_n is None:
            if c.kind != "multi":
                # constant-score kinds above the enumeration threshold
                # become an executor-side doc-set clause (the
                # CONSTANT_SCORE_FILTER leg of CONSTANT_SCORE_AUTO,
                # MultiTermQuery.java:107-116 + cutoff logic :150-170:
                # big expansions build a filter, never boolean clauses
                # — and the driver never holds the term list)
                rows = q.limit(limit + 1).collect()
                if len(rows) > limit:
                    return ("docset", cond)
                return [(r["term"], int(r["df"]), 1.0) for r in rows]
            rows = q.limit(limit + 1).collect()
            if len(rows) > limit:
                raise TooManyClauses(
                    f"{c.kind} expansion of {c.text!r} exceeds "
                    f"maxClauseCount={limit}"
                )
            return [(r["term"], int(r["df"]), 1.0) for r in rows]
        rows = q.collect()
        if c.kind == "multi":
            from lucene_solr_spark.oracle import _levenshtein, _damerau_distance

            dist = (_damerau_distance if getattr(c, "transpositions", True)
                    else _levenshtein)
            scored = []
            for r in rows:
                t = r["term"]
                d = dist(t, c.pattern)
                b = 1.0 if d == 0 else float(
                    F32(1.0) - F32(d) / F32(min(len(t), len(c.pattern)))
                )
                scored.append((t, int(r["df"]), b))
            scored.sort(key=lambda x: (-x[2], x[0]))
            return scored[:top_n]
        return [(r["term"], int(r["df"]), 1.0) for r in rows[:top_n]]

    def search_boolean(
        self,
        query_string: str,
        k: Optional[int] = 10,
        min_should_match: int = 0,
        rewrite: Optional[str] = None,
        analyzing: bool = False,
        precedence: bool = False,
    ) -> DataFrame:
        """Parse a classic query string (queryparser.parse_query subset)
        and execute the mixed boolean (make_boolean_scorer). Multi-term
        clauses are rewritten driver-side against the term dictionary:
        prefix/wildcard/regexp/range -> CONSTANT_SCORE doc-set,
        fuzzy(~) -> SCORING_BOOLEAN; ``rewrite='top_terms_<n>'`` uses
        the TopTermsRewrite selection instead (TopTermsRewrite.java).
        Oversize expansions raise TooManyClauses
        (BooleanQuery.maxClauseCount,
        search/BooleanQuery.java:50-66). ``analyzing=True`` parses in
        AnalyzingQueryParser mode (wildcard chunks go through the
        index's analysis chain — queryparser/analyzing/).
        ``precedence=True`` parses with PrecedenceQueryParser grammar
        (queryparser/flexible/precedence/): AND binds tighter than OR
        — explicit-AND runs become nested MUST groups."""
        from lucene_solr_spark.search.queryparser import (
            insert_precedence_groups,
            parse_query,
        )

        if precedence:
            query_string = insert_precedence_groups(query_string)
        ast = parse_query(query_string, analyzer=self.analyzer,
                          analyzing=analyzing)
        return self.search_clauses(ast, k=k,
                                   min_should_match=min_should_match,
                                   rewrite=rewrite)

    def search_clauses(
        self,
        ast,
        k: Optional[int] = 10,
        min_should_match: int = 0,
        rewrite: Optional[str] = None,
    ) -> DataFrame:
        """Execute an already-built Clause list (the post-parse half of
        search_boolean) — the shared back-end for the classic string
        parser and alternative front-ends (XML query parser,
        programmatic BooleanQuery construction)."""
        if not ast:
            return self._hits_frame()
        # field ranges (doc_len:[50 TO 150]) are NON-SCORING filters —
        # FilteredQuery / Solr fq semantics (search/FilteredQuery.java;
        # CachingWrapperFilter): the doc-set predicate intersects (or,
        # with '-', subtracts from) the scored result without touching
        # scores. Applied as semi/anti joins BEFORE the top-k cut.
        field_filters = [c for c in ast
                         if c.kind == "range" and c.field is not None]
        ast = [c for c in ast
               if not (c.kind == "range" and c.field is not None)]
        if not ast:
            return self._hits_frame()
        if any(c.kind == "bool" for c in ast):
            # grouping parens -> nested BooleanQuery tree
            return self._search_boolean_tree(
                ast, k, min_should_match, rewrite, field_filters)
        return self._execute_flat(ast, k, min_should_match, rewrite,
                                  field_filters)

    def _execute_flat(self, ast, k, min_should_match, rewrite,
                      field_filters=()):
        """One-level BooleanQuery execution (the cogrouped kernel path);
        ``ast`` is a flat occur-tagged clause list."""
        exact = set()
        for c in ast:
            exact.update(c.terms)
        dfs = self._lookup_dfs(sorted(exact))

        def term_wv(df_t: int, boost: float = 1.0) -> float:
            # weight = f32(idf * queryBoost) (BM25Stats.normalize,
            # BM25Similarity.java:289-293), weightValue = f32(w*(k1+1))
            w = F32(F32(idf(df_t, self.max_doc)) * F32(boost))
            return float(F32(w * K1_PLUS_1))

        planned: List[dict] = []
        fetch: set = set()
        docset_conds: List = []
        for c in ast:
            if c.kind == "term":
                t = c.terms[0]
                if t not in dfs:
                    if c.occur == "must":
                        return self._hits_frame()
                    continue
                planned.append(
                    {"occur": c.occur, "kind": "term", "terms": [t],
                     "wv": term_wv(dfs[t], c.boost), "cost": dfs[t]}
                )
                fetch.add(t)
            elif c.kind == "phrase":
                if any(t not in dfs for t in c.terms):
                    if c.occur == "must":
                        return self._hits_frame()
                    continue
                w = F32(0.0)
                for t, _ in c.offsets:  # f32 idf sum in clause order
                    w = F32(w + idf(dfs[t], self.max_doc))
                planned.append(
                    {"occur": c.occur, "kind": "phrase", "terms": c.terms,
                     "offsets": c.offsets, "slop": int(c.slop),
                     "wv": float(F32(F32(w * F32(c.boost)) * K1_PLUS_1)),
                     "cost": min(dfs[t] for t in c.terms)}
                )
                fetch.update(c.terms)
            else:  # multi-term kinds — expand against the term dictionary
                rows = self._expand_rows(c, rewrite)
                if isinstance(rows, tuple) and rows[0] == "docset":
                    # oversize constant-score expansion: ship the term
                    # PREDICATE, not the term list — matching postings
                    # rows are tagged with this clause id and unioned
                    # into the kernel input (stats via one tiny agg)
                    cond = rows[1]
                    agg = (
                        self._term_stats.filter(cond)
                        .agg(F.count("*").alias("n"),
                             F.sum("df").alias("sumdf"))
                        .collect()[0]
                    )
                    if not agg["n"]:
                        if c.occur == "must":
                            return self._hits_frame()
                        continue
                    cl = len(docset_conds)
                    docset_conds.append(cond)
                    planned.append(
                        {"occur": c.occur, "kind": "docset", "cl": cl,
                         "cost": int(agg["sumdf"] or 0)}
                    )
                    continue
                if not rows:
                    if c.occur == "must":
                        return self._hits_frame()
                    continue
                entry = {
                    "occur": c.occur,
                    # constant-score kinds share the 'prefix' doc-set
                    # evaluator; fuzzy stays an inner scoring disjunction
                    "kind": "multi" if c.kind == "multi" else "prefix",
                    "terms": [t for t, _, _ in rows],
                    "cost": int(sum(df for _, df, _ in rows)),
                }
                if c.kind == "multi":
                    # TOP_TERMS folds the FuzzyTermsEnum boost into the
                    # term weight (TopTermsRewrite keeps BoostAttribute;
                    # wv_t = f32(boost * wv)); the default
                    # SCORING_BOOLEAN path keeps boost == 1
                    entry["wvs"] = [
                        float(F32(F32(b) * F32(term_wv(df))))
                        for _, df, b in rows
                    ]
                planned.append(entry)
                fetch.update(entry["terms"])
        if not planned or not any(
            p["occur"] in ("must", "should") for p in planned
        ):
            return self._hits_frame()
        planned[0]["mm"] = int(min_should_match)
        posts = self._postings.filter(terms_in(sorted(fetch)))
        if docset_conds:
            # tag each oversize-expansion clause's postings with its
            # clause id; term-addressed clauses read the _cl = -1 rows.
            # Union discards the cached gid partitioning, so these rare
            # filter-rewrite queries pay one re-shuffle of the matched
            # postings — the price of never materializing the term list
            # on the driver.
            posts = posts.withColumn("_cl", F.lit(-1))
            for cl, cond in enumerate(docset_conds):
                posts = posts.unionByName(
                    self._postings.filter(cond).withColumn("_cl", F.lit(cl))
                )
        # with filters present the per-group cut cannot run before the
        # filter joins — run the kernel uncut, filter, then cut
        kern_k = None if field_filters else k
        kernel = make_boolean_scorer(planned, self.cache, kern_k)
        out = self._run_kernel(posts, kernel, "doc_id long, score float")
        return self._filter_top(out, field_filters, k)

    def _filter_top(self, out, field_filters, k):
        """Apply the top-level field-range filters to the all-match
        (doc_id, score) set, then order (score desc, doc_id asc) and
        keep the first ``k`` (all when ``k`` is None)."""
        def _coerce(v):
            if v is None:
                return None
            try:
                return int(v)
            except ValueError:
                try:
                    return float(v)
                except ValueError:
                    return v

        for c in field_filters:
            rng = self.numeric_range_docs(
                c.field, _coerce(c.lo), _coerce(c.hi),
                include_lo=c.include_lo, include_hi=c.include_hi,
            )
            how = "left_anti" if c.occur == "not" else "leftsemi"
            out = out.join(rng, "doc_id", how)
        out = out.orderBy(F.desc("score"), F.asc("doc_id"))
        return out if k is None else out.limit(k)

    def _tree_clause_cost(self, c, rewrite) -> int:
        """Scorer cost ESTIMATE for conjunction ordering inside the
        nested-boolean path — same df-based estimates the flat planner
        uses (term: df; phrase: min clause df; multi-term: sum of
        expanded dfs; bool: sum of non-NOT child costs), mirroring
        Lucene's Scorer.cost() ordering in ConjunctionScorer."""
        if c.kind == "bool":
            return sum(self._tree_clause_cost(s, rewrite)
                       for s in c.sub or [] if s.occur != "not")
        if c.kind == "term":
            return self._lookup_dfs(c.terms).get(c.terms[0], 0)
        if c.kind == "phrase":
            dfs = self._lookup_dfs(sorted(set(c.terms)))
            if any(t not in dfs for t in c.terms):
                return 0
            return min(dfs[t] for t in c.terms)
        rows = self._expand_rows(c, rewrite)
        if isinstance(rows, tuple) and rows[0] == "docset":
            agg = (self._term_stats.filter(rows[1])
                   .agg(F.sum("df").alias("sumdf")).collect()[0])
            return int(agg["sumdf"] or 0)
        return int(sum(df for _, df, _ in rows or []))

    def _eval_bool(self, clauses, mm, rewrite):
        """Evaluate one BooleanQuery level of the nested tree to an
        all-match (doc_id, score f32) DataFrame. Float semantics mirror
        the flat kernel / BooleanScorer2 exactly: conjunction = f32
        stepwise sum in ascending-cost order (ConjunctionScorer.java:
        104-111), optionals = double accumulation cast f32
        (DisjunctionSumScorer), ReqOpt = f32(req + opt) float add
        (ReqOptSumScorer.java:55-62), MUST_NOT = anti-join
        (ReqExclScorer); minShouldMatch applies to pure disjunctions
        (MinShouldMatchSumScorer), as in the flat path."""
        from dataclasses import replace as _replace

        evaled = []  # (occur, DF, cost, idx)
        for i, c in enumerate(clauses):
            if c.kind == "range" and c.field is not None:
                raise ValueError(
                    "field-range filters are top-level only (Solr fq); "
                    "not supported inside grouping parens")
            if c.kind == "bool":
                sub = c.sub or []
                if sub and all(s.kind != "bool" for s in sub):
                    # leaf GROUP: the flat mixed-boolean kernel computes
                    # the identical float chain (ConjunctionScorer f32
                    # sum / DisjunctionSum double-acc / ReqOpt) in ONE
                    # cogroup pass — no per-leaf kernel + relational
                    # re-combine (same results, dual-exec gated)
                    d = self._execute_flat(sub, None, 0, rewrite)
                else:
                    d = self._eval_bool(sub, 0, rewrite)
            else:
                d = self._execute_flat(
                    [_replace(c, occur="should")], None, 0, rewrite)
            cost = self._tree_clause_cost(c, rewrite)
            evaled.append((c.occur, d, cost, i))
        musts = sorted([e for e in evaled if e[0] == "must"],
                       key=lambda e: (e[2], e[3]))
        shoulds = [e for e in evaled if e[0] == "should"]
        nots = [e for e in evaled if e[0] == "not"]
        if not musts and not shoulds:
            return self._hits_frame()
        req = None
        for _, d, _, i in musts:
            d = d.select("doc_id", F.col("score").alias(f"_s{i}"))
            if req is None:
                req = d.select("doc_id", F.col(f"_s{i}").alias("req"))
            else:
                req = req.join(d, "doc_id").select(
                    "doc_id",
                    (F.col("req") + F.col(f"_s{i}")).cast("float")
                    .alias("req"))
        opt = None
        if shoulds:
            u = shoulds[0][1].select("doc_id", "score")
            for _, d, _, _ in shoulds[1:]:
                u = u.unionByName(d.select("doc_id", "score"))
            opt = u.groupBy("doc_id").agg(
                F.sum(F.col("score").cast("double")).cast("float")
                .alias("opt"),
                F.count(F.lit(1)).alias("optcnt"))
        if req is not None:
            out = req
            if opt is not None:
                out = out.join(opt, "doc_id", "left").select(
                    "doc_id",
                    (F.col("req")
                     + F.coalesce(F.col("opt"),
                                  F.lit(0.0).cast("float")))
                    .cast("float").alias("score"))
            else:
                out = out.select("doc_id", F.col("req").alias("score"))
        else:
            o = opt.filter(F.col("optcnt") >= max(int(mm), 1))
            out = o.select("doc_id", F.col("opt").alias("score"))
        for _, d, _, _ in nots:
            out = out.join(d.select("doc_id"), "doc_id", "left_anti")
        return out

    def _search_boolean_tree(self, ast, k, min_should_match, rewrite,
                             field_filters=()):
        """Nested BooleanQuery (grouping parens): every clause —
        including parenthesized sub-booleans — is evaluated to its
        all-match score set via the gated kernels, then combined
        relationally level by level (doc_id equi-joins / unions, no
        driver-side iteration)."""
        # pre-warm the df cache with EVERY plain term in the tree in
        # ONE term_stats read — without this each leaf's _execute_flat
        # would issue its own (N sequential reads for an N-leaf tree)
        def _tree_terms(cs):
            for c in cs:
                if c.kind == "bool":
                    yield from _tree_terms(c.sub or [])
                else:
                    yield from c.terms
        self._lookup_dfs(sorted(set(_tree_terms(ast))))
        return self._filter_top(
            self._eval_bool(ast, min_should_match, rewrite), field_filters, k)

    def search_many(
        self,
        queries: List,
        k: Optional[int] = 10,
        wand: bool = True,
    ) -> DataFrame:
        """Batched query execution: the whole query set in ONE Spark job.

        Each element is either a dict {query_text, mode, mm, exclude}
        (term/boolean query, same surface as ``search``) or a plain
        string (exact phrase, same surface as ``search_phrase``).
        Returns (query_id, doc_id, score), top-k per query, ordered
        (query_id, score desc, doc_id asc). ``k=None`` returns ALL
        matches per query with no merge or ordering (the distributed
        MLT / grouping feeding shape — callers window or aggregate the
        batch themselves).

        This is the high-QPS shape at cluster scale: per-query results
        are identical to ``search``/``search_phrase`` (the same kernels
        run, one per query, inside a single cogroup pass), but N queries
        cost one scheduling round + one shuffle instead of N — the
        multi-client QPS analogue of Lucene's shared IndexSearcher
        (search/IndexSearcher.java:428-462 slice executor, amortized
        across a whole query batch)."""
        from lucene_solr_spark.functions.bm25 import idf as _idf

        analyze = self.analyzer.analyze
        analyze_with_positions = self.analyzer.analyze_with_positions
        out_schema = "query_id int, doc_id long, score float"
        # warm the df cache with every term in the batch in ONE scan
        probe: set = set()
        for q in queries:
            if isinstance(q, str):
                probe.update(t for t, _ in analyze_with_positions(q))
            else:
                probe.update(analyze(q.get("query_text", "")))
                probe.update(analyze(q.get("exclude", "")))
        self._lookup_dfs(sorted(probe))

        # each query ships as (module-level factory, plain args): the
        # kernels are built inside the task, so the batch pickles one
        # closure, not one closure tree per query
        specs: List[Tuple[int, List[str], object, tuple]] = []
        fetch: set = set()
        for qid, q in enumerate(queries):
            if isinstance(q, str):
                tp = analyze_with_positions(q)
                if not tp:
                    continue
                p0 = tp[0][1]
                offsets = [(t, p - p0) for t, p in tp]
                uniq = list(dict.fromkeys(t for t, _ in offsets))
                dfs = self._lookup_dfs(uniq)
                if any(t not in dfs for t in uniq):
                    continue
                w = F32(0.0)
                for t, _ in offsets:  # f32 accumulation in clause order
                    w = F32(w + _idf(dfs[t], self.max_doc))
                spec = (make_phrase_scorer,
                        (offsets, F32(w * K1_PLUS_1), self.cache, k))
                terms = uniq
            else:
                plan = self.plan(
                    q.get("query_text", ""),
                    k if k is not None else 0, q.get("mode", "or"),
                    q.get("mm", 0), q.get("exclude", ""),
                )
                if k is None:
                    plan.k = None  # type: ignore[assignment]
                if plan.empty:
                    continue
                spec = (make_group_scorer, (plan, wand))
                terms = plan.terms + plan.exclude_terms
            specs.append((qid, sorted(set(terms)), *spec))
            fetch.update(terms)
        if not specs:
            return self.spark.createDataFrame([], out_schema)

        posts = self._postings.filter(terms_in(sorted(fetch)))

        def multi(g: Optional[_Group]) -> pd.DataFrame:
            # each query scores its own view of the group: the row lists
            # and decoded term indexes are built once for the batch
            outs = []
            if g is not None:
                for qid, terms, make, args in specs:
                    r = make(*args)(g.view(terms))
                    if len(r):
                        r.insert(0, "query_id", np.int32(qid))
                        outs.append(r)
            if not outs:
                return pd.DataFrame()
            return pd.concat(outs, ignore_index=True)

        per_group = self._run_kernel(posts, multi, out_schema)
        if k is None:
            return per_group  # ALL matches; callers window/aggregate
        # final top-k merge: <= n_groups*k rows per query survive the
        # per-group cut (Solr mergeIds, QueryComponent.java:772-870).
        # Small batches merge on the driver (saves a shuffle stage);
        # when n_groups*n_queries*k outgrows the cap (n_groups scales
        # with corpus size at 100x), the merge runs executor-side as a
        # per-query window top-k — identical results, bounded driver.
        est_rows = self.n_groups * len(specs) * k
        if est_rows > self.SEARCH_MANY_DRIVER_MERGE_MAX:
            from pyspark.sql import Window

            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                per_group.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
            )
        rows = per_group.collect()
        by_q: Dict[int, List] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        o_q: List[int] = []
        o_d: List[int] = []
        o_s: List[float] = []
        for qid in sorted(by_q):
            for d, sc in sorted(by_q[qid], key=lambda ds: (-ds[1], ds[0]))[:k]:
                o_q.append(qid)
                o_d.append(d)
                o_s.append(sc)
        pdf = pd.DataFrame(
            {"query_id": pd.Series(o_q, dtype="int32"),
             "doc_id": pd.Series(o_d, dtype="int64"),
             "score": pd.Series(o_s, dtype="float32")}
        )
        return self.spark.createDataFrame(pdf, out_schema)

    def explain(
        self,
        query_text: str,
        doc_id: int,
        mode: str = "or",
        min_should_match: int = 0,
        exclude: str = "",
        similarity: str = "bm25",
    ) -> dict:
        """Score explanation for one document (IndexSearcher.explain,
        lucene/core/.../search/IndexSearcher.java; the CheckHits
        checkExplanations contract: the explanation's value re-derives
        the exact float32 score the collector saw,
        test-framework/.../search/CheckHits.java:288+).

        Returns a nested Explanation-like dict:
          {match, value, description, details: [{term, value, tf,
           norm_byte, ...}]}
        """
        plan = self.plan(query_text, 10, mode, min_should_match,
                         exclude, similarity)
        if plan.empty:
            return {"match": False, "value": 0.0,
                    "description": "no scoring clauses"}
        gid = int(doc_id) // self.group_factor
        fetch = plan.terms + plan.exclude_terms
        if self._local_postings is not None:
            g = next(self._local_groups(fetch, gid), None)
        else:
            rows = self._postings.filter(
                (F.col("gid") == gid) & terms_in(fetch)
            ).toPandas()
            if self._segs_bc is not None:
                segs = self._segs_bc.value.get(gid)
            else:
                segs = self._segments.filter(F.col("gid") == gid).toPandas()
            g = _Group.of(rows, segs)
        if g is None:
            return {"match": False, "value": 0.0,
                    "description": "document matches no query term"}
        off = int(doc_id) - g.gbase
        if off < 0 or off >= g.span or (
            g.deleted is not None and g.deleted[off]
        ):
            return {"match": False, "value": 0.0,
                    "description": "document deleted or out of range"}
        nbs = g.norms[off:off + 1]

        def tf_of(term: str) -> int:
            ti = g.tindex(term)
            if ti is None:
                return 0
            bi = int(np.searchsorted(ti.his, doc_id, side="left"))
            if bi >= ti.n_blocks:
                return 0
            docs, tfs = ti.decode_block(bi)
            j = int(np.searchsorted(docs, doc_id))
            if j < len(docs) and docs[j] == doc_id:
                return int(tfs[j])
            return 0

        for t in plan.exclude_terms:
            if tf_of(t) > 0:
                return {"match": False, "value": 0.0,
                        "description": f"excluded by MUST_NOT '{t}'"}

        bm25 = _bm25_clause(plan.weights, plan.cache)

        def clause_value(t: str, tf: int) -> np.float32:
            return S.score_clause(plan.sim, t, np.array([tf], np.int32),
                                  nbs, bm25)[0]

        tfs_by_term = {t: tf_of(t) for t in plan.terms}
        details = []
        if mode == "and":
            if any(tfs_by_term[t] == 0 for t in plan.terms):
                missing = [t for t in plan.terms if tfs_by_term[t] == 0]
                return {"match": False, "value": 0.0,
                        "description": f"MUST clause(s) absent: {missing}"}
            order = sorted(plan.terms, key=lambda t: plan.dfs[t])
            acc = F32(0.0)
            for t in order:  # f32 sum in cost order (ConjunctionScorer)
                v = clause_value(t, tfs_by_term[t])
                acc = F32(acc + v)
                details.append({"term": t, "value": float(v),
                                "tf": tfs_by_term[t],
                                "norm_byte": int(nbs[0]),
                                "df": plan.dfs[t]})
            value = acc
            desc = "sum of (float32, cost order):"
        else:
            matched = [t for t in plan.terms if tfs_by_term[t] > 0]
            if len(matched) < max(plan.mm, 1):
                return {"match": False, "value": 0.0,
                        "description": (
                            f"{len(matched)} matching clauses < "
                            f"minShouldMatch {max(plan.mm, 1)}")}
            acc = 0.0  # double (DisjunctionSumScorer)
            for t in plan.terms:
                if tfs_by_term[t] == 0:
                    continue
                v = clause_value(t, tfs_by_term[t])
                acc += float(v)
                details.append({"term": t, "value": float(v),
                                "tf": tfs_by_term[t],
                                "norm_byte": int(nbs[0]),
                                "df": plan.dfs[t]})
            value = F32(acc)
            desc = "sum of (double accumulate, float32 cast):"
            coords = S.coord_factors(plan.sim)
            if coords is not None:
                value = F32(value * coords[len(matched)])
                desc = (f"{desc} coord({len(matched)}/"
                        f"{len(coords) - 1}) applied")
        return {"match": True, "value": float(value),
                "description": desc, "similarity": similarity,
                "details": details}

    # -- auxiliary read surfaces ------------------------------------------
    def doc_stats(self) -> DataFrame:
        """Per-doc (doc_id, doc_len, norm_byte): the NormsReader analogue
        (lucene/core/.../codecs/lucene42/Lucene42NormsFormat.java) —
        decodes the per-segment norms/doc-length blobs written at build
        time into a relational view. Distributed: one Arrow batch per
        segment meta row, no collect.

        The decoded view is persisted once per searcher (size-gated
        like the postings cache): numeric ranges, sort-by-field, range
        facets and the stats component all route through this surface,
        and re-decoding the blobs per query is pure fixed overhead —
        Lucene keeps norms on-heap per reader for the same reason
        (Lucene42NormsFormat loads into memory). Above the gate the
        un-persisted plan re-derives per query from the (columnar,
        pruned) segments scan."""
        if getattr(self, "_doc_stats_df", None) is not None:
            return self._doc_stats_df
        segs = read_segments_any(self.spark, self.snap.tables["segments"])
        meta = segs.select("doc_base", "doc_count", "norms_enc", "doc_lens_enc")

        def decode(batches):
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    n = int(r.doc_count)
                    yield pd.DataFrame(
                        {
                            "doc_id": np.arange(n, dtype=np.int64)
                            + int(r.doc_base),
                            "doc_len": np.frombuffer(
                                r.doc_lens_enc, dtype="<i4"
                            ).astype(np.int64)[:n],
                            "norm_byte": np.frombuffer(
                                r.norms_enc, dtype=np.uint8
                            ).astype(np.int32)[:n],
                        }
                    )

        out = meta.mapInPandas(
            decode, schema="doc_id long, doc_len long, norm_byte int"
        )
        # ~20 bytes/doc: gate matches the postings-cache philosophy —
        # persist when it clearly fits, fall back to re-derivation when
        # a 10^12-doc corpus would thrash executor storage memory
        if self.max_doc <= 64 * 1024 * 1024:
            out = out.persist()
        self._doc_stats_df = out
        return out

    def collection_stats(self) -> DataFrame:
        """One-row (max_doc, sum_ttf, avgdl) — CollectionStatistics
        (lucene/core/.../search/CollectionStatistics.java:31-70)."""
        return self.spark.createDataFrame(
            [(self.max_doc, self.sum_ttf, float(self.avgdl))],
            "max_doc long, sum_ttf long, avgdl double",
        )

    def term_stats(self) -> DataFrame:
        """(term, df, cf) — TermStatistics for every term in the dict."""
        return self._term_stats.select("term", "df", "cf")

    def high_freq_terms(self, n: int = 100,
                        include_tf: bool = False) -> DataFrame:
        """HighFreqTerms tool (lucene/misc/.../misc/HighFreqTerms.java):
        the top-``n`` terms by document frequency (``getHighFreqTerms``,
        :112-150, PQ ordered by docFreq). With ``include_tf`` the same
        ``n`` df-selected terms are re-sorted by totalTermFreq
        descending (``sortByTotalTermFreq``, :162-175 — selection stays
        df-based; only the output order changes, exactly the -t flag).

        Like the reference (TermsEnum.docFreq over the term dict), the
        stats are dictionary-level: deleted docs still count. The
        reference PQ breaks docFreq ties arbitrarily (heap order); we
        pin term-ascending so output is deterministic, and the -t
        re-sort is stable on the df order (Arrays.sort), giving
        (cf desc, df desc, term asc). Both steps are pushdown top-k
        over the sorted term_stats scan — no full-vocabulary collect."""
        by_df = (
            self._term_stats.select("term", "df", "cf")
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(int(n))
        )
        if not include_tf:
            return by_df
        return by_df.orderBy(
            F.col("cf").desc(), F.col("df").desc(), F.col("term").asc()
        )

    def expand_terms(self, condition) -> DataFrame:
        """Term-dictionary expansion for multi-term queries: apply a
        Column predicate over the term dict, return (term, df). The
        relational analogue of the term-dict automaton walk
        (lucene/core/.../search/MultiTermQuery.java:66 rewrite inputs;
        AutomatonQuery.java) — Catalyst pushes the predicate into the
        sorted term_stats parquet scan."""
        return (
            self._term_stats.filter(condition)
            .select("term", "df")
            .orderBy("term")
        )

    def match_docs(self, term_condition) -> DataFrame:
        """Distinct docs containing ANY term matching the predicate —
        the CONSTANT_SCORE rewrite of multi-term queries
        (MultiTermQuery.java:107-116 CONSTANT_SCORE_AUTO_REWRITE:
        matching terms OR-ed into a non-scoring doc-set filter).
        Decode is distributed (mapInPandas over posting rows); dedup is
        a Spark distinct on the narrow doc_id column."""
        posts = self._postings.filter(term_condition).select(
            "df", "doc_ids_enc", "tfs_enc", "skips_enc", "sdoc", "stf"
        )

        return self._live(
            posts.mapInPandas(_decode_rows, _DOC_TF).select("doc_id")
            .distinct()
        )

    def search_with_time_limit(
        self, query_text: str, timeout_ms: int, k: int = 10, **kw
    ):
        """TimeLimitingCollector (search/TimeLimitingCollector.java):
        abort the search when the budget expires, raising
        TimeExceededError (the reference's TimeExceededException
        default; its optional greedy/partial mode has no analogue here
        because a cancelled Spark job yields no partial rows). On the
        distributed path the budget is enforced by cancelling the
        query's job group — the distributed equivalent of the
        collector's per-doc clock check. On the driver path (see
        _top_hits) there is no job to cancel: the clock is checked
        before each scoring group's kernel. Returns collected rows
        (this API is eager by necessity)."""
        import uuid

        sc = self.spark.sparkContext
        group = f"lss-timed-{uuid.uuid4().hex[:8]}"
        done = threading.Event()
        deadline = time.monotonic() + timeout_ms / 1000.0

        def killer():
            # keep cancelling past the deadline until the submitter
            # thread finishes — a single cancel can land BEFORE the job
            # is registered and silently no-op
            while not done.wait(0.05):
                if time.monotonic() >= deadline:
                    sc.cancelJobGroup(group)

        t = threading.Thread(target=killer, daemon=True)
        sc.setJobGroup(group, f"time-limited search: {query_text!r}",
                       interruptOnCancel=True)
        t.start()
        self._timed.deadline = deadline
        try:
            rows = self.search(query_text, k=k, **kw).collect()
        except Exception as e:  # cancelled job surfaces as a Py4J error
            raise TimeExceededError(
                f"search exceeded {timeout_ms} ms: {query_text!r}"
            ) from e
        finally:
            self._timed.deadline = None
            done.set()
            sc.setJobGroup(None, None)
        if time.monotonic() >= deadline:
            # clock ran out while collecting (the reference collector
            # checks the clock per doc and raises even if a segment
            # finished) — partial results are not returned by default
            raise TimeExceededError(
                f"search exceeded {timeout_ms} ms: {query_text!r}"
            )
        return rows

    def suggest(self, term: str, n: int = 5,
                max_edits: int = 2, min_df: int = 1) -> DataFrame:
        """Spell suggestions — DirectSpellChecker semantics
        (lucene/suggest/.../spell/DirectSpellChecker.java:58+,
        SuggestWordQueue: score-then-frequency ordering). Candidates
        come from the term dict via the pushdown length window +
        levenshtein <= max_edits (our relational stand-in for the
        Levenshtein-automaton walk; plain Levenshtein, not Damerau —
        same documented divergence as fuzzy queries). score =
        1 - dist/min(|term|, |candidate|); ordered (score desc, df
        desc, term asc). The exact query term itself is excluded
        (suggestions are alternatives)."""
        ln = len(term)
        cond = (
            F.length("term").between(ln - max_edits, ln + max_edits)
            & (F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
            & (F.col("term") != term)
            & (F.col("df") >= min_df)
        )
        dist = F.levenshtein(F.col("term"), F.lit(term))
        score = (
            F.lit(1.0)
            - dist / F.least(F.length("term"), F.lit(ln)).cast("double")
        )
        return (
            self._term_stats.filter(cond)
            .select("term", "df", score.alias("score"))
            .orderBy(F.desc("score"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    @staticmethod
    def _spell_gram_bounds(length: int):
        """SpellChecker.getMin/getMax (suggest/.../spell/
        SpellChecker.java:555-575): gram sizes by word length."""
        if length > 5:
            return 3, 4
        if length == 5:
            return 2, 3
        return 1, 2

    def spell_ngram(self, word: str, num_sug: int = 5,
                    accuracy: float = 0.5) -> DataFrame:
        """Classic n-gram SpellChecker (suggest/.../spell/
        SpellChecker.java:319-419) — the IndexBasedSpellChecker
        retrieval, distinct from DirectSpellChecker's edit-automaton
        walk: candidates come from shared character grams (gram{n}
        fields; sizes per word length :555-575), with the first gram
        boosted bStart=2.0 (start{n}) and the last bEnd=1.0 (end{n})
        (:355-364); survivors rescore with LevensteinDistance
        similarity (1 - dist/min(len)) under the accuracy floor, and
        order (score desc, df desc, term asc) per SuggestWordQueue.
        SUGGEST_WHEN_NOT_IN_INDEX: a word already in the dictionary
        returns itself (:337-339).

        Relational mapping: a dictionary term matches gram{n}:g iff it
        CONTAINS g (its gram set is its substrings), start/end are
        prefix/suffix tests — one vocabulary scan with a boosted
        hit-count retrieval score. Documented delta: the reference
        cuts candidates at 10*numSug by the spell index's classic
        score BEFORE rescoring; here every gram-sharing candidate is
        rescored (the cutoff population can differ only when
        candidates exceed 10*numSug — the scale-correct choice, no
        lossy heuristic truncation)."""
        ln = len(word)
        in_dict = self._lookup_dfs([word]).get(word)
        if in_dict:
            return self.spark.createDataFrame(
                [(word, int(in_dict), 1.0)],
                "term string, df long, score double")
        lo, hi = self._spell_gram_bounds(ln)
        match = F.lit(False)
        retrieval = F.lit(0.0)
        for ng in range(lo, hi + 1):
            grams = [word[i:i + ng] for i in range(ln - ng + 1)]
            if not grams:
                continue
            for g in set(grams):
                hit = F.col("term").contains(g)
                match = match | hit
                retrieval = retrieval + F.when(hit, 1.0).otherwise(0.0)
            retrieval = (
                retrieval
                + F.when(F.col("term").startswith(grams[0]), 2.0)
                .otherwise(0.0)
                + F.when(F.col("term").endswith(grams[-1]), 1.0)
                .otherwise(0.0)
            )
        dist = F.levenshtein(F.col("term"), F.lit(word))
        score = (
            F.lit(1.0)
            - dist / F.least(F.length("term"), F.lit(ln)).cast("double")
        )
        return (
            self._term_stats.filter(match & (F.col("term") != word))
            .select("term", F.col("df").cast("long").alias("df"),
                    score.alias("score"))
            .filter(F.col("score") >= accuracy)
            .orderBy(F.desc("score"), F.desc("df"), F.asc("term"))
            .limit(num_sug)
        )

    def suggest_distributed(self, term: str, n: int = 5,
                            shards: int = 4,
                            max_edits: int = 2) -> DataFrame:
        """Distributed spellcheck merge — SpellCheckComponent.finishStage
        + SolrSpellChecker.mergeSuggestions (solr/core/.../handler/
        component/SpellCheckComponent.java:295-412, SpellCheckMergeData;
        solr/core/.../spelling/SolrSpellChecker.java:84-140):

        shards = contiguous docID ranges of ceil(maxDoc/shards) docs
        (each segment falls wholly in one range). Per shard, the local
        spellchecker reports the token iff it is locally unknown
        (df_shard == 0) and has >= 1 candidate; its response lists the
        top numSug=max(n,5) alternatives by SuggestWordQueue order
        (score desc, local freq desc, term desc —
        SuggestWordScoreComparator ties). The merge:
          - drops the token unless ALL shards reported it misspelled
            (mergeSuggestions :104-107),
          - unions the listed alternatives, freq = SUM of the listing
            shards' frequencies (collectShardSuggestions :398-410 —
            per-shard truncation therefore affects the sums, exactly
            like the reference),
          - rescores with Levenstein similarity against the original,
            drops < 0.5 accuracy, returns top n by (score desc, freq
            desc, term desc).
        Per-shard stats come from ONE decode pass over just the
        candidate posting rows (term-dict pushdown first), so the cost
        is O(candidates), not O(index)."""
        numsug = max(n, 5)
        span = -(-self.max_doc // shards)
        ln = len(term)
        cond = (
            F.length("term").between(ln - max_edits, ln + max_edits)
            & (F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
        )
        rows = self._postings.filter(
            cond | (F.col("term") == term)
        ).select("term", "df", "doc_ids_enc", "tfs_enc", "skips_enc",
                 "sdoc", "stf")

        def explode_shards(batches):
            for pdf in batches:
                ts, sh, dfc = [], [], []
                for r in pdf.itertuples(index=False):
                    docs, _ = _row_postings(r)
                    s, c = np.unique(docs // span, return_counts=True)
                    ts.extend([r.term] * len(s))
                    sh.extend(s.tolist())
                    dfc.extend(c.tolist())
                yield pd.DataFrame({"term": ts, "shard": sh, "df": dfc})

        sdf = (
            rows.mapInPandas(
                explode_shards, schema="term string, shard long, df long")
            .groupBy("term", "shard").agg(F.sum("df").alias("df"))
        )
        orig_shards = sdf.filter(F.col("term") == term).select("shard")
        cand = sdf.filter(F.col("term") != term)
        # a shard reports iff the token is locally unknown AND it has
        # candidates; every shard of the (dense) docID space must report
        reporting = (
            cand.join(orig_shards, "shard", "left_anti")
            .select("shard").distinct()
        )
        if reporting.count() < shards:
            return self.spark.createDataFrame(
                [], "term string, freq long, score double")
        w = Window.partitionBy("shard").orderBy(
            F.desc("score"), F.desc("df"), F.desc("term"))
        dist = F.levenshtein(F.col("term"), F.lit(term))
        score = (
            F.lit(1.0)
            - dist / F.least(F.length("term"), F.lit(ln)).cast("double")
        )
        listed = (
            cand.join(orig_shards, "shard", "left_anti")
            .withColumn("score", score)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= numsug)
        )
        merged = listed.groupBy("term").agg(F.sum("df").alias("freq"))
        return (
            merged.withColumn("score", score)
            .filter(F.col("score") >= 0.5)
            .orderBy(F.desc("score"), F.desc("freq"), F.desc("term"))
            .limit(n)
            .select("term", F.col("freq").cast("long").alias("freq"),
                    F.col("score").cast("double").alias("score"))
        )

    def spell_collate(self, query_text: str) -> DataFrame:
        """Solr SpellCheckComponent collation
        (solr/core/.../spelling/SpellCheckCollator.java:49-120): every
        query term absent from the index is replaced by its top
        suggestion (suggest() ordering: score desc, df desc, term asc);
        the collation is re-run to verify it yields hits
        (collateExtendedResults hit count; conjunction semantics —
        the collator's purpose is a query that actually matches).
        Returns one row (collation string, hits long).

        Execution shape: ALL out-of-vocabulary tokens resolve in ONE
        term_stats job (the wordbreak.py batched-probe pattern — a
        broadcast of the tiny token list non-equi-joined against the
        term dictionary, top-1 per token by the suggest() ordering)
        instead of one suggest().collect() per token, so collation
        cost is independent of query length."""
        toks = self.analyzer.analyze(query_text)
        dfs = self._lookup_dfs(sorted(set(toks)))
        oov = sorted({t for t in toks if dfs.get(t, 0) <= 0})
        best: dict = {}
        if oov:
            tok_lit = self.spark.createDataFrame(
                [(t,) for t in oov], "token string")
            dist = F.levenshtein(F.col("term"), F.col("token"))
            cond = (
                F.length("term").between(F.length("token") - 2,
                                         F.length("token") + 2)
                & (dist <= 2)
                & (F.col("term") != F.col("token"))
                & (F.col("df") >= 1)
            )
            score = (
                F.lit(1.0)
                - dist / F.least(F.length("term"),
                                 F.length("token")).cast("double")
            )
            w = Window.partitionBy("token").orderBy(
                F.desc("score"), F.desc("df"), F.asc("term"))
            top1 = (
                self._term_stats.join(F.broadcast(tok_lit), cond)
                .select("token", "term", "df", score.alias("score"))
                .withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("token", "term")
                .collect()
            )
            best = {r["token"]: r["term"] for r in top1}
        out = [t if dfs.get(t, 0) > 0 else best.get(t, t) for t in toks]
        collation = " ".join(out)
        # Verification reuses the already-analyzed collation terms as
        # a LEAN conjunction count kernel (r3 advice: the previous
        # full self.search(...).count() re-ran parsing + the BM25
        # scoring kernel + a global sort only to throw everything but
        # the count away). Hit semantics are identical to the AND
        # search: docs containing ALL distinct terms, tombstones
        # masked; any df==0 term (an OOV token that found no
        # suggestion) conjuncts to zero without running a job.
        hits = 0
        if out:
            uniq_out = sorted(set(out))
            sugg = set(best.values())
            if all(dfs.get(t, 0) > 0 or t in sugg for t in uniq_out):
                posts = self._postings.filter(terms_in(uniq_out))
                cnt = self._run_kernel(
                    posts, make_conjunction_counter(uniq_out),
                    "cnt long")
                row = cnt.agg(F.sum("cnt")).collect()[0][0]
                hits = int(row or 0)
        return self.spark.createDataFrame(
            [(collation, int(hits))], "collation string, hits long")

    def complete(self, prefix: str, n: int = 5) -> DataFrame:
        """Analyzed-prefix completion — AnalyzingSuggester semantics
        (lucene/suggest/.../analyzing/AnalyzingSuggester.java: the
        input is analyzed, the FST maps analyzed form -> weighted
        surface forms, lookup returns the top-n by weight). Our term
        dict IS the analyzed surface and cf (total term frequency) is
        the corpus-derived weight (the suggester test harness feeds
        term frequencies as weights the same way). Order: weight desc,
        then term asc (AnalyzingSuggester sorts by cost, then surface
        bytes). The startswith predicate is pushed down to the sorted
        term_stats parquet — a range probe, not a dict scan."""
        toks = self.analyzer.analyze(prefix)
        if not toks:
            return self.spark.createDataFrame(
                [], "term string, weight long")
        pre = toks[-1]
        return (
            self._term_stats.filter(F.col("term").startswith(pre))
            .select("term", F.col("cf").cast("long").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term"))
            .limit(n)
        )

    def complete_bucketed(self, prefix: str, n: int = 5,
                          buckets: int = 10,
                          exact_first: bool = True) -> DataFrame:
        """FSTCompletionLookup semantics (lucene/suggest/.../fst/
        FSTCompletionLookup.java:176-209 + FSTCompletion): weights are
        DISCRETIZED into ``buckets`` equal-COUNT buckets over the
        weight-sorted entry sequence — bucket = floor(line * buckets /
        n_entries) with equal weights sharing the bucket of their first
        line (:195-202) — and lookup orders by bucket desc then term
        asc (class javadoc: "alphabetical within the bucket"), the
        exact match promoted first when ``exact_first``
        (FSTCompletion.checkExistingAndReorder).

        Scale shape: with the dict sorted by (weight, term), a weight
        run's first line = the count of strictly-smaller weights — so
        the bucket needs only a cumulative count over the DISTINCT
        weight values (a tiny window) broadcast-joined back; no global
        row window over the vocabulary."""
        toks = self.analyzer.analyze(prefix)
        if not toks:
            return self.spark.createDataFrame(
                [], "term string, bucket int, weight long")
        pre = toks[-1]
        total = self._term_stats.count()
        counts = self._term_stats.groupBy("cf").count()
        w_cum = Window.orderBy(F.asc("cf")).rowsBetween(
            Window.unboundedPreceding, -1)
        runmap = counts.withColumn(
            "run0",
            F.coalesce(F.sum("count").over(w_cum), F.lit(0)))
        ranked = (
            self._term_stats.select("term", "cf")
            .join(F.broadcast(runmap.select("cf", "run0")), "cf")
            .withColumn(
                "bucket",
                (F.col("run0") * buckets / F.lit(total)).cast("int"))
            .select("term", "bucket",
                    F.col("cf").cast("long").alias("weight"))
        )
        cand = ranked.filter(F.col("term").startswith(pre))
        order = [F.desc("bucket"), F.asc("term")]
        if exact_first:
            cand = cand.withColumn(
                "ex", (F.col("term") == pre).cast("int"))
            order = [F.desc("ex")] + order
            return (cand.orderBy(*order).limit(n)
                    .select("term", "bucket", "weight"))
        return cand.orderBy(*order).limit(n) \
            .select("term", "bucket", "weight")

    def complete_wfst(self, prefix: str, n: int = 5,
                      exact_first: bool = True) -> DataFrame:
        """WFSTCompletionLookup (lucene/suggest/.../fst/
        WFSTCompletionLookup.java): EXACT-weight completion — cost =
        Integer.MAX_VALUE - weight, Util.shortestPaths by cost asc
        (:186) == weight desc with FST arc order (term asc) breaking
        ties; the exact prefix match promoted first when exactFirst
        (:174-184). The un-discretized sibling of complete_bucketed;
        weight here = cf like the bucketed surface.

        Scale shape: one pushdown-able prefix range filter on the
        sorted term dict + a top-n; no window, no join."""
        toks = self.analyzer.analyze(prefix)
        if not toks:
            return self.spark.createDataFrame(
                [], "term string, weight long")
        pre = toks[-1]
        cand = (self._term_stats
                .filter(F.col("term").startswith(pre))
                .select("term", F.col("cf").cast("long")
                        .alias("weight")))
        order = [F.desc("weight"), F.asc("term")]
        if exact_first:
            cand = cand.withColumn(
                "ex", (F.col("term") == pre).cast("int"))
            order = [F.desc("ex")] + order
        return cand.orderBy(*order).limit(n).select("term", "weight")

    def suggest_fuzzy(
        self,
        prefix: str,
        n: int = 5,
        max_edits: int = 1,
        non_fuzzy_prefix: int = 1,
        min_fuzzy_length: int = 3,
    ) -> DataFrame:
        """FuzzySuggester (lucene/suggest/.../analyzing/
        FuzzySuggester.java, defaults :83-96: maxEdits=1,
        nonFuzzyPrefix=1, minFuzzyLength=3): completion where the
        analyzed prefix may contain up to ``max_edits`` errors — the
        reference intersects a Levenshtein automaton of the input with
        the suggest FST; the relational stand-in matches terms whose
        own prefix (length within ±max_edits of the input's) is within
        edit distance, anchored on ``non_fuzzy_prefix`` exact leading
        chars (which is also the pushed-down range probe on the sorted
        term dict). Inputs shorter than ``min_fuzzy_length`` fall back
        to exact completion (:251-255). Documented delta: plain
        Levenshtein (no transposition primitive), same as the
        FuzzyQuery surface (queryparser docstring)."""
        toks = self.analyzer.analyze(prefix)
        if not toks:
            return self.spark.createDataFrame(
                [], "term string, weight long")
        pre = toks[-1]
        if len(pre) < min_fuzzy_length:
            return self.suggest(pre, n)
        L = len(pre)
        t = self._term_stats.filter(
            F.col("term").startswith(pre[:non_fuzzy_prefix])
        )
        cond = None
        for k in range(max(1, L - max_edits), L + max_edits + 1):
            c = (
                F.levenshtein(F.substring("term", 1, k), F.lit(pre))
                <= max_edits
            )
            cond = c if cond is None else (cond | c)
        return (
            t.filter(cond)
            .select("term", F.col("cf").cast("long").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term"))
            .limit(n)
        )

    def term_vectors(self, doc_ids, store: DataFrame,
                     text_col: str = "content") -> DataFrame:
        """Per-document term vectors — TermVectorComponent
        (solr/core/.../component/TermVectorComponent.java: per-doc
        (term, tf, df) response). The vector is re-derived by
        re-analyzing the stored text with the index's pinned analyzer
        (MoreLikeThis's no-stored-term-vectors path does exactly this,
        MoreLikeThis.java:132); df comes from the term dict. A k-doc
        point operation (driver-side analysis like more_like_this),
        not a corpus scan — at 100 TB this stays O(requested docs)."""
        ids = [int(d) for d in doc_ids]
        rows = (
            store.filter(F.col("doc_id").isin(ids))
            .select("doc_id", text_col)
            .collect()
        )
        per_doc = []
        vocab = set()
        for r in rows:
            tf: Dict[str, int] = {}
            for t in self.analyzer.analyze(r[1] or ""):
                tf[t] = tf.get(t, 0) + 1
            vocab.update(tf)
            per_doc.append((int(r[0]), tf))
        dfs = self._lookup_dfs(sorted(vocab))
        out = [
            (d, t, int(c), int(dfs.get(t, 0)))
            for d, tf in per_doc
            for t, c in sorted(tf.items())
        ]
        return self.spark.createDataFrame(
            out, "doc_id long, term string, tf long, df long")

    def term_freqs(self, term: str) -> DataFrame:
        """(doc_id, tf) for one term — the TFValueSource surface
        (lucene/queries/.../valuesource/TermFreqValueSource.java):
        postings of the term decoded distributedly, live-masked."""
        posts = self._postings.filter(F.col("term") == term).select(
            "df", "doc_ids_enc", "tfs_enc", "skips_enc", "sdoc", "stf"
        )

        return self._live(posts.mapInPandas(_decode_rows, _DOC_TF))

    def _live(self, df: DataFrame) -> DataFrame:
        """Apply the live-docs mask to a doc_id DataFrame (LiveDocsFormat
        analogue): broadcast anti-join against the tombstone set. The
        scoring kernels mask via the per-segment deleted bitmap; doc-set
        (constant-score / filter) paths mask here."""
        tomb = self.snap.tables.get("tombstones")
        if not tomb:
            return df
        t = read_table(self.spark, TOMBSTONES_SCHEMA, tomb)
        return df.join(F.broadcast(t), "doc_id", "left_anti")

    def real_time_get(self, keys) -> DataFrame:
        """Solr RealTimeGet (/get handler, solr/core/.../component/
        RealTimeGetComponent.java): fetch the CURRENT version of
        documents by uniqueKey, seeing updates committed AFTER this
        searcher's snapshot was opened — the reference consults the
        update log + the newest realtime searcher instead of the
        client's possibly-stale searcher. Here the uniqueKey is the
        (repo, path, commit) doc key; the lookup re-reads the
        catalog's LATEST snapshot (docs rows + its tombstone set), so
        an append/delete committed by an NRT micro-batch is visible
        immediately without reopening this searcher's postings cache.

        ``keys``: list of (repo, path, commit) tuples. Returns the
        stored key columns + doc_id for every key that currently
        exists — a broadcast-able point lookup, O(requested keys)."""
        snap = self.catalog.latest_at_stage("commit", "merge", "delete")
        if snap is None:
            snap = self.snap
        docs = read_table(self.spark, DOCS_SCHEMA, snap.tables["docs"])
        kdf = self.spark.createDataFrame(
            [(str(r), str(p), str(c)) for r, p, c in keys],
            "repo string, path string, commit string",
        )
        hit = docs.join(
            F.broadcast(kdf), ["repo", "path", "commit"], "inner"
        )
        tomb = snap.tables.get("tombstones")
        if tomb:
            t = read_table(self.spark, TOMBSTONES_SCHEMA, tomb)
            hit = hit.join(F.broadcast(t), "doc_id", "left_anti")
        return hit.select(
            "doc_id", "repo", "path", "commit", "lang"
        ).orderBy("doc_id")

    def search_dismax(self, query_text: str, k: Optional[int] = 10,
                      tie: float = 0.0, exclude: str = "") -> DataFrame:
        """DisjunctionMaxQuery over the analyzed terms of ``query_text``
        (search/DisjunctionMaxQuery.java; Solr defType=dismax maps each
        user term across fields — with one content field the sub-queries
        are the term queries): score = max of sub-scores + tie * rest
        (DisjunctionMaxScorer.java:85-87 float math)."""
        return self.search(query_text, k=k, mode="dismax", tie=tie,
                           exclude=exclude)

    def numeric_range_docs(
        self, field: str, lo=None, hi=None,
        include_lo: bool = True, include_hi: bool = True,
    ) -> DataFrame:
        """NumericRangeQuery analogue (search/NumericRangeQuery.java:
        trie-decomposed [lo..hi] over indexed numeric fields; inclusive
        bounds by default, null bound = open end). Spark-first: the trie
        is unnecessary — a BETWEEN predicate over the per-doc numeric
        surface pushes into the column scan and Catalyst prunes row
        groups by min/max, which IS the trie's job. Constant-score
        (MultiTermQuery CONSTANT_SCORE rewrite), live-docs masked.
        ``field``: 'doc_len' (doc-stats surface) or any numeric column
        of the docs table."""
        if field == "doc_len":
            src = self.doc_stats().select("doc_id", F.col("doc_len").alias("v"))
        else:
            src = self._docs.select("doc_id", F.col(field).alias("v"))
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("v") >= lo if include_lo else F.col("v") > lo)
        if hi is not None:
            cond = cond & (F.col("v") <= hi if include_hi else F.col("v") < hi)
        return self._live(src.filter(cond).select("doc_id"))

    def join_query(
        self,
        from_query: str,
        from_field: str,
        to_field: str,
        mode: str = "or",
    ) -> DataFrame:
        """Query-time doc-to-doc join — JoinUtil.createJoinQuery
        (lucene/join/src/java/org/apache/lucene/search/join/
        JoinUtil.java:46-90; Solr {{!join from=f to=t}}q):
        docs matching ``from_query`` project their ``from_field``
        values; the result is every live doc whose ``to_field`` equals
        one of them (ScoreMode.None = constant score, the Solr join
        default). Spark-first: two narrow joins — hits⋈docs to collect
        values, then a semi-join back onto the docs table; Catalyst
        broadcasts whichever side is small."""
        hits = self.search(from_query, k=None, mode=mode)
        vals = (
            hits.join(self._docs, "doc_id")
            .select(F.col(from_field).alias("_v"))
            .distinct()
        )
        return self._live(
            self._docs.join(
                vals, self._docs[to_field] == vals["_v"], "leftsemi"
            ).select("doc_id")
        )

    def join_query_scored(
        self,
        from_query: str,
        from_field: str,
        to_field: str,
        score_mode: str = "avg",
        mode: str = "or",
        k: Optional[int] = None,
    ) -> DataFrame:
        """JoinUtil.createJoinQuery with a scoring ScoreMode
        (lucene/join/.../JoinUtil.java:70-90 Total/Max/Avg branch):
        from-query hits fold their scores PER from_field VALUE with the
        reference collector's float order
        (TermsWithScoreCollector.java:100-127 — f32 running sum in
        docID order for Total, running max for Max; :160-176 — Avg is
        the Total fold with a final f32 divide by count), then every
        live doc whose ``to_field`` carries a collected value scores
        that value's folded score (TermsIncludingScoreQuery score()).

        Spark-first: the fold is one groupBy(from_value) with an
        array_sort+aggregate lambda (docID-ordered f32 chain, all
        JVM-side); the to-side is an equi-join that Catalyst broadcasts
        when the collected-values table is small."""
        if score_mode not in ("total", "max", "avg"):
            raise ValueError(f"unsupported ScoreMode {score_mode!r} "
                             "(JoinUtil supports total/max/avg/none)")
        hits = self.search(from_query, k=None, mode=mode)
        vals = (
            hits.join(self._docs.select("doc_id", from_field), "doc_id")
            .select(F.col(from_field).alias("_v"), "doc_id", "score")
        )
        pairs = F.array_sort(
            F.collect_list(F.struct(F.col("doc_id"), F.col("score")))
        )
        fold = F.aggregate(
            pairs,
            F.lit(0.0).cast("float"),
            lambda acc, x: (
                acc.cast("double") + x["score"].cast("double")
            ).cast("float"),
        )
        if score_mode == "max":
            agg = F.max("score")
        elif score_mode == "total":
            agg = fold
        else:  # avg: f32 total fold, final f32 divide by hit count
            agg = (fold.cast("double") / F.count("*")).cast("float")
        per = vals.groupBy("_v").agg(agg.cast("float").alias("jscore"))
        out = self._live(
            self._docs.join(per, self._docs[to_field] == per["_v"])
            .select("doc_id", F.col("jscore").alias("score"))
        ).orderBy(F.desc("score"), F.asc("doc_id"))
        return out if k is None else out.limit(k)

    def highlight(
        self,
        query_text: str,
        store: DataFrame,
        text_col: str = "content",
        k: int = 10,
        frag_tokens: int = 7,
        pre: str = "<em>",
        post: str = "</em>",
        **kw,
    ) -> DataFrame:
        """Best-fragment highlighting for the top-k hits (ref
        lucene/highlighter/.../Highlighter.java + SimpleHTMLFormatter +
        SimpleFragmenter; Solr hl component). ``store`` is the stored-
        fields surface (doc_id + text column) — by design the corpus
        table is the row store (SURVEY.md stored-fields row).

        Deterministic simplification of the reference's best-fragment
        scan, documented: the fragment is the ``frag_tokens``-token
        window centred on the FIRST occurrence of the highest-weighted
        query term present in the doc; every query-term token inside
        the window is wrapped pre/post (SimpleHTMLFormatter.java:31-44
        emits exactly this shape). Entirely Catalyst array functions —
        split/array_position/slice/transform — no Python in the row
        path."""
        plan = self.plan(query_text, k, kw.get("mode", "or"),
                         kw.get("min_should_match", 0),
                         kw.get("exclude", ""))
        hits = self.search(query_text, k=k, **kw)
        if plan.empty:
            return hits.withColumn("snippet", F.lit(None).cast("string"))
        # anchor term preference: descending idf weight, then term order
        # (the highest-scoring term's first position anchors the best
        # fragment — Highlighter QueryScorer's max-weight behavior)
        anchor_terms = sorted(
            plan.terms, key=lambda t: (-plan.weights[t], t)
        )
        toks = F.split(F.col(text_col), " ")
        pos = None
        for t in anchor_terms:
            p = F.array_position(toks, t)
            pos = p if pos is None else F.when(pos > 0, pos).otherwise(p)
        half = (frag_tokens - 1) // 2
        start = F.greatest(F.lit(1), pos - half)
        frag = F.slice(toks, start, frag_tokens)
        qset = list(dict.fromkeys(plan.terms))
        marked = F.transform(
            frag,
            lambda tk: F.when(
                tk.isin(qset), F.concat(F.lit(pre), tk, F.lit(post))
            ).otherwise(tk),
        )
        return (
            hits.join(store.select("doc_id", text_col), "doc_id")
            .select(
                "doc_id",
                F.col("score").cast("double").alias("score"),
                F.when(pos > 0, F.concat_ws(" ", marked))
                .otherwise(F.lit(None))
                .alias("snippet"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def more_like_this(
        self,
        doc_id: int,
        store: DataFrame,
        text_col: str = "content",
        min_tf: int = 2,
        min_df: int = 5,
        max_terms: int = 25,
        k: int = 10,
    ) -> DataFrame:
        """MoreLikeThis (lucene/queries/.../mlt/MoreLikeThis.java; Solr
        MLT handler): re-analyze the source doc's stored text (the
        no-term-vectors path, MoreLikeThis.java:132 changelog note),
        rank its terms by tf * idf (DefaultSimilarity idf,
        createQueue), keep the top ``max_terms`` past the min_tf /
        min_df gates, and run the resulting OR query — excluding the
        source doc itself (the Solr handler drops it from results).
        Tie-break on (score desc, term asc) — documented deterministic
        replacement for the reference's insertion-ordered PQ."""
        import math as _math

        row = (
            store.filter(F.col("doc_id") == doc_id)
            .select(text_col)
            .collect()
        )
        if not row:
            return self._hits_frame()
        terms = self._mlt_terms(row[0][0] or "", min_tf, min_df, max_terms)
        if not terms:
            return self._hits_frame()
        hits = self.search(" ".join(terms), k=None, mode="or")
        return (
            hits.filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _mlt_terms_scored(self, text: str, min_tf: int, min_df: int,
                          max_terms: int) -> List[Tuple[float, str]]:
        """MoreLikeThis.retrieveTerms/createQueue term selection over
        one text: tf >= minTermFreq, index df >= minDocFreq, ranked by
        f32(tf * f32(ln(maxDoc/(df+1)) + 1)) (DefaultSimilarity idf)
        desc, top maxQueryTerms; (score desc, term asc) tie-break —
        the documented deterministic pin for the reference's
        insertion-ordered PQ. Returns [(score, term)] best-first (the
        FreqQ pop order createQuery consumes, MoreLikeThis.java:
        595-625)."""
        import math as _math

        toks = self.analyzer.analyze(text or "")
        tf: Dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        cand = [t for t, n in tf.items() if n >= min_tf]
        dfs = self._lookup_dfs(cand)
        scored = []
        for t in cand:
            df_t = dfs.get(t)
            if df_t is None or df_t < min_df:
                continue
            idf_t = F32(_math.log(self.max_doc / (df_t + 1.0)) + 1.0)
            scored.append((float(F32(tf[t] * idf_t)), t))
        scored.sort(key=lambda st: (-st[0], st[1]))
        return scored[:max_terms]

    def _mlt_terms(self, text: str, min_tf: int, min_df: int,
                   max_terms: int) -> List[str]:
        return [t for _, t in self._mlt_terms_scored(
            text, min_tf, min_df, max_terms)]

    def more_like_this_query(
        self,
        like_text: str,
        percent_terms_to_match: float = 0.3,
        min_term_freq: int = 1,
        min_doc_freq: int = 5,
        max_query_terms: int = 5,
        k: int = 10,
        boost: bool = False,
        boost_factor: float = 1.0,
    ) -> DataFrame:
        """MoreLikeThisQuery (lucene/queries/.../mlt/
        MoreLikeThisQuery.java:42-78): the like-TEXT variant usable
        from query parsers — rewrite() runs the MoreLikeThis term
        selection over the given text (reference defaults
        minTermFrequency=1, maxQueryTerms=5, MoreLikeThis's
        minDocFreq=5 when unset) and sets the resulting OR query's
        minimumNumberShouldMatch = int(n_clauses *
        percentTermsToMatch) (:77). No source-doc exclusion — there
        is no source doc.

        ``boost=True`` = MoreLikeThis.setBoost: each term query gets
        boost = f32(f32(boostFactor * myScore) / bestScore) where
        bestScore is the top-ranked term's selection score
        (MoreLikeThis.createQuery :605-612)."""
        scored = self._mlt_terms_scored(
            like_text, min_term_freq, min_doc_freq, max_query_terms)
        if not scored:
            return self._hits_frame()
        mm = int(len(scored) * percent_terms_to_match)
        if not boost:
            return self.search(
                " ".join(t for _, t in scored), k=k, mode="or",
                min_should_match=mm)
        from lucene_solr_spark.search.queryparser import Clause

        best = F32(scored[0][0])
        ast = [
            Clause(occur="should", kind="term", text=t, terms=[t],
                   boost=float(F32(F32(F32(boost_factor) * F32(s))
                                   / best)))
            for s, t in scored
        ]
        return self.search_clauses(ast, k=k, min_should_match=mm)

    def mlt_interesting_terms(
        self,
        like_text: str,
        min_term_freq: int = 1,
        min_doc_freq: int = 5,
        max_query_terms: int = 5,
        boost: bool = False,
        boost_factor: float = 1.0,
    ) -> DataFrame:
        """MoreLikeThisHandler interestingTerms (solr/core/.../handler/
        MoreLikeThisHandler.java:254-269 InterestingTerm,
        fillInterestingTermsFromMLTQuery :431-443): the MLT query's
        term clauses in clause order (= the selection-queue pop order
        createQuery consumes), each with its TermQuery boost — 1.0
        unless setBoost, in which case the per-term
        f32(f32(boostFactor * myScore) / bestScore) chain
        (MoreLikeThis.java:605-612). This is the DETAILS term style;
        LIST is the same rows minus the boost column."""
        scored = self._mlt_terms_scored(
            like_text, min_term_freq, min_doc_freq, max_query_terms)
        rows = []
        if scored:
            best = F32(scored[0][0])
            for i, (s, t) in enumerate(scored, 1):
                b = (
                    float(F32(F32(F32(boost_factor) * F32(s)) / best))
                    if boost else 1.0
                )
                rows.append((i, t, b))
        return self.spark.createDataFrame(
            rows, "rnk int, term string, boost double"
        )

    def match_all_docs(self) -> DataFrame:
        """MatchAllDocsQuery (search/MatchAllDocsQuery.java): every live
        doc, constant score 1.0 — the docs-table scan with the
        tombstone mask, no postings touched."""
        return self._live(self._docs.select("doc_id")).withColumn(
            "score", F.lit(1.0).cast("float")
        )

    def terms(
        self,
        prefix: str = "",
        mincount: int = 1,
        limit: int = 10,
        sort: str = "count",
    ) -> DataFrame:
        """Solr TermsComponent (solr/core/src/java/org/apache/solr/
        handler/component/TermsComponent.java:84-178): enumerate the
        term dictionary with terms.prefix / terms.mincount gates;
        sort=count ranks by docFreq (ties broken term asc — the
        deterministic pin for the reference's insertion-ordered
        BoundedTreeSet), sort=index is plain term order. Like the
        reference's TermsEnum.docFreq, counts include deleted docs
        (the stats table is rebuilt on merge, not per-delete).

        Plan: pushed-down prefix+range filter on the sorted term_stats
        parquet, orderBy+limit — a TopK over one small scan."""
        t = self._term_stats.select("term", "df")
        if prefix:
            t = t.filter(F.col("term").startswith(prefix))
        if mincount > 1:
            t = t.filter(F.col("df") >= mincount)
        if sort == "count":
            t = t.orderBy(F.desc("df"), F.asc("term"))
        else:
            t = t.orderBy(F.asc("term"))
        return t.limit(limit)

    def facet_terms(self, doc_ids: DataFrame, prefix: str = "",
                    mincount: int = 1, limit: int = 10, offset: int = 0,
                    sort: str = "count") -> DataFrame:
        """Field-term faceting over a doc set with the SimpleFacets
        parameter surface (solr/core/.../request/SimpleFacets.java
        getTermCounts: facet.prefix :486-493 seeks the term enum to the
        prefix; facet.mincount, facet.limit + facet.offset, facet.sort
        count|index — count order ties break in index (term) order).

        Plan shape: the prefix prunes the postings scan BEFORE decode
        (pushdown on the sorted term column), the doc-set join bounds
        counting to matching docs, and only the post-mincount counts
        (facet-sized, small) enter the global order/offset window."""
        cond = F.col("term").startswith(prefix) if prefix else F.lit(True)
        posts = self._postings.filter(cond).select(
            "term", "df", "doc_ids_enc", "tfs_enc", "skips_enc", "sdoc",
            "stf")

        pairs = posts.mapInPandas(_decode_rows, _TERM_DOC_TF)
        counts = (
            pairs.join(doc_ids.select("doc_id"), "doc_id")
            .groupBy("term").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= int(mincount))
        )
        order = ([F.desc("n"), F.asc("term")] if sort == "count"
                 else [F.asc("term")])
        from pyspark.sql import Window as W

        w = W.orderBy(*order)
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") > int(offset))
                    & (F.col("_rn") <= int(offset) + int(limit)))
            .select("term", "n")
        )

    def field_value_docs(self, field: str, exists: bool = True) -> DataFrame:
        """FieldValueFilter (search/FieldValueFilter.java:142): docs
        where ``field`` has a value (or is missing, negate=True) —
        an IS [NOT] NULL predicate over the docs table, live-masked."""
        cond = (F.col(field).isNotNull() if exists
                else F.col(field).isNull())
        return self._live(self._docs.filter(cond).select("doc_id"))

    def search_common_terms(
        self,
        query_text: str,
        max_term_frequency: float = 0.1,
        k: Optional[int] = 10,
    ) -> DataFrame:
        """CommonTermsQuery (lucene/queries/src/java/org/apache/lucene/
        queries/CommonTermsQuery.java:170-225): terms whose docFreq
        exceeds ceil(f32(maxTermFrequency) * f32(maxDoc)) (or the
        absolute cutoff when maxTermFrequency >= 1) form a
        high-frequency group; the rest — including absent terms
        (termContext == null, :179-180) — the low-frequency group.
        With the default SHOULD/SHOULD occurs buildQuery rewrites to

            +(low1 low2 ...) (high1 high2 ...)

        i.e. ReqOptSumScorer(required = low-freq disjunction, optional
        = high-freq disjunction): only docs matching >= 1 low-freq term
        match; matching high-freq terms add score. Each group sum is
        double-accumulated and cast f32 (DisjunctionSumScorer), the
        group combination is a single f32 add (ReqOptSumScorer.score).
        Degenerate groups follow buildQuery exactly: no low terms ->
        the high terms run as a conjunction (:198-213, "prevent slow
        queries"); no high terms -> a plain low disjunction (:215-218).

        Scale: the split is a driver-side df lookup against the sorted
        term_stats table (one pushed-down scan shared with every other
        query); both group scans run on the shared postings cache, and
        the left join keys on doc_id within one partition layout.
        """
        raw = self.analyzer.analyze(query_text)
        seen: set = set()
        qterms = [t for t in raw if not (t in seen or seen.add(t))]
        dfs = self._lookup_dfs(qterms)
        mtf = float(max_term_frequency)
        # (int) Math.ceil(maxTermFrequency * (float) maxDoc) — f32
        # product, double ceil (CommonTermsQuery.java:182-184)
        cutoff = math.ceil(float(np.float32(
            np.float32(mtf) * np.float32(self.max_doc)
        )))
        high: List[str] = []
        low: List[str] = []
        for t in qterms:
            df_t = dfs.get(t)
            if df_t is None:
                low.append(t)
            elif (mtf >= 1.0 and df_t > mtf) or df_t > cutoff:
                high.append(t)
            else:
                low.append(t)
        if not low:
            return self.search(" ".join(high), k=k, mode="and")
        if not high:
            return self.search(" ".join(low), k=k, mode="or")
        lowhits = self.search(" ".join(low), k=None, mode="or")
        highhits = (
            self.search(" ".join(high), k=None, mode="or")
            .withColumnRenamed("score", "opt_score")
        )
        out = lowhits.join(highhits, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("opt_score").isNull(), F.col("score"))
            .otherwise(
                (F.col("score") + F.col("opt_score")).cast("float")
            )
            .alias("score"),
        ).orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(int(k)) if k is not None else out

    def search_elevated(
        self,
        query_text: str,
        elevate_ids,
        exclude_ids=(),
        k: Optional[int] = 10,
        **kw,
    ) -> DataFrame:
        """QueryElevationComponent (solr/core/src/java/org/apache/solr/
        handler/component/QueryElevationComponent.java): editorially
        pin documents for a query. Elevated ids come first in the
        configured order regardless of score (ElevationComparatorSource
        sort), are included even when they don't match the query
        (score 0), and excluded ids are removed from the results; the
        remainder keeps the normal score-desc/doc-asc order.

        Returns (doc_id, score double, elevated int). Scale: the
        elevation map is a tiny per-query broadcast join; the base
        search is unchanged.
        """
        elev = list(dict.fromkeys(int(i) for i in elevate_ids))
        excl = {int(i) for i in exclude_ids}
        hits = self.search(query_text, k=None, **kw).select(
            "doc_id", F.col("score").cast("double").alias("score")
        )
        prio = self.spark.createDataFrame(
            [(d, i) for i, d in enumerate(elev)] or [(-1, 0)],
            "doc_id long, elev_rank int",
        )
        if not elev:
            prio = prio.filter(F.col("doc_id") >= 0)
        live = self._live(self._docs.select("doc_id"))
        elevated = (
            prio.join(live, "doc_id", "inner")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
                F.lit(1).alias("elevated"),
                "elev_rank",
            )
        )
        drop = elev + sorted(excl)
        rest = hits.filter(~F.col("doc_id").isin(drop)).select(
            "doc_id", "score", F.lit(0).alias("elevated"),
            F.lit(None).cast("int").alias("elev_rank"),
        )
        out = (
            elevated.unionByName(rest)
            .orderBy(
                F.desc("elevated"),
                F.asc_nulls_last("elev_rank"),
                F.desc("score"),
                F.asc("doc_id"),
            )
            .select("doc_id", "score", "elevated")
        )
        return out.limit(int(k)) if k is not None else out

    def search_display(self, query_text: str, k: int = 10, **kw) -> DataFrame:
        """Two-stage hydration: score on narrow tables, join stored
        fields for the <= k winners only (the GET_TOP_IDS / GET_FIELDS
        split, solr/core/.../component/QueryComponent.java:648-656)."""
        hits = self.search(query_text, k=k, **kw)
        return (
            hits.join(self._docs, "doc_id", "left")
            .select("doc_id", "score", "repo", "path", "commit", "lang")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )


def _group_ctx(segs: pd.DataFrame):
    """Shared per-group context for all scoring kernels: contiguous doc
    span, dense norm-byte array (the in-RAM norms page), and the
    live-docs tombstone mask (LiveDocsFormat analogue — deleted docs are
    excluded at scorer level, TermQuery.java:85 acceptDocs)."""
    segs = segs.sort_values("doc_base")
    gbase = int(segs["doc_base"].iloc[0])
    last = segs.iloc[-1]
    span = int(last["doc_base"]) + int(last["doc_count"]) - gbase
    norms = np.zeros(span, dtype=np.uint8)
    deleted = None
    has_del = "deleted_enc" in segs.columns
    for r in segs.itertuples(index=False):
        off = int(r.doc_base) - gbase
        nb = np.frombuffer(r.norms_enc, dtype=np.uint8)
        norms[off : off + len(nb)] = nb
        if has_del and r.deleted_enc is not None:
            ids = np.frombuffer(r.deleted_enc, dtype="<i8")
            if deleted is None:
                deleted = np.zeros(span, dtype=bool)
            deleted[ids - gbase] = True
    return gbase, span, norms, deleted


def _row_postings(r, block_mask: Optional[np.ndarray] = None
                  ) -> Tuple[np.ndarray, np.ndarray]:
    """(docs int64, tfs int32) of one postings row — the single place a
    row is decoded. A df == 1 row carries its doc inline (sdoc/stf, no
    blobs); ``block_mask`` selects FOR blocks of a blob row (the
    skip/WAND path)."""
    if r.df == 1:
        return np.array([r.sdoc], np.int64), np.array([r.stf], np.int32)
    return decode_postings(r.doc_ids_enc, r.tfs_enc, r.skips_enc,
                           block_mask)


_DOC_TF = "doc_id long, tf long"
_TERM_DOC_TF = "term string, doc_id long, tf long"


def _decode_rows(batches):
    """mapInPandas body of the doc-set decoders: every postings row
    decoded to ``doc_id, tf`` (schema _DOC_TF), led by the row's
    ``term`` when the input has that column (_TERM_DOC_TF)."""
    for pdf in batches:
        with_term = "term" in pdf.columns
        terms, docs, tfs = [], [], []
        for r in pdf.itertuples(index=False):
            d, t = _row_postings(r)
            docs.append(d)
            tfs.append(t.astype(np.int64))
            if with_term:
                terms.append(np.repeat(np.array([r.term], object), len(d)))
        if docs:
            out = {"doc_id": np.concatenate(docs), "tf": np.concatenate(tfs)}
            if with_term:
                out = {"term": np.concatenate(terms), **out}
            yield pd.DataFrame(out)


class _TermIndex:
    """Lazy, block-granular view of one term's postings inside a scoring
    group — the TermScorer + skip-list reader analogue
    (search/TermScorer.java:27-96; Lucene41PostingsReader.java:509-560).

    Blocks are the codec's 128-posting FOR blocks; a df==1 singleton row
    is a 1-doc pseudo-block. `his[g]` = last docID of global block g
    (ascending across the term's rows, whose doc ranges are disjoint).
    `decode_block` is memoized. Instances are READ-ONLY after
    construction (the WAND loop keeps its accumulate-once flags
    locally), so one instance is safely shared by every query of a
    batch — high-DF terms decode once per task, not once per query."""

    __slots__ = (
        "his", "max_tf", "max_nb", "n_blocks",
        "_rows", "_row_of", "_local_bi", "_row_nblocks", "_memo",
    )

    def __init__(self, rows, norms: np.ndarray, gbase: int):
        his, row_of, local_bi = [], [], []
        mtf, mnb, row_nblocks = [], [], []
        for ri, r in enumerate(rows):
            if r.df == 1:
                his.append(np.array([r.sdoc], np.int64))
                row_of.append(np.array([ri], np.int32))
                local_bi.append(np.array([0], np.int32))
                mtf.append(np.array([r.stf], np.int32))
                # exact bound: the singleton's actual norm byte
                mnb.append(
                    np.array([norms[int(r.sdoc) - gbase]], np.uint8)
                )
                row_nblocks.append(1)
            else:
                sk = decode_skips(r.skips_enc)
                n = len(sk)
                his.append(sk["last_doc"].astype(np.int64))
                row_of.append(np.full(n, ri, np.int32))
                local_bi.append(np.arange(n, dtype=np.int32))
                mtf.append(sk["max_tf"].astype(np.int32))
                mnb.append(sk["max_nb"].astype(np.uint8))
                row_nblocks.append(n)
        self._rows = rows
        self.his = np.concatenate(his)
        self._row_of = np.concatenate(row_of)
        self._local_bi = np.concatenate(local_bi)
        self.max_tf = np.concatenate(mtf)
        self.max_nb = np.concatenate(mnb)
        self._row_nblocks = row_nblocks
        self.n_blocks = len(self.his)
        self._memo: Dict[int, Tuple[np.ndarray, np.ndarray]] = {}

    def decode_block(self, gi: int) -> Tuple[np.ndarray, np.ndarray]:
        hit = self._memo.get(gi)
        if hit is not None:
            return hit
        ri = int(self._row_of[gi])
        mask = np.zeros(self._row_nblocks[ri], dtype=bool)
        mask[int(self._local_bi[gi])] = True
        out = _row_postings(self._rows[ri], mask)
        self._memo[gi] = out
        return out

    def decode_blocks(self, gis: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
        """Decode a sorted set of global blocks; concat (docs ascending)."""
        ds, ts = [], []
        for gi in gis:
            d, t = self.decode_block(int(gi))
            ds.append(d)
            ts.append(t)
        if not ds:
            return np.empty(0, np.int64), np.empty(0, np.int32)
        return np.concatenate(ds), np.concatenate(ts)

    def decode_all(self) -> Tuple[np.ndarray, np.ndarray]:
        return self.decode_blocks(np.arange(self.n_blocks))


# -- the per-group scoring skeleton -----------------------------------------
#
# A kernel is a function of one _Group — or of None, a group with no
# postings rows or no segment meta — returning its frame. Spark's
# adapters (IndexSearcher._run_kernel) build the group with
# _Group.of; the driver path (IndexSearcher._local_groups) from the
# driver-held rows; search_many hands each query ``g.view(terms)``.
# Every scoring kernel is ``_kernel(body, k)``. The skeleton owns the
# frame around a body: ONE live-docs mask, the searchAfter cursor, the
# bounded top-k and the ``doc_id long, score float`` frame. A body
# receives the _Group and returns (docs, scores) — the group's
# matching docIDs (int64, unique, any order) with their float32
# scores — or None for no match. A body must NOT mask tombstones or
# cut to k: the skeleton does both, so deletions and the tie-at-k rule
# behave the same in every query type. (A pruning body may READ
# ``g.deleted`` to keep its bound score-safe.)


def _rows_by_term(posts: pd.DataFrame) -> Dict[str, list]:
    """Postings rows by term, each list in seg_id order (one row per
    (term, segment)). Rows are namedtuples over the frame's columns,
    built from one column-list pass (DataFrame.itertuples reads every
    column through iloc)."""
    posts = posts.sort_values("seg_id", kind="stable")
    make = namedtuple("Row", posts.columns, rename=True)._make
    by_term: Dict[str, list] = {}
    for r in map(make, zip(*(posts[c].tolist() for c in posts.columns))):
        by_term.setdefault(r.term, []).append(r)
    return by_term


class _Group:
    """One scoring group as a body sees it: the doc span [gbase,
    gbase + span), dense norm bytes, the tombstone mask (None = no
    deletes), postings rows by term in seg_id order, and the rows of
    make_boolean_scorer's docset clauses by their ``_cl`` tag."""

    __slots__ = ("gbase", "span", "norms", "deleted", "by_term",
                 "by_clause", "_tis")

    def __init__(self, ctx, by_term: Dict[str, list],
                 by_clause: Optional[Dict[int, pd.DataFrame]] = None,
                 tis: Optional[Dict[str, _TermIndex]] = None):
        self.gbase, self.span, self.norms, self.deleted = ctx
        self.by_term = by_term
        self.by_clause = by_clause or {}
        self._tis = {} if tis is None else tis

    @classmethod
    def of(cls, posts: pd.DataFrame,
           segs: Optional[pd.DataFrame]) -> Optional["_Group"]:
        """The group of a postings frame and its segment meta frame;
        None when either is empty (or ``segs`` is None, no meta)."""
        if segs is None or len(posts) == 0 or len(segs) == 0:
            return None
        # docset clauses ride in with a _cl tag (>= 0); term-addressed
        # clauses use the _cl == -1 rows (or everything when untagged)
        by_clause: Dict[int, pd.DataFrame] = {}
        if "_cl" in posts.columns:
            cl = posts["_cl"].to_numpy()
            for c_id in np.unique(cl[cl >= 0]):
                by_clause[int(c_id)] = posts[cl == c_id]
            posts = posts[cl == -1]
        return cls(_group_ctx(segs), _rows_by_term(posts), by_clause)

    def view(self, terms) -> Optional["_Group"]:
        """One search_many query's view of the group: the rows of its
        own terms (None when none has rows here), sharing the decoded
        term indexes with every other view."""
        by_term = {t: self.by_term[t] for t in terms if t in self.by_term}
        if not by_term:
            return None
        return _Group((self.gbase, self.span, self.norms, self.deleted),
                      by_term, tis=self._tis)

    def tindex(self, t: str) -> Optional[_TermIndex]:
        """Block view of term ``t`` (None when absent), built once per
        group: under search_many one instance serves every query of
        the batch, so high-DF terms decode once per (task, group)."""
        rows = self.by_term.get(t)
        if not rows:
            return None
        ti = self._tis.get(t)
        if ti is None:
            ti = self._tis[t] = _TermIndex(rows, self.norms, self.gbase)
        return ti

    def postings(self, t: str) -> Optional[Tuple[np.ndarray, np.ndarray]]:
        """(docs, tfs) of term ``t`` over all its rows, or None."""
        rows = self.by_term.get(t)
        if not rows:
            return None
        parts = [_row_postings(r) for r in rows]
        return (np.concatenate([d for d, _ in parts]),
                np.concatenate([tf for _, tf in parts]))

    def bm25(self, cache: np.ndarray, wv, docs: np.ndarray,
             freq: np.ndarray) -> np.ndarray:
        """f32 BM25 of ``docs`` at weightValue ``wv`` and freq (tf, or
        a phrase / span freq); see _bm25_block."""
        return _bm25_block(cache, wv, freq, self.norms[docs - self.gbase])


def _bm25_block(cache: np.ndarray, wv, freq: np.ndarray,
                norm_bytes: np.ndarray) -> np.ndarray:
    """f32 BM25 at weightValue ``wv``: wv * freq / (freq + cache[norm
    byte]) (BM25Similarity.java:233-238)."""
    freq = freq.astype(np.float32)
    nrm = cache[norm_bytes.astype(np.int64)]
    return ((F32(wv) * freq) / (freq + nrm)).astype(np.float32)


def _bm25_clause(weights: Dict[str, float], cache: np.ndarray):
    """The inlined BM25 of similarity.score_clause (spec None): term
    t's clause at weightValue f32(idf) * (k1 + 1)."""
    def score(t: str, tfs: np.ndarray, norm_bytes: np.ndarray):
        return _bm25_block(cache, F32(F32(weights[t]) * K1_PLUS_1), tfs,
                           norm_bytes)
    return score


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                         "score": pd.Series(dtype="float32")})


def _kernel(body, k: Optional[int],
            after: Optional[Tuple[float, int]] = None):
    """Wrap a per-group ``body`` (see the contract above) into its
    kernel. ``kernel(posts, segs)`` over two frames is
    ``kernel(_Group.of(posts, segs))``, the form the perfbench kernel
    replay calls."""

    def kernel(g, segs: Optional[pd.DataFrame] = None) -> pd.DataFrame:
        if segs is not None:
            g = _Group.of(g, segs)
        if g is None:
            return _empty_hits()
        hit = body(g)
        if hit is None:
            return _empty_hits()
        docs, scores = hit
        keep = None
        if g.deleted is not None and len(docs):
            keep = ~g.deleted[docs - g.gbase]
        if after is not None:
            # searchAfter: strictly after the cursor in (score desc,
            # doc asc) order, applied before the cut so page k+1 is exact
            s0 = np.float32(after[0])
            later = (scores < s0) | ((scores == s0) & (docs > after[1]))
            keep = later if keep is None else keep & later
        if keep is not None:
            docs, scores = docs[keep], scores[keep]
        if len(docs) == 0:
            return _empty_hits()
        # bounded per-group top-k: score desc, doc asc (k=None: keep all)
        if k is not None and len(docs) > k:
            # keep every candidate tied with the k-th score so the
            # docID-asc tie-break resolves exactly at the boundary
            thresh = scores[np.argpartition(-scores, k - 1)[k - 1]]
            sel = scores >= thresh
            docs, scores = docs[sel], scores[sel]
        order = np.lexsort((docs, -scores.astype(np.float64)))
        if k is not None:
            order = order[:k]
        return pd.DataFrame({"doc_id": docs[order], "score": scores[order]})

    return kernel


def make_conjunction_counter(terms):
    """Minimal AND hit counter (the SpellCheckCollator verify path):
    per group, decode each term's doc ids (no norms/scores kept),
    np.intersect1d across the clause set, mask tombstones, emit one
    count row. Disjoint per-segment doc ranges make the concatenated
    per-term arrays unique, so assume_unique intersection is exact."""
    uniq = list(dict.fromkeys(terms))

    def kernel(g: Optional[_Group]) -> pd.DataFrame:
        cur = np.empty(0, np.int64)
        if g is not None:
            for i, t in enumerate(uniq):
                p = g.postings(t)
                if p is None:
                    cur = np.empty(0, np.int64)
                    break
                cur = p[0] if i == 0 else np.intersect1d(
                    cur, p[0], assume_unique=True)
                if len(cur) == 0:
                    break
            if g.deleted is not None:
                cur = cur[~g.deleted[cur - g.gbase]]
        return pd.DataFrame(
            {"cnt": pd.Series([int(len(cur))], dtype="int64")})

    return kernel


def make_group_scorer(plan: QueryPlan, wand: bool):
    """Build the per-group cogrouped-applyInPandas kernel. All plan data
    rides the closure (pickled once per query, broadcast by Spark).

    wand=True enables score-safe pruning (identical results, gated by
    tests/test_engine_vs_oracle.py::test_wand_equals_exhaustive):
      - OR/mm: block-max WAND — per-block upper bound from the skip
        metadata (max_tf, max_nb); the f32 score kernel is monotone in
        both, so f32score(max_tf, max_nb) bounds every score in the
        block EXACTLY (correct rounding preserves monotonicity — no
        epsilon fudge). Elementary docID intervals (all block
        boundaries) are processed in descending summed-bound order,
        decoding only covering blocks, until bound < the running k-th
        score (strict: ties keep processing for the docID tie-break).
        Bound sums and accumulators are f64 over f32 partials — exact,
        so pruned docs provably cannot reach the heap. Our addition vs
        the reference snapshot, which has no impacts/block-max
        (SURVEY.md section 2.7 'score pruning' row).
      - AND: skip-based conjunction — the rarest clause (cost order,
        ConjunctionScorer.java:47-54) decodes fully; every other clause
        decodes only blocks that can contain a surviving candidate
        (np.searchsorted over skip last-docs = the advance() leapfrog,
        Lucene41PostingsReader.java:509-560).
    """
    terms = list(plan.terms)
    exclude_terms = list(plan.exclude_terms)
    weights = dict(plan.weights)
    dfs = dict(plan.dfs)
    mode, mm, k = plan.mode, max(plan.mm, 1), plan.k
    tie = np.float32(plan.tie)
    cache = plan.cache.copy()
    after = plan.after
    sim = plan.sim
    # block-max bound is BM25-specific and assumes sum-combination
    wand = wand and sim is None and mode != "dismax"
    and_order = sorted(terms, key=lambda t: dfs[t])  # stable: ties keep order
    bm25 = _bm25_clause(weights, cache)
    coords = S.coord_factors(sim)

    def body(g: _Group):
        gbase, span, norms = g.gbase, g.span, g.norms

        def wv_of(t: str) -> np.float32:
            return F32(F32(weights[t]) * K1_PLUS_1)

        def term_scores(wv, docs, tfs):
            return g.bm25(cache, wv, docs, tfs)

        def clause_scores(t, docs, tfs):
            return S.score_clause(sim, t, tfs, norms[docs - gbase], bm25)

        def excl_mask() -> Optional[np.ndarray]:
            """MUST_NOT docs of this group as a dense mask, or None."""
            m = None
            for t in exclude_terms:
                ti = g.tindex(t)
                if ti is not None:
                    if m is None:
                        m = np.zeros(span, dtype=bool)
                    d, _ = ti.decode_all()
                    m[d - gbase] = True
            return m

        if mode == "and":
            tis = []
            for t in and_order:
                ti = g.tindex(t)
                if ti is None:
                    return None  # null MUST clause
                tis.append(ti)
            lead_docs, lead_tfs = tis[0].decode_all()
            cand = lead_docs
            datas = [(lead_docs, lead_tfs)]
            for ti in tis[1:]:
                if len(cand) == 0:
                    return None
                if wand:
                    gis = np.unique(
                        np.searchsorted(ti.his, cand, side="left")
                    )
                    gis = gis[gis < ti.n_blocks]
                    docs_t, tfs_t = ti.decode_blocks(gis)
                else:
                    docs_t, tfs_t = ti.decode_all()
                cand = cand[np.isin(cand, docs_t, assume_unique=True)]
                datas.append((docs_t, tfs_t))
            if len(cand) == 0:
                return None
            acc = np.zeros(len(cand), dtype=np.float32)
            for t, (docs_t, tfs_t) in zip(and_order, datas):
                pos = np.searchsorted(docs_t, cand)
                # float32 sum in ascending-df clause order (normative)
                acc = acc + clause_scores(t, cand, tfs_t[pos])
            em = excl_mask()
            if em is not None:
                keep = ~em[cand - gbase]
                cand, acc = cand[keep], acc[keep]
            return cand, acc
        # or / mm
        tis, wvs, tnames = [], [], []
        for t in terms:
            ti = g.tindex(t)
            if ti is not None:
                tis.append(ti)
                wvs.append(wv_of(t) if sim is None else None)
                tnames.append(t)
        if not tis:
            return None
        em = excl_mask()
        if mode == "dismax":
            # DisjunctionMaxScorer (search/DisjunctionMaxScorer.java
            # :85-108): score = scoreMax + (scoreSum - scoreMax) *
            # tieBreakerMultiplier, all float32. scoreSum/scoreMax
            # accumulate in FLOAT per sub-scorer; we accumulate in
            # clause order (identical to the reference's heap walk
            # for <= 3 clauses; a documented deterministic variant
            # beyond that — max is order-free, only the f32 sum
            # rounding order differs).
            ssum = np.zeros(span, dtype=np.float32)
            smax = np.full(span, -np.inf, dtype=np.float32)
            cnt = np.zeros(span, dtype=np.int32)
            for ti, t in zip(tis, tnames):
                docs, tfs = ti.decode_all()
                s = clause_scores(t, docs, tfs)
                idxs = docs - gbase
                ssum[idxs] = ssum[idxs] + s      # f32 step add
                smax[idxs] = np.maximum(smax[idxs], s)
                cnt[idxs] += 1
            hit = cnt >= 1
            if em is not None:
                hit &= ~em
            idxs = np.nonzero(hit)[0]
            return idxs.astype(np.int64) + gbase, (
                smax[idxs] + (ssum[idxs] - smax[idxs]) * tie
            ).astype(np.float32)
        if wand and k is not None:
            # the pruning floor may only count live docs, so WAND reads
            # the tombstones too (the skeleton's re-mask is then a no-op)
            if g.deleted is not None:
                em = g.deleted if em is None else em | g.deleted
            return _wand_or(tis, wvs, cache, norms, gbase, span, k, mm,
                            em, term_scores)
        acc = np.zeros(span, dtype=np.float64)
        cnt = np.zeros(span, dtype=np.int32)
        for ti, t in zip(tis, tnames):
            docs, tfs = ti.decode_all()
            s = clause_scores(t, docs, tfs)
            idxs = docs - gbase
            acc[idxs] += s.astype(np.float64)
            cnt[idxs] += 1
        hit = cnt >= mm
        if em is not None:
            hit &= ~em
        idxs = np.nonzero(hit)[0]
        cand_scores = acc[idxs].astype(np.float32)
        if coords is not None:
            # coordFactors[m] applied to the f32 sum
            # (BooleanScorer2 coordinator, TFIDFSimilarity.coord)
            cand_scores = (
                cand_scores * coords[cnt[idxs]]
            ).astype(np.float32)
        return idxs.astype(np.int64) + gbase, cand_scores

    return _kernel(body, k, after)


def _wand_or(tis, wvs, cache, norms, gbase, span, k, mm, excl_mask,
             term_scores):
    """Block-max WAND over a scoring group (see make_group_scorer doc).

    Returns (cand_docs, cand_scores f32) — exactly the docs/scores the
    exhaustive path would emit for candidates that can reach the top-k
    (plus any processed extras; the caller's top-k cut finishes it)."""
    nI_his = [ti.his for ti in tis]
    E = np.unique(np.concatenate(nI_his))
    nI = len(E)
    U = np.zeros(nI, dtype=np.float64)
    block_of = []
    for ti, wv in zip(tis, wvs):
        freq = ti.max_tf.astype(np.float32)
        nrm = cache[ti.max_nb.astype(np.int64)]
        ub = ((wv * freq) / (freq + nrm)).astype(np.float32)
        j = np.searchsorted(ti.his, E, side="left")
        valid = j < ti.n_blocks
        contrib = np.zeros(nI, dtype=np.float64)
        contrib[valid] = ub[j[valid]].astype(np.float64)
        U += contrib
        block_of.append((j, valid))
    U32 = U.astype(np.float32)
    order = np.argsort(-U32, kind="stable")

    acc = np.zeros(span, dtype=np.float64)
    cnt = np.zeros(span, dtype=np.int32)
    done = [np.zeros(ti.n_blocks, dtype=bool) for ti in tis]
    out_docs: List[np.ndarray] = []
    out_scores: List[np.ndarray] = []
    n_out = 0
    theta: Optional[np.float32] = None
    all_scores: List[np.ndarray] = []
    for oi in order:
        oi = int(oi)
        if theta is not None and U32[oi] < theta:
            break  # strict: U32==theta may still win the docID tie-break
        for ti, wv, dn, (j, valid) in zip(tis, wvs, done, block_of):
            if not valid[oi]:
                continue
            gi = int(j[oi])
            if dn[gi]:
                continue
            docs, tfs = ti.decode_block(gi)
            s = term_scores(wv, docs, tfs)
            ix = docs - gbase
            acc[ix] += s.astype(np.float64)
            cnt[ix] += 1
            dn[gi] = True
        # docs in (E[oi-1], E[oi]] now have every covering block decoded
        lo_d = 0 if oi == 0 else int(E[oi - 1]) + 1 - gbase
        hi_d = int(E[oi]) + 1 - gbase
        local = np.nonzero(cnt[lo_d:hi_d] >= mm)[0] + lo_d
        if excl_mask is not None and len(local):
            local = local[~excl_mask[local]]
        if len(local):
            sc = acc[local].astype(np.float32)
            out_docs.append(local.astype(np.int64) + gbase)
            out_scores.append(sc)
            all_scores.append(sc)
            n_out += len(local)
            if n_out >= k:
                flat = (all_scores[0] if len(all_scores) == 1
                        else np.concatenate(all_scores))
                all_scores = [flat]
                theta = np.partition(flat, len(flat) - k)[len(flat) - k]
    if not out_docs:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    return np.concatenate(out_docs), np.concatenate(out_scores)


# -- exact phrase (ExactPhraseScorer analogue) ------------------------------

def _decode_phrase_postings(by_term: Dict[str, list], uniq_terms,
                            require_all: bool = True):
    """Shared decode for the positional kernels: {term: (docs, tfs,
    flat positions)} with positions aligned to np.repeat(docs, tfs).
    Returns (decoded, max_pos) or None when any term is absent from
    the group (conjunction semantics — PhraseQuery requires all
    terms). require_all=False (span trees with OR branches) maps
    absent terms to empty arrays instead."""
    from lucene_solr_spark.indexing.codec import (
        decode_prox_parts,
        positions_from_deltas,
    )

    decoded = {}
    max_pos = 0
    for t in uniq_terms:
        rows = by_term.get(t)
        if not rows:
            if not require_all:
                decoded[t] = (np.empty(0, np.int64),
                              np.empty(0, np.int32),
                              np.empty(0, np.int64))
                continue
            return None
        dparts, tparts, pparts = [], [], []
        for r in rows:
            if r.pos_enc is None:
                raise ValueError(
                    "phrase query on an index built without positions"
                )
            d, tf = _row_postings(r)
            cnts = (None if getattr(r, "pos_cnts", None) is None
                    else np.frombuffer(r.pos_cnts, "<i8"))
            deltas = decode_prox_parts(r.pos_enc, cnts, int(tf.sum()))
            pos = positions_from_deltas(deltas, tf)
            dparts.append(d)
            tparts.append(tf)
            pparts.append(pos)
        d = np.concatenate(dparts)
        tf = np.concatenate(tparts)
        pos = np.concatenate(pparts)
        if len(pos):
            max_pos = max(max_pos, int(pos.max()))
        decoded[t] = (d, tf, pos)
    return decoded, max_pos


def _exact_phrase_freqs(decoded, offsets, max_pos: int
                        ) -> Tuple[np.ndarray, np.ndarray]:
    """ExactPhraseScorer as a sorted-key intersection: each (term,
    offset) clause contributes the int64 key set
    ``doc << shift | (pos - offset + offbase)``; the chained
    intersection leaves one key per phrase occurrence, and the run
    length over ``key >> shift`` is the per-doc phraseFreq.
    Returns (docs ascending, freqs); an absent term yields no docs."""
    offbase = max(off for _, off in offsets)
    shift = max(21, int(max_pos + offbase + 1).bit_length())
    keys = None
    for t, off in offsets:
        d, tf, pos = decoded[t]
        kk = (np.repeat(d, tf) << shift) + (pos - off + offbase)
        keys = kk if keys is None else np.intersect1d(
            keys, kk, assume_unique=True
        )
        if len(keys) == 0:
            break
    return np.unique(keys >> shift, return_counts=True)


def make_phrase_scorer(offsets, wv, cache: np.ndarray, k: Optional[int]):
    """Per-group kernel for exact phrase matching with position holes
    (search/ExactPhraseScorer.java:26-91; QueryParser builds hole-aware
    PhraseQuery positions from the analyzed stream,
    queryparser/.../classic/QueryParserBase.java:570-616): the
    _exact_phrase_freqs key intersection, scored with the standard
    BM25 kernel where weight = sum of clause idfs
    (BM25Similarity.java:185-198)."""
    uniq_terms = list(dict.fromkeys(t for t, _ in offsets))

    def body(g: _Group):
        dec = _decode_phrase_postings(g.by_term, uniq_terms)
        if dec is None:
            return None  # conjunction: all terms required
        docs, pf = _exact_phrase_freqs(dec[0], offsets, dec[1])
        return docs, g.bm25(cache, wv, docs, pf)

    return _kernel(body, k)


def make_phrase_windows_scorer(windows, cache: np.ndarray):
    """Per-group kernel for a pf2/pf3 FieldParams sub-query
    (search_phrase_windows): ``windows`` = [(offsets, wv_f32)]. Each
    window runs the ExactPhraseScorer key intersection of
    make_phrase_scorer; its f32 BM25 score feeds a per-doc DOUBLE
    accumulator over the SHOULD windows, cast to f32 once — the
    union + sum(double) + cast(float) plan of the per-leg path,
    fused into one postings pass. Returns every match (no cut)."""
    uniq_terms = list(dict.fromkeys(
        t for offs, _ in windows for t, _ in offs))

    def body(g: _Group):
        decoded, max_pos = _decode_phrase_postings(
            g.by_term, uniq_terms, require_all=False)
        acc_docs, acc_sc = [], []
        for offs, wv in windows:
            docs, pf = _exact_phrase_freqs(decoded, offs, max_pos)
            acc_docs.append(docs)
            acc_sc.append(g.bm25(cache, wv, docs, pf).astype(np.float64))
        ud, inv = np.unique(np.concatenate(acc_docs), return_inverse=True)
        sums = np.zeros(len(ud), np.float64)
        np.add.at(sums, inv, np.concatenate(acc_sc))
        return ud, sums.astype(np.float32)

    return _kernel(body, None)


def make_multi_phrase_scorer(slots, wv, cache: np.ndarray,
                             k: Optional[int], slop: int):
    """Per-group kernel for MultiPhraseQuery (search/
    MultiPhraseQuery.java). Each slot's postings are the union of its
    member terms' docs-and-positions (UnionDocsAndPositionsEnum
    :408-520; positions merge-sorted, duplicates kept). slop=0 =
    ExactPhraseScorer walk with slots in ascending per-group coarse-df
    order (sum of member dfs, :203-214): duplicate positions dedup in
    every slot except the LAST, whose multiplicity re-increments freq
    (ExactPhraseScorer.java:302-303). slop>0 = SloppyPhraseScorer over
    the union position lists (disjoint slots only — caller enforces).

    Vectorized like make_phrase_scorer: int64 keys
    ``doc << shift | (pos - offset + offbase)`` per slot, chained
    sorted intersection; last-slot multiplicity recovered with
    searchsorted range counts."""
    slot_terms = [tuple(alts) for alts, _ in slots]
    slot_offs = [off for _, off in slots]
    uniq_terms = list(dict.fromkeys(t for alts in slot_terms for t in alts))
    offbase = max(slot_offs)

    def body(g: _Group):
        decoded, max_pos = _decode_phrase_postings(
            g.by_term, uniq_terms, require_all=False)
        shift = max(21, int(max_pos + offbase + 1).bit_length())
        # union keys + per-group coarse df per slot
        slot_keys: list = []
        coarse_df: list = []
        for alts, off in slots:
            parts = []
            cdf = 0
            for t in alts:
                d, tf, pos = decoded[t]
                if len(d) == 0:
                    continue
                cdf += len(d)
                parts.append((np.repeat(d, tf) << shift)
                             + (pos - off + offbase))
            if not parts:
                return None  # slot absent in this group
            kk = np.concatenate(parts)
            kk.sort()
            slot_keys.append(kk)
            coarse_df.append(cdf)

        if slop > 0:
            from lucene_solr_spark.search.sloppy import sloppy_phrase_freq

            mask = (np.int64(1) << shift) - 1
            cands = None
            for kk in slot_keys:
                ds = np.unique(kk >> shift)
                cands = ds if cands is None else np.intersect1d(
                    cands, ds, assume_unique=True)
                if len(cands) == 0:
                    return None
            slot_ids = [f"\x00slot{i}" for i in range(len(slots))]
            docs_out, freqs_out = [], []
            for doc in cands:
                pos_arrays = []
                for i, kk in enumerate(slot_keys):
                    lo = np.searchsorted(kk, doc << shift, side="left")
                    hi = np.searchsorted(kk, (doc + 1) << shift,
                                         side="left")
                    raw = (kk[lo:hi] & mask) - offbase + slot_offs[i]
                    pos_arrays.append(raw)
                fr = sloppy_phrase_freq(pos_arrays, slot_offs,
                                        slot_ids, slop)
                if fr > 0:
                    docs_out.append(int(doc))
                    freqs_out.append(np.float32(fr))
            udocs = np.asarray(docs_out, np.int64)
            pf = np.asarray(freqs_out, np.float32)
            return udocs, g.bm25(cache, wv, udocs, pf)

        # ascending coarse df; ties by position (PostingsAndFreq
        # compareTo: docFreq, then position) then slot index
        order = sorted(range(len(slots)),
                       key=lambda i: (coarse_df[i], slot_offs[i], i))
        last = order[-1]
        inter = None
        for i in order[:-1]:
            kk = np.unique(slot_keys[i])
            inter = kk if inter is None else np.intersect1d(
                inter, kk, assume_unique=True)
            if len(inter) == 0:
                return None
        lk = slot_keys[last]
        lo = np.searchsorted(lk, inter, side="left")
        hi = np.searchsorted(lk, inter, side="right")
        mult = (hi - lo).astype(np.int64)
        sel = mult > 0
        keys, mult = inter[sel], mult[sel]
        docs_h = keys >> shift
        udocs = np.unique(docs_h)
        pf_per_doc = np.zeros(len(udocs), np.int64)
        np.add.at(pf_per_doc, np.searchsorted(udocs, docs_h), mult)
        return udocs, g.bm25(cache, wv, udocs,
                             pf_per_doc.astype(np.float32))

    return _kernel(body, k)


# -- sloppy phrase (SloppyPhraseScorer analogue) ----------------------------

def _sloppy_freqs(decoded, offsets, slop: int
                  ) -> Tuple[np.ndarray, np.ndarray]:
    """SloppyPhraseScorer freqs: candidate docs are the conjunction of
    the clause terms' doc sets (the ConjunctionScorer walk driving the
    reference scorer); each candidate runs the exact greedy phraseFreq
    traversal of search/sloppy.py. Returns (docs ascending, f32 freq)
    of the docs with freq > 0. The per-doc Python loop touches
    post-conjunction candidates only, linear in their position lists —
    the reference's own per-doc cost."""
    from lucene_solr_spark.search.sloppy import sloppy_phrase_freq

    uniq_terms = list(dict.fromkeys(t for t, _ in offsets))
    cand = None
    for t in uniq_terms:
        d = decoded[t][0]
        cand = d if cand is None else np.intersect1d(
            cand, d, assume_unique=True
        )
        if len(cand) == 0:
            break
    slices = {}
    for t in uniq_terms:
        d, tf, pos = decoded[t]
        ends = np.cumsum(tf)
        idx = np.searchsorted(d, cand)
        slices[t] = (ends[idx] - tf[idx], ends[idx], pos)
    clause_terms = [t for t, _ in offsets]
    clause_offs = [o for _, o in offsets]
    pf = np.zeros(len(cand), np.float32)
    for j in range(len(cand)):
        arrs = []
        for t in clause_terms:
            s, e, pos = slices[t]
            arrs.append(pos[s[j]:e[j]])
        pf[j] = sloppy_phrase_freq(arrs, clause_offs, clause_terms, slop)
    sel = pf > 0
    return cand[sel], pf[sel]


def make_sloppy_phrase_scorer(offsets, wv, cache: np.ndarray,
                              k: Optional[int], slop: int):
    """Per-group kernel for sloppy phrase matching
    (search/SloppyPhraseScorer.java via search/sloppy.py): the
    _sloppy_freqs candidate loop, scored with the float sloppy freq
    through the standard BM25 kernel (weightValue * freq / (freq +
    norm), BM25Similarity.java:233-238 with freq = sloppyFreq)."""
    uniq_terms = list(dict.fromkeys(t for t, _ in offsets))

    def body(g: _Group):
        dec = _decode_phrase_postings(g.by_term, uniq_terms)
        if dec is None:
            return None
        docs, pf = _sloppy_freqs(dec[0], offsets, slop)
        return docs, g.bm25(cache, wv, docs, pf)

    return _kernel(body, k)


# -- span queries (SpanScorer + spans algebra) ------------------------------

def make_span_scorer(span, wv, cache: np.ndarray, k: Optional[int]):
    """Per-group kernel for span queries (search/spans/SpanScorer.java
    over the spans algebra in search/spans.py). Candidate docs are
    pruned by the span tree's REQUIRED-doc recursion (Near = all
    clauses, Or = any clause, Not = include side, First = wrapped) —
    sound because a pruned doc enumerates zero spans — then each
    candidate runs the exact reference iterator tree; freq > 0 docs
    score through the standard BM25 kernel
    (weightValue * freq / (freq + norm)) with freq the f32
    slop-factor sum (SpanScorer.setFreqCurrentDoc).

    Scale: candidate pruning is vectorized set algebra per partition;
    the per-doc Python loop is linear in candidate position lists —
    the reference's own per-doc cost, parallel across groups."""
    from lucene_solr_spark.search import spans as SP

    uniq_terms = list(dict.fromkeys(SP.positions_terms(span)))

    def node_docs(node, decoded):
        if isinstance(node, SP.SpanTerm):
            return decoded[node.term][0]
        if isinstance(node, SP.SpanNear):
            cand = None
            for c in node.clauses:
                d = node_docs(c, decoded)
                cand = d if cand is None else np.intersect1d(
                    cand, d, assume_unique=False
                )
                if len(cand) == 0:
                    break
            return cand
        if isinstance(node, SP.SpanOr):
            return np.unique(np.concatenate(
                [node_docs(c, decoded) for c in node.clauses]
            ))
        if isinstance(node, SP.SpanNot):
            return node_docs(node.include, decoded)
        if isinstance(node, SP.SpanFirst):
            return node_docs(node.match, decoded)
        raise TypeError(f"not a span node: {node!r}")

    def body(g: _Group):
        decoded, _ = _decode_phrase_postings(g.by_term, uniq_terms,
                                             require_all=False)
        cand = node_docs(span, decoded)
        if cand is None or len(cand) == 0:
            return None
        slices = {}
        for t in uniq_terms:
            d, tf, pos = decoded[t]
            ends = np.cumsum(tf)
            starts = ends - tf
            idx = np.searchsorted(d, cand)
            # clamp: cand may contain docs missing for this term
            idx = np.minimum(idx, max(len(d) - 1, 0))
            slices[t] = (d, starts, ends, pos, idx)
        empty = np.empty(0, np.int64)
        pf = np.zeros(len(cand), np.float32)
        for j in range(len(cand)):
            doc = cand[j]

            def pos_of(t, _j=j, _doc=doc):
                d, starts, ends, pos, idx = slices[t]
                i = idx[_j] if len(d) else 0
                if len(d) == 0 or d[i] != _doc:
                    return empty
                return pos[starts[i]:ends[i]]

            pf[j] = SP.span_freq(span, pos_of)
        sel = pf > 0
        docs = cand[sel]
        return docs, g.bm25(cache, wv, docs, pf[sel])

    return _kernel(body, k)


# -- mixed boolean queries (BooleanScorer2 composition) ---------------------

def make_boolean_scorer(clauses: List[dict], cache: np.ndarray,
                        k: Optional[int]):
    """Per-group kernel for parsed boolean queries — the BooleanScorer2
    strategy tree (search/BooleanScorer2.java ctor/strategy):

      MUST clauses   -> conjunction, f32 score sum in ascending-cost
                        order (ConjunctionScorer.java:47-54,104-111)
      SHOULD clauses -> DisjunctionSumScorer over the required docs
                        (double accumulate, cast f32); combined with the
                        required score per ReqOptSumScorer.score()
                        (float add; ReqOptSumScorer.java)
      MUST_NOT       -> ReqExclScorer doc removal (ReqExclScorer.java)
      no MUST        -> plain disjunction (+ optional mm)

    Clause kinds: 'term' (TermScorer), 'phrase' (ExactPhraseScorer, or
    SloppyPhraseScorer with slop > 0), 'prefix' (CONSTANT_SCORE
    rewrite: matching docs score 1.0, MultiTermQuery.java:107-116),
    'docset' (the same over a filter-rewrite postings scan), 'multi'
    (SCORING_BOOLEAN rewrite of a fuzzy/multi-term expansion: an inner
    disjunction)."""
    no_docs = (np.empty(0, np.int64), np.empty(0, np.float32))

    def body(g: _Group):
        gbase, span = g.gbase, g.span

        def eval_phrase(c):
            dec = _decode_phrase_postings(
                g.by_term, list(dict.fromkeys(c["terms"])))
            if dec is None:
                return no_docs
            if c.get("slop", 0) > 0:
                # SloppyPhraseScorer clause inside a boolean tree
                docs, pf = _sloppy_freqs(dec[0], c["offsets"], c["slop"])
            else:
                docs, pf = _exact_phrase_freqs(dec[0], c["offsets"],
                                               dec[1])
            return docs, g.bm25(cache, c["wv"], docs, pf)

        def eval_clause(c):
            """-> (docs sorted asc, f32 scores)."""
            if c["kind"] == "term":
                arr = g.postings(c["terms"][0])
                if arr is None:
                    return no_docs
                docs, tfs = arr
                return docs, g.bm25(cache, c["wv"], docs, tfs)
            if c["kind"] == "phrase":
                return eval_phrase(c)
            if c["kind"] in ("prefix", "docset"):
                if c["kind"] == "prefix":
                    parts = [g.postings(t) for t in c["terms"]]
                    parts = [p[0] for p in parts if p is not None]
                else:
                    # filter-rewrite constant-score: union the doc
                    # arrays of every tagged postings row (no term
                    # addressing at all)
                    rows = g.by_clause.get(c["cl"])
                    parts = ([] if rows is None else
                             [_row_postings(r)[0]
                              for r in rows.itertuples(index=False)])
                if not parts:
                    return no_docs
                docs = np.unique(np.concatenate(parts))
                return docs, np.ones(len(docs), dtype=np.float32)
            if c["kind"] == "multi":  # inner scoring disjunction
                acc = np.zeros(span, dtype=np.float64)
                seen = np.zeros(span, dtype=bool)
                for t, wv in zip(c["terms"], c["wvs"]):
                    arr = g.postings(t)
                    if arr is None:
                        continue
                    docs, tfs = arr
                    ix = docs - gbase
                    acc[ix] += g.bm25(cache, wv, docs, tfs).astype(
                        np.float64)
                    seen[ix] = True
                ix = np.nonzero(seen)[0]
                return (ix.astype(np.int64) + gbase,
                        acc[ix].astype(np.float32))
            raise ValueError(c["kind"])

        musts = [c for c in clauses if c["occur"] == "must"]
        shoulds = [c for c in clauses if c["occur"] == "should"]
        nots = [c for c in clauses if c["occur"] == "not"]
        mm = max(int(clauses[0].get("mm", 0)) if clauses else 0, 1)

        if musts:
            musts = sorted(enumerate(musts),
                           key=lambda ic: (ic[1]["cost"], ic[0]))
            evs = []
            for _, c in musts:
                docs, sc = eval_clause(c)
                if len(docs) == 0:
                    return None
                evs.append((docs, sc))
            cand = evs[0][0]
            for docs, _ in evs[1:]:
                cand = cand[np.isin(cand, docs, assume_unique=True)]
                if len(cand) == 0:
                    return None
            req = np.zeros(len(cand), dtype=np.float32)
            for docs, sc in evs:  # f32 sum in ascending-cost order
                pos = np.searchsorted(docs, cand)
                req = req + sc[pos]
            if shoulds:
                opt = np.zeros(len(cand), dtype=np.float64)
                hit = np.zeros(len(cand), dtype=bool)
                for c in shoulds:
                    docs, sc = eval_clause(c)
                    if len(docs) == 0:
                        continue
                    pos = np.searchsorted(docs, cand)
                    ok = (pos < len(docs)) & (docs[np.minimum(
                        pos, len(docs) - 1)] == cand)
                    opt[ok] += sc[pos[ok]].astype(np.float64)
                    hit[ok] = True
                opt32 = np.where(hit, opt.astype(np.float32),
                                 np.float32(0.0)).astype(np.float32)
                final = (req + opt32).astype(np.float32)
            else:
                final = req
            cand_docs, cand_scores = cand, final
        else:
            acc = np.zeros(span, dtype=np.float64)
            cnt = np.zeros(span, dtype=np.int32)
            for c in shoulds:
                docs, sc = eval_clause(c)
                if len(docs) == 0:
                    continue
                ix = docs - gbase
                acc[ix] += sc.astype(np.float64)
                cnt[ix] += 1
            ix = np.nonzero(cnt >= mm)[0]
            cand_docs = ix.astype(np.int64) + gbase
            cand_scores = acc[ix].astype(np.float32)

        if nots and len(cand_docs):
            ex = np.zeros(span, dtype=bool)
            for c in nots:
                ex[eval_clause(c)[0] - gbase] = True
            keep = ~ex[cand_docs - gbase]
            cand_docs, cand_scores = cand_docs[keep], cand_scores[keep]
        return cand_docs, cand_scores

    return _kernel(body, k)
