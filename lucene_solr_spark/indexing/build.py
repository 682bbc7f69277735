"""Index build pipeline (the IndexWriter of this engine).

Spark shape (SURVEY.md section 3.2, re-expressing IndexWriter.addDocument
-> flush -> commit, lucene/core/src/java/org/apache/lucene/index/
IndexWriter.java:1161,2820). The pipeline is ONE wide shuffle + ONE
JVM->Python Arrow crossing over the corpus content, total:

  corpus(repo,path,commit,lang,content)
    [1] range-repartition + sort by (repo,path,commit): equal keys
        co-located, global key order == partition order. The only
        shuffle that moves content.
    [2] counts pass (narrow — Catalyst prunes content below the
        exchange): distinct keys per partition -> dense-rank offsets.
        docIDs = offsets[pid] + running index depend only on the key
        order, never on parallelism (the per-row invariant carrier).
    [3] mapInPandas(make_stream_builder): per partition, streaming —
        dedup adjacent duplicate keys, assign docIDs, sha256, tokenize
        (vectorized chain), invert (factorize+lexsort), encode
        (delta+FOR blocks, skips, block-max metadata); flush a segment
        at every docID multiple of docs_per_segment. A segment is a
        contiguous docID run with seg_id = its first docID — the
        DWPT/flush-unit analogue (index/DocumentsWriterPerThread.java).
        Postings rows + a meta row per segment (norms blob = .nvd
        analogue + stored-key arrays = docs-table source) leave in one
        output.
    [4] batched writes: batches are contiguous partition ranges, each
        an independent job committing a snapshot with per-segment
        lineage rows -> kill/resume restarts after the last committed
        batch (Iceberg-checkpoint model, catalog.py).
    [5] finalize: term_stats / collection_stats aggregates, docs table
        exploded from the meta-row key arrays (content never re-read),
        + 'commit' snapshot (the segments_N publish).

Scoring groups are docID windows: group_factor is in DOC units
(initially docs_per_segment); a segment never crosses a dps-aligned
boundary, so seg_id // group_factor assigns every posting row and every
meta row to exactly one group at any merge depth.

Merge (`merge_postings`) is the SegmentMerger/forceMerge analogue
(index/SegmentMerger.java:71-119): groupBy (term, seg_group) —
seg_group = seg_id // segs_per_group is the SALT. A high-DF term's
posting list is never assembled on one reducer; each group merges only
its own disjoint, ordered docID range (two-level merge correctness
argument in SURVEY.md section 2.4) and rows stay capped near
MAX_POSTINGS_PER_ROW. Query-side concatenation of group rows is a
no-op merge because ranges are disjoint and ordered.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict, Iterator, List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.catalog import Catalog, Snapshot
from lucene_solr_spark.constants import DEFAULT_DOCS_PER_SEGMENT, FORMAT_VERSION
from lucene_solr_spark.functions.analysis import get_analyzer
from lucene_solr_spark.functions.smallfloat import encode_norm
from lucene_solr_spark.indexing.codec import (
    concat_postings,
    encode_postings,
    encode_prox,
)


DOC_KEY = ["repo", "path", "commit"]


def _is_meta_col():
    # is_meta is a partition directory column: boolean under the declared
    # SEGMENT_OUT_SCHEMA, a string when Spark infers the schema
    return F.col("is_meta").cast("boolean")


# Every table the engine writes is read back with its declared schema
# (the writer's own schema string), so Spark plans the scan without the
# footer-inference job an undeclared read runs. tests/test_table_schemas.py
# checks each declaration against the files the writers produce.
TERM_STATS_SCHEMA = "term string, df long, cf long"
DOCS_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "content_sha256 string"
)
TOMBSTONES_SCHEMA = "doc_id long"


def read_table(spark: SparkSession, schema: str, paths) -> DataFrame:
    """Read engine-written parquet path(s) with the declared ``schema``."""
    return spark.read.schema(schema).parquet(*_as_list(paths))


def _read_combined(spark: SparkSession, paths, base_path: str) -> DataFrame:
    """Combined build/append output dirs (is_meta-partitioned)."""
    return (spark.read.schema(SEGMENT_OUT_SCHEMA)
            .option("basePath", base_path).parquet(*_as_list(paths)))


def read_segment_output(spark: SparkSession, paths, base_path: str):
    """Read batch output dirs; returns (postings_df, meta_df)."""
    sdf = _read_combined(spark, paths, base_path)
    return sdf.filter(~_is_meta_col()), sdf.filter(_is_meta_col())


def _is_combined_dir(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "is_meta=false")) or os.path.isdir(
        os.path.join(path, "is_meta=true")
    )


def read_postings_any(spark: SparkSession, entries) -> DataFrame:
    """Read a postings table that may mix storage generations: combined
    build/append dirs (is_meta-partitioned) and merged dirs (plain
    MERGED_SCHEMA parquet). Normalized to _POSTING_COLS."""
    parts = []
    for p in _as_list(entries):
        if _is_combined_dir(p):
            d = _read_combined(spark, p, p).filter(~_is_meta_col())
        else:
            d = read_table(spark, MERGED_SCHEMA, p)
        parts.append(d.select(*_POSTING_COLS))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def read_segments_any(spark: SparkSession, entries) -> DataFrame:
    """Read segment-meta rows from combined dirs. Normalized to
    _META_COLS."""
    parts = [
        _read_combined(spark, p, p).filter(_is_meta_col()).select(*_META_COLS)
        for p in _as_list(entries)
    ]
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out

SEGMENT_OUT_SCHEMA = (
    "is_meta boolean, term string, seg_id long, df long, cf long, "
    "doc_ids_enc binary, tfs_enc binary, skips_enc binary, "
    "pos_enc binary, pos_cnts binary, sdoc long, stf long, "
    "doc_base long, doc_count long, sum_len long, "
    "norms_enc binary, doc_lens_enc binary, input_sha256 string, "
    "term_lo string, term_hi string, post_bytes long, "
    "repos array<string>, paths array<string>, commits array<string>, "
    "langs array<string>, shas array<string>"
)

_POSTING_COLS = [
    "term", "seg_id", "df", "cf", "doc_ids_enc", "tfs_enc", "skips_enc",
    "pos_enc", "pos_cnts", "sdoc", "stf",
]
_META_COLS = [
    "seg_id", "doc_base", "doc_count", "sum_len", "norms_enc",
    "doc_lens_enc", "input_sha256",
]


def _first_occurrence_mask(pdf: pd.DataFrame, carry) -> np.ndarray:
    """True where a row's key differs from the previous row's (rows
    sorted by key); `carry` = last key of the previous batch."""
    cols = [pdf[c].to_numpy(dtype=object) for c in DOC_KEY]
    mask = np.zeros(len(pdf), dtype=bool)
    if len(pdf) > 1:
        neq = np.zeros(len(pdf) - 1, dtype=bool)
        for c in cols:
            neq |= c[1:] != c[:-1]
        mask[1:] = neq
    first = tuple(c[0] for c in cols)
    mask[0] = carry is None or first != carry
    return mask


KEY_SEP = "\x00"  # composite-key separator; lexicographic on the
# joined string == tuple order provided components contain no NUL


def _composite_key() -> F.Column:
    # NULL key columns map to '' (concat_ws would silently DROP them,
    # conflating ('a', NULL, 'c') with ('a', 'c') — ADVICE r1); bucket
    # assignment only needs a deterministic total order, and the
    # dedup/count passes compare raw column tuples, so '' vs NULL stays
    # distinct where it must.
    return F.concat_ws(
        KEY_SEP, *[F.coalesce(F.col(c), F.lit("")) for c in DOC_KEY]
    )


# Key buckets are sized from the corpus, never from the cluster: about
# DOCS_PER_BUCKET docs each, at least one per batch, at most MAX_BUCKETS
# (the bounds ride in snapshot props). Segments cut at bucket
# transitions, so the layout is a pure function of the data.
DOCS_PER_BUCKET = 256
MAX_BUCKETS = 128


def bucket_count(n_docs: int, n_batches: int = 1) -> int:
    return min(MAX_BUCKETS, max(n_batches, -(-n_docs // DOCS_PER_BUCKET)))


# term_stats is written as one term-sorted file per
# DOCS_PER_TERM_STATS_FILE docs of the index, at most
# MAX_TERM_STATS_FILES: like the key buckets, the layout follows from
# the data, and the file count bounds the footers a cold driver-side
# df lookup (IndexSearcher._lookup_dfs) opens.
DOCS_PER_TERM_STATS_FILE = 65536
MAX_TERM_STATS_FILES = 64


def term_stats_files(n_docs: int) -> int:
    return min(MAX_TERM_STATS_FILES,
               max(1, -(-n_docs // DOCS_PER_TERM_STATS_FILE)))


def write_term_stats(stats: DataFrame, path: str, n_docs: int) -> None:
    """Write (term, df, cf) range-partitioned and sorted by term into
    term_stats_files(n_docs) files, so min/max pruning on the term
    column works for Spark scans and driver-side reads alike."""
    (
        stats.repartitionByRange(term_stats_files(n_docs), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(path)
    )


# -- driver path -------------------------------------------------------------
# An index whose segment meta fits a broadcast and whose postings are at
# most LOCAL_POSTINGS_MAX_BYTES on disk is held on the driver: the
# searcher answers single queries in-process, and NRT appends and
# deletes write with pyarrow, like Lucene's in-process flush
# (DirectoryReader.open(writer)). The bound sits below the measured
# driver-vs-Spark query crossover; the writes showed no crossover up to
# nearly three times the bound, so the queries set it (README, "Driver
# path for single queries" and "... for NRT writes"). -1 keeps every
# query and write on Spark.
SEGS_BROADCAST_MAX_DOCS = 32 * 1024 * 1024
LOCAL_POSTINGS_MAX_BYTES = 32 * 1024 * 1024


def postings_bytes(paths) -> int:
    """On-disk size of the postings parquet paths (driver-side file
    stat — no Spark job). Local-FS stand-in; on HDFS/S3 swap in the
    filesystem client's content summary."""
    total = 0
    for p in _as_list(paths):
        for root, _dirs, files in os.walk(p):
            for fn in files:
                if fn.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
    return total


def held_on_driver(max_doc: int, posts_bytes: int) -> bool:
    """The driver-path rule for an index of ``max_doc`` docs and
    ``posts_bytes`` of postings on disk, shared by the searcher's open
    and the NRT writers."""
    return (max_doc <= SEGS_BROADCAST_MAX_DOCS
            and posts_bytes <= LOCAL_POSTINGS_MAX_BYTES)


def _arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of one of the declared DDL strings above."""
    types = {"string": pa.string(), "long": pa.int64(), "int": pa.int32(),
             "binary": pa.binary(), "boolean": pa.bool_(),
             "array<string>": pa.list_(pa.string())}
    return pa.schema([(name, types[t]) for name, t in
                      (f.split(" ", 1) for f in ddl.split(", "))])


def _write_parquet(tbl: pa.Table, path: str, n_files: int = 1) -> None:
    """Overwrite ``path`` with ``tbl`` in ``n_files`` contiguous slices,
    the way the Spark writers lay it out: zstd level 3 (the session's
    codec at Spark's level), no dictionary pages, no Arrow or pandas
    schema metadata. With those settings the files come out no bigger
    than Spark's."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tbl = tbl.replace_schema_metadata(None)
    step = -(-tbl.num_rows // n_files) if tbl.num_rows else 0
    for i in range(n_files):
        pq.write_table(
            tbl.slice(i * step, step) if step else tbl,
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd", compression_level=3,
            use_dictionary=False, store_schema=False)


class KeyBounds(list):
    """Bucket boundaries from compute_key_bounds. For a corpus that fits
    one bucket they are empty and carry the doc keys of the bounded
    take (``keys``), so count_keys_per_bucket reuses that one sample."""

    keys: Optional[List[tuple]] = None


def _one_bucket_keys(corpus: DataFrame) -> Optional[List[tuple]]:
    """The doc keys of a corpus that fits one key bucket (at most
    DOCS_PER_BUCKET rows), else None. A bounded take, not a count: a
    local corpus (createDataFrame, e.g. an NRT micro-batch) answers
    without a Spark job, a file scan stops after the first partitions."""
    rows = corpus.select(*DOC_KEY).limit(DOCS_PER_BUCKET + 1).collect()
    return None if len(rows) > DOCS_PER_BUCKET else [tuple(r) for r in rows]


def compute_key_bounds(corpus: DataFrame, n_batches: int = 1) -> List[str]:
    """DETERMINISTIC key-range boundaries (bucket_count - 1 composite
    keys; the bucket count follows from the corpus row count). A corpus
    that fits one bucket has no boundaries and is neither counted nor
    sampled.

    Spark's repartitionByRange samples with an RDD-id-dependent seed, so
    two jobs over the same data can disagree on boundaries — fatal here,
    because the counts pass and the segment pass must see identical
    buckets, and a resumed build (new process) must reproduce the
    boundaries recorded in its snapshot. This sampler has no RNG at
    all: evenly strided keys per input partition, quantiles on the
    driver. Boundaries are stored in snapshot props and reused."""
    if n_batches <= 1:
        keys = _one_bucket_keys(corpus)
        if keys is not None:
            out = KeyBounds()
            out.keys = keys
            return out
    keys = corpus.select(_composite_key().alias("k"))
    # Deterministic JVM-side hash sample (xxhash64 has no seed state; a
    # key either is or is not in the sample, independent of
    # partitioning, process, or run — unlike Spark's range sampler).
    # Target ~64 samples per boundary; the whole pipeline stays in
    # whole-stage codegen with only the sampled keys crossing to the
    # driver, so the cost is one pruned scan regardless of corpus size.
    n = int(corpus.count())
    num_buckets = bucket_count(n, n_batches)
    target = max(num_buckets * 64, 4096)
    mod = max(n // target, 1)
    samp = sorted(
        r["k"]
        for r in keys.filter(
            F.pmod(F.xxhash64("k"), F.lit(mod)) == 0
        ).collect()
    )
    if not samp:
        return []
    bounds = {
        samp[min(int(len(samp) * i / num_buckets), len(samp) - 1)]
        for i in range(1, num_buckets)
    }
    return sorted(bounds)


def _bucket_col(bounds: List[str]) -> F.Column:
    """Deterministic bucket = searchsorted(bounds, composite_key,
    side='right') = |{b in bounds : b <= key}|.

    Expressed as a Catalyst binary-search WHEN-tree (O(bounds) nodes,
    O(log bounds) comparisons per row, whole-stage codegen) so neither
    the counts pass nor the segment pass's shuffle input crosses into
    Python for bucketing. Spark string comparison is bytewise UTF-8 ==
    code-point order, matching the Python str ordering used by the
    in-kernel dedup. Falls back to the pandas UDF above 4096 bounds
    (expression-size guard for extreme bucket counts)."""
    key = _composite_key()
    if not bounds:
        return F.lit(0).cast("int")
    if len(bounds) > 4096:
        barr = np.array(bounds, dtype=object)

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def bucket_of(k: pd.Series) -> pd.Series:
            return pd.Series(
                np.searchsorted(barr, k.to_numpy(dtype=object),
                                side="right")
                .astype(np.int32)
            )

        return bucket_of(key)

    def build(lo: int, hi: int) -> F.Column:
        # result in [lo, hi] = count of bounds <= key
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(F.lit(bounds[mid]) <= key, build(mid + 1, hi))
            .otherwise(build(lo, mid))
        )

    return build(0, len(bounds)).cast("int")


def _keyed_corpus(corpus: DataFrame, bounds: List[str]) -> DataFrame:
    """Bucket + shuffle + sort the corpus by (repo, path, commit): equal
    keys co-located, bucket order == key order. The ONE wide shuffle of
    the build. All downstream logic keys off the deterministic ``_bkt``
    column (bucket = f(key, stored bounds)) — NEVER off physical
    partition ids, so any job, process, or AQE decision sees the same
    bucketing. Range-partitioning on the int bucket never splits a
    bucket across partitions (it may co-locate several — handled)."""
    nb = len(bounds) + 1
    return (
        corpus.withColumn("_bkt", _bucket_col(bounds))
        .repartitionByRange(nb, "_bkt")
        .sortWithinPartitions(*DOC_KEY)
    )


def count_keys_per_bucket(corpus: DataFrame, bounds: List[str]) -> Dict[int, int]:
    """Distinct-key count per bucket — pure JVM aggregation (map-side
    partial agg, no sort, no range shuffle, content column pruned at
    the parquet scan). Feeds the dense-rank offsets. One bucket of at
    most DOCS_PER_BUCKET rows is counted on the driver from its keys,
    taken once per plan (KeyBounds.keys)."""
    if not bounds:
        keys = getattr(bounds, "keys", None) or _one_bucket_keys(corpus)
        if keys is not None:
            return {0: len(set(keys))} if keys else {}
    keyed = corpus.select(*DOC_KEY).withColumn(
        "_bkt", _bucket_col(bounds)
    )
    # count_distinct over a STRUCT, not bare columns: bare-column
    # count_distinct excludes rows where ANY key column is NULL, while
    # the Python-side _first_occurrence_mask dedup counts them — the
    # mismatch would shift docID offsets and collide ranges (ADVICE r1).
    return {
        int(r["_bkt"]): int(r["n"])
        for r in keyed.groupBy("_bkt")
        .agg(F.count_distinct(F.struct(*DOC_KEY)).alias("n"))
        .collect()
    }


def offsets_from_counts(counts: Dict[int, int], base: int = 0):
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets, acc - base


def assign_doc_ids(
    corpus: DataFrame, num_partitions: Optional[int] = None,
    return_count: bool = False,
):
    """Dense deterministic docID = rank over (repo, path, commit).

    NOT a global Window.orderBy (single-partition sort at 100 TB):
    range-repartition on the key, sort within partitions, then add
    per-partition offsets computed from a counts pass — the scalable
    two-pass dense-rank. The result depends only on the key order, not
    on partition boundaries or parallelism.
    """
    spark = corpus.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # Range partitioning colocates equal keys, so duplicate-key removal
    # (updateDocuments: one row per key) happens partition-locally in
    # the same pass — no separate dropDuplicates shuffle.
    keyed = (
        corpus.repartitionByRange(num_partitions, *DOC_KEY)
        .sortWithinPartitions(*DOC_KEY)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def count_dedup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid, n, carry = None, 0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            n += int(_first_occurrence_mask(pdf, carry).sum())
            carry = tuple(pdf[c].iloc[-1] for c in DOC_KEY)
        if pid is not None:
            yield pd.DataFrame({"_pid": [pid], "n": [n]})

    counts = {
        int(r["_pid"]): int(r["n"])
        for r in keyed.select(*DOC_KEY, "_pid")  # prune content pre-Arrow
        .mapInPandas(count_dedup, "_pid int, n long")
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in corpus.schema.fields
    ) + ", doc_id long"
    out_cols = [f.name for f in corpus.schema.fields] + ["doc_id"]

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        consumed = 0
        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = _first_occurrence_mask(pdf, carry)
            carry = tuple(pdf[c].iloc[-1] for c in DOC_KEY)
            base = offsets[int(pdf["_pid"].iloc[0])] + consumed
            pdf = pdf[mask].drop(columns=["_pid"]).copy()
            consumed += len(pdf)
            pdf["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            yield pdf[out_cols]

    out = keyed.mapInPandas(add_ids, schema=out_schema)
    if return_count:
        return out, acc, keyed
    return out


def invert_segment(
    seg_id: int,
    doc_ids: np.ndarray,
    token_lists: List[list],
    pos_lists: List[list],
    shas: List[str],
    keys: Optional[dict] = None,
    overlap_aware: bool = False,
    codec: str = "for128",
) -> pd.DataFrame:
    """One contiguous-docID segment in (already tokenized), postings
    rows + one meta row out (column-wise frame). The in-RAM inversion analogue
    (index/FreqProxTermsWriterPerField.java:161-245, term sort in UTF-8
    order TermsHashPerField.java:110-111 — Python str order == codepoint
    order == UTF-8 byte order, so plain sort matches).

    ``keys``: optional dict of per-doc stored-key lists (repo, path,
    commit, lang) carried on the meta row as array columns — the docs
    table is later exploded from them, so the corpus content makes
    exactly ONE pass through Arrow during a build."""
    doc_ids = np.asarray(doc_ids, np.int64)
    doc_base = int(doc_ids[0])
    n_docs = len(doc_ids)
    # lens = emitted token count: drives the postings flatten AND the
    # stored doc_len (sumTotalTermFreq semantics — Lucene's avgdl
    # counts posInc-0 injections, BM25Similarity avgFieldLength =
    # sumTotalTermFreq / maxDoc)
    lens = np.fromiter((len(t) for t in token_lists), np.int64, n_docs)
    if overlap_aware:
        # ...but the NORM length discounts overlaps (shingle/synonym/
        # edge-ngram chains): Lucene discountOverlaps counts
        # state.length - state.numOverlap (BM25Similarity.java:137-141)
        # = number of DISTINCT positions in the emitted stream
        # (positions are nondecreasing, so distinct = non-equal steps)
        norm_lens = np.fromiter(
            (
                (len(p) - sum(a == b for a, b in zip(p, p[1:])))
                if p else 0
                for p in pos_lists
            ),
            np.int64,
            n_docs,
        )
    else:
        norm_lens = lens
    with np.errstate(divide="ignore"):
        norm_bytes = np.atleast_1d(encode_norm(norm_lens))
    # dense norm lookup over the segment's contiguous doc range
    span = int(doc_ids[-1]) - doc_base + 1
    nb_lookup = np.zeros(span, dtype=np.uint8)
    nb_lookup[doc_ids - doc_base] = norm_bytes
    len_lookup = np.zeros(span, dtype=np.int32)
    len_lookup[doc_ids - doc_base] = lens.astype(np.int32)

    input_sha = hashlib.sha256("".join(shas).encode()).hexdigest()

    rows: List[dict] = []
    total_tokens = int(lens.sum())
    if total_tokens:
        # flat (term, doc, position) triples -> sort term-major (UTF-8
        # order), then doc, then position: the in-RAM inversion + prox
        # stream in one vectorized pass. Terms are dict-encoded per doc
        # into an int32 stream (insertion ids remapped to sorted rank)
        # instead of materializing one giant object array for
        # pd.factorize — the flat stream is then pure fixed-width
        # numeric, which matters at high core counts where the object
        # array's pointer-chasing saturates the memory bus. Python str
        # sort order == codepoint order == UTF-8 byte order, so
        # sorted(vocab) matches factorize(sort=True)'s term order.
        vocab: Dict[str, int] = {}
        setd = vocab.setdefault
        flat_codes = np.empty(total_tokens, np.int32)
        off = 0
        for lst in token_lists:
            if lst:
                flat_codes[off:off + len(lst)] = np.fromiter(
                    (setd(t, len(vocab)) for t in lst), np.int32, len(lst)
                )
                off += len(lst)
        uniq_list = sorted(vocab)
        rank = np.empty(len(vocab), np.int32)
        rank[np.fromiter((vocab[t] for t in uniq_list), np.int32,
                         len(uniq_list))] = np.arange(
            len(uniq_list), dtype=np.int32)
        uniq_terms = np.array(uniq_list, dtype=object)
        codes = rank[flat_codes]
        flat_docs = np.repeat(doc_ids, lens)
        flat_pos = np.fromiter(
            (p for lst in pos_lists for p in lst), np.int64, total_tokens
        )
        # the flat stream is doc-major and position-nondecreasing within
        # each doc by construction, so ONE stable int sort on the term
        # code replaces the 3-key lexsort; the rare post-filter chain
        # that emits positions out of stream order falls back
        if total_tokens < 2 or bool(np.all(
            (np.diff(flat_pos) >= 0) | (np.diff(flat_docs) != 0)
        )):
            order = np.argsort(codes, kind="stable")
        else:
            order = np.lexsort((flat_pos, flat_docs, codes))
        c = codes[order]
        d = flat_docs[order]
        p = flat_pos[order]
        newg = np.empty(len(c), dtype=bool)
        newg[0] = True
        newg[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
        g_start = np.nonzero(newg)[0]
        g_codes = c[g_start]
        g_docs = d[g_start]
        g_tfs = np.diff(np.append(g_start, len(c))).astype(np.int32)
        # position deltas: first-in-doc absolute, then in-doc diffs
        delta = p.copy()
        delta[1:] -= p[:-1]
        delta[g_start] = p[g_start]
        delta = delta.astype(np.uint64)
        t_new = np.empty(len(g_codes), dtype=bool)
        t_new[0] = True
        t_new[1:] = g_codes[1:] != g_codes[:-1]
        t_start = np.nonzero(t_new)[0]
        t_bounds = np.append(t_start, len(g_codes))
        e_bounds = np.append(g_start, len(c))
        n_terms = len(t_start)
        # column-wise emit: per-term dicts cost more than the encode
        # itself at this call volume (~6k terms/segment)
        o_term = uniq_terms[g_codes[t_start]].tolist()
        o_df = (t_bounds[1:] - t_bounds[:-1]).astype(np.int64)
        o_cf = np.add.reduceat(
            g_tfs.astype(np.int64), t_bounds[:-1]
        ) if n_terms else np.empty(0, np.int64)
        o_doc, o_tf, o_skip, o_pos = [], [], [], []
        o_sdoc, o_stf = [], []
        for i in range(n_terms):
            glo, ghi = int(t_bounds[i]), int(t_bounds[i + 1])
            o_pos.append(encode_prox(delta[e_bounds[glo] : e_bounds[ghi]]))
            if ghi - glo == 1:
                o_doc.append(None)
                o_tf.append(None)
                o_skip.append(None)
                o_sdoc.append(int(g_docs[glo]))
                o_stf.append(int(g_tfs[glo]))
            else:
                docs_t = g_docs[glo:ghi]
                d_enc, t_enc, s_enc = encode_postings(
                    docs_t, g_tfs[glo:ghi], nb_lookup[docs_t - doc_base],
                    codec=codec,
                )
                o_doc.append(d_enc)
                o_tf.append(t_enc)
                o_skip.append(s_enc)
                o_sdoc.append(None)
                o_stf.append(None)
        cols = {
            "is_meta": [False] * n_terms,
            "term": o_term,
            "seg_id": np.full(n_terms, seg_id, np.int64),
            "df": o_df,
            "cf": o_cf,
            "doc_ids_enc": o_doc,
            "tfs_enc": o_tf,
            "skips_enc": o_skip,
            "pos_enc": o_pos,
            "pos_cnts": [None] * n_terms,
            "sdoc": o_sdoc,
            "stf": o_stf,
        }
    else:
        n_terms = 0
        cols = {"term": [], "doc_ids_enc": [], "tfs_enc": [],
                "skips_enc": []}
    # lineage stats computed in-pass: per-segment term range + encoded
    # byte volume ride the meta row, so the lineage step never re-reads
    # the postings output
    post_bytes = sum(
        len(v) for col in (cols["doc_ids_enc"], cols["tfs_enc"],
                           cols["skips_enc"])
        for v in col if v is not None
    )
    meta = {
        "is_meta": True, "term": None, "seg_id": seg_id, "df": None,
        "cf": None, "doc_ids_enc": None, "tfs_enc": None,
        "skips_enc": None, "pos_enc": None, "pos_cnts": None,
        "sdoc": None, "stf": None,
        "term_lo": cols["term"][0] if n_terms else None,
        "term_hi": cols["term"][-1] if n_terms else None,
        "post_bytes": post_bytes,
        "doc_base": doc_base, "doc_count": n_docs,
        "sum_len": total_tokens, "norms_enc": nb_lookup.tobytes(),
        "doc_lens_enc": len_lookup.astype("<i4").tobytes(),
        "input_sha256": input_sha,
        "repos": None if keys is None else list(keys["repo"]),
        "paths": None if keys is None else list(keys["path"]),
        "commits": None if keys is None else list(keys["commit"]),
        "langs": None if keys is None else list(keys["lang"]),
        "shas": list(shas) if keys is not None else None,
    }
    # one object column per output column: the postings values, then
    # the meta row's (postings rows leave the meta columns null, the
    # meta row the postings columns)
    out = {}
    for c in _OUT_COLS:
        v = cols.get(c)
        if v is None:
            v = [None] * n_terms
        elif isinstance(v, np.ndarray):
            v = v.tolist()
        out[c] = pd.Series([*v, meta[c]], dtype=object)
    return pd.DataFrame(out)


_OUT_COLS = [f.split()[0].strip(", ") for f in SEGMENT_OUT_SCHEMA.split(", ")]


_ARRAY_COLS = ("repos", "paths", "commits", "langs", "shas")


def make_stream_builder(offsets: Dict[int, int], dps: int,
                        analyzer: str = "standard",
                        codec: str = "for128"):
    """mapInPandas factory: the whole IndexWriter hot path in ONE pass.

    Input: the range-partitioned, key-sorted corpus (columns DOC_KEY +
    lang + content + _pid). Per partition, streaming over Arrow batches:
      - adjacent-duplicate keys collapse (updateDocuments one-row-per-key
        ingest semantics; keys are co-located and sorted, so dedup is a
        carry-aware adjacent compare),
      - dense docIDs: offsets[_pid] + running index (deterministic: the
        two-pass dense rank over (repo,path,commit), independent of
        parallelism),
      - sha256 per doc (the content invariant), tokenization (vectorized
        chain), and segment flush at every docID multiple of ``dps`` —
        a segment is a contiguous docID run within one dps-window, and
        ``seg_id = first docID`` (unique + ordered; the DWPT flush-unit
        analogue, index/DocumentsWriterPerThread.java).
    The corpus content crosses JVM->Python exactly once and is never
    shuffled again: postings, norms, doc-stats AND the stored-key arrays
    (docs table source) all leave in the same output."""

    def build_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        consumed: Dict[int, int] = {}
        carry = None
        last_bkt = None
        pend: Dict[str, list] = {
            "ids": [], "toks": [], "poss": [], "shas": [],
            "repo": [], "path": [], "commit": [], "lang": [],
        }

        def flush() -> Optional[pd.DataFrame]:
            if not pend["ids"]:
                return None
            out = invert_segment(
                int(pend["ids"][0]),
                np.asarray(pend["ids"], np.int64),
                pend["toks"], pend["poss"], pend["shas"],
                keys={k: pend[k] for k in ("repo", "path", "commit", "lang")},
                overlap_aware=get_analyzer(analyzer).emits_overlaps,
                codec=codec,
            )
            for v in pend.values():
                v.clear()
            return out

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = _first_occurrence_mask(pdf, carry)
            carry = tuple(pdf[c].iloc[-1] for c in DOC_KEY)
            pdf = pdf[mask]
            if len(pdf) == 0:
                continue
            bkts = pdf["_bkt"].to_numpy(np.int64)
            # rows are key-sorted and bucket order == key order, so
            # buckets form nondecreasing runs; docIDs continue each
            # bucket's dense range
            ids = np.empty(len(bkts), dtype=np.int64)
            run_starts = np.nonzero(
                np.diff(bkts, prepend=bkts[0] - 1)
            )[0].tolist() + [len(bkts)]
            for rlo, rhi in zip(run_starts[:-1], run_starts[1:]):
                b = int(bkts[rlo])
                seen = consumed.get(b, 0)
                ids[rlo:rhi] = offsets[b] + seen + np.arange(
                    rhi - rlo, dtype=np.int64
                )
                consumed[b] = seen + (rhi - rlo)
            contents = pdf["content"].tolist()
            toks, poss = get_analyzer(analyzer).tokenize_series_positions(
                contents
            )
            shas = [
                hashlib.sha256(c.encode("utf-8")).hexdigest()
                for c in contents
            ]
            # segment cuts: dps-aligned docID boundaries AND BUCKET
            # transitions — a pure function of (docID, bucket), so the
            # layout is INDEPENDENT of physical partition grouping,
            # AQE coalescing and Arrow chunk boundaries: any
            # parallelism level, any resume path, any speculative
            # re-execution yields a byte-identical segment layout.
            # (The former rule cut at docID DISCONTINUITIES, which
            # depend on whether id-adjacent buckets happened to share
            # a partition — observed as 3/445 lineage rows differing
            # between a resumed and a clean 327k build.) The id-jump
            # guard stays as a belt-and-braces cut.
            disc = np.nonzero((np.diff(bkts) != 0)
                              | (np.diff(ids) != 1))[0] + 1
            cuts = set(np.nonzero(ids % dps == 0)[0].tolist())
            cuts.update(disc.tolist())
            if pend["ids"] and (ids[0] != pend["ids"][-1] + 1
                                or int(bkts[0]) != last_bkt):
                cuts.add(0)
            last_bkt = int(bkts[-1])
            bounds = sorted({0, len(ids), *cuts})
            cols = {c: pdf[c].tolist() for c in ("repo", "path", "commit",
                                                 "lang")}
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                if lo in cuts and pend["ids"]:
                    out = flush()
                    if out is not None:
                        yield out
                pend["ids"].extend(ids[lo:hi].tolist())
                pend["toks"].extend(toks[lo:hi])
                pend["poss"].extend(poss[lo:hi])
                pend["shas"].extend(shas[lo:hi])
                for c in ("repo", "path", "commit", "lang"):
                    pend[c].extend(cols[c][lo:hi])
        out = flush()
        if out is not None:
            yield out

    return build_stream


class IndexWriter:
    """Builds (and resumes) the full index under `index_dir`."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
        n_batches: int = 4,
        analyzer: str = "standard",
        codec: str = "for128",
    ):
        self.spark = spark
        self.catalog = Catalog(index_dir)
        self.docs_per_segment = int(docs_per_segment)
        self.n_batches = int(n_batches)
        self.analyzer = get_analyzer(analyzer).name  # validate + pin
        from lucene_solr_spark.indexing.codec import CODEC_FAMILIES
        if codec not in CODEC_FAMILIES:
            raise ValueError(
                f"unknown codec {codec!r}; one of {CODEC_FAMILIES}")
        self.codec = codec  # write-side family, pinned in snapshot props

    # -- stage 1: plan (bounds + counts -> dense-rank offsets) ------------
    def _plan_snapshot(self, corpus: DataFrame, resume: bool) -> Snapshot:
        snap = self.catalog.latest_at_stage(
            "docs", "segments", "commit", "merge", "delete"
        )
        if resume and snap is not None:
            return snap
        # bounds recorded in props, so every job and every resumed
        # process reproduces the identical bucketing
        bounds = compute_key_bounds(corpus, self.n_batches)
        counts = count_keys_per_bucket(corpus, bounds)
        _, n_docs = offsets_from_counts(counts)
        return self.catalog.commit(
            "docs",
            tables={},
            props={
                "n_docs": n_docs,
                "docs_per_segment": self.docs_per_segment,
                "n_batches": self.n_batches,
                "analyzer": self.analyzer,
                "codec": self.codec,
                "key_bounds": bounds,
                "counts": {str(k): v for k, v in counts.items()},
            },
        )

    # -- stage 2: segments (batched, resumable, single-pass) --------------
    def build(self, corpus: DataFrame, resume: bool = True) -> Snapshot:
        """The whole write path (SURVEY.md section 3.2) in its scalable
        shape: ONE wide shuffle (bucket the corpus by doc key against
        snapshot-recorded deterministic bounds), ONE JVM->Python Arrow
        crossing (make_stream_builder: dedup + docIDs + sha256 +
        tokenize + invert + encode), then narrow aggregates. Batches =
        contiguous BUCKET ranges (bucket = f(key, stored bounds), never
        a physical partition id), so a kill/resume in a fresh process
        rebuilds exactly the remaining docID ranges."""
        # AQE on for the duration of the build only (coalesce/skew help
        # the wide shuffle); restore the caller's setting afterwards —
        # no permanent flip of shared-session conf (ADVICE r1).
        prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "true")
        try:
            return self._build_inner(corpus, resume)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def _build_inner(self, corpus: DataFrame, resume: bool) -> Snapshot:
        snap = self._plan_snapshot(corpus, resume)
        if snap.stage in ("commit", "merge", "delete") and resume:
            return snap
        props = snap.props
        dps = int(props.get("docs_per_segment", self.docs_per_segment))
        n_batches = int(props.get("n_batches", self.n_batches))
        bounds = list(props["key_bounds"])
        NB = len(bounds) + 1
        counts = {int(k): int(v) for k, v in props["counts"].items()}
        offsets, _ = offsets_from_counts(counts)
        bpb = max((NB + n_batches - 1) // n_batches, 1)

        done = set(snap.props.get("batches_done", []))
        if snap.stage == "docs":
            done = set()
        lineage_acc = list(snap.lineage) if snap.stage == "segments" else []
        keyed = _keyed_corpus(corpus, bounds)
        analyzer = props.get("analyzer", "standard")
        # the counts pass shuffles only the key columns (Catalyst prunes
        # content below the exchange), so with one batch the corpus
        # content is shuffled exactly once, by the segment pass. Spark
        # does NOT reuse a shuffle across separate actions, so multi-
        # batch builds cache the shuffled corpus instead of re-shuffling
        # it per batch job.
        if n_batches - len(done) > 1:
            keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        builder = make_stream_builder(offsets, dps, analyzer,
                                      codec=props.get("codec", "for128"))
        for b in range(n_batches):
            lo = b * bpb
            if lo >= NB:
                break
            if b in done:
                continue
            hi = min((b + 1) * bpb, NB)
            part = keyed.filter(
                (F.col("_bkt") >= lo) & (F.col("_bkt") < hi)
            )
            out = part.mapInPandas(builder, schema=SEGMENT_OUT_SCHEMA)
            path = self.catalog.path("seg", f"batch={b}")
            out.write.mode("overwrite").partitionBy("is_meta").parquet(path)
            lineage_acc.extend(self._batch_lineage(path, b))
            done.add(b)
            self.catalog.commit(
                "segments",
                tables={},
                props={**props, "batches_done": sorted(done)},
                lineage=lineage_acc,
            )
        keyed.unpersist()
        return self._finalize(props, sorted(done), lineage_acc)

    def _batch_lineage(self, path: str, batch: int) -> List[dict]:
        # meta rows carry the per-segment stats (computed in the build
        # pass): one pruned read of the is_meta=true partition only
        rows = (
            _read_combined(self.spark, path, path)
            .filter(_is_meta_col())
            .select("seg_id", "doc_count", "input_sha256", "term_lo",
                    "term_hi", "post_bytes")
            .collect()
        )
        return [
            dict(
                partition_id=int(r["seg_id"]),
                batch=batch,
                term_range_lo=r["term_lo"],
                term_range_hi=r["term_hi"],
                doc_count=int(r["doc_count"]),
                bytes=int(r["post_bytes"] or 0),
                input_sha256=r["input_sha256"],
            )
            for r in rows
        ]

    # -- stage 3: stats + commit -----------------------------------------
    def _finalize(self, props: dict, done: List[int], lineage: List[dict]) -> Snapshot:
        batch_paths = [self.catalog.path("seg", f"batch={b}") for b in done]
        postings, meta = read_segment_output(
            self.spark, batch_paths, self.catalog.path("seg")
        )
        term_stats_path = self.catalog.path("stats", "term_stats")
        write_term_stats(
            postings.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
            term_stats_path, int(props.get("n_docs", 0)),
        )
        agg = meta.agg(
            F.sum("doc_count").alias("max_doc"), F.sum("sum_len").alias("sum_ttf")
        ).collect()[0]
        coll = {
            "max_doc": int(agg["max_doc"] or 0),
            "sum_total_term_freq": int(agg["sum_ttf"] or 0),
        }
        coll_path = self.catalog.path("stats", "collection.json")
        os.makedirs(os.path.dirname(coll_path), exist_ok=True)
        with open(coll_path, "w") as f:
            json.dump(coll, f)
        docs_path = self.catalog.path("docs")
        write_docs_table(
            self.spark, batch_paths, self.catalog.path("seg"), docs_path
        )
        dps = int(props.get("docs_per_segment", self.docs_per_segment))
        return self.catalog.commit(
            "commit",
            tables={
                "docs": docs_path,
                "postings": batch_paths,
                "segments": batch_paths,
                "term_stats": term_stats_path,
                "collection_stats": coll_path,
            },
            # group_factor is in DOC units: scoring group g covers
            # doc_ids [g*gf, (g+1)*gf). Initial gf = docs_per_segment
            # (a segment never crosses a dps-aligned boundary).
            props={**props, "batches_done": done, "group_factor": dps,
                   "format_version": FORMAT_VERSION, **coll},
            lineage=lineage,
        )


def write_docs_table(
    spark: SparkSession, batch_paths, base_path: str, docs_path: str,
    mode: str = "overwrite",
) -> None:
    """Explode the per-segment stored-key arrays (meta rows) into the
    relational docs table (doc_id, repo, path, commit, lang,
    content_sha256). Narrow and parallel: content never re-read; doc_id
    = doc_base + position in the arrays (docIDs are contiguous within a
    segment by construction)."""
    _, meta = read_segment_output(spark, batch_paths, base_path)
    z = F.arrays_zip(
        F.col("repos").alias("repo"), F.col("paths").alias("path"),
        F.col("commits").alias("commit"), F.col("langs").alias("lang"),
        F.col("shas").alias("content_sha256"),
    )
    (
        meta.select("doc_base", F.posexplode(z).alias("i", "kv"))
        .select(
            (F.col("doc_base") + F.col("i")).alias("doc_id"),
            F.col("kv.repo").alias("repo"),
            F.col("kv.path").alias("path"),
            F.col("kv.commit").alias("commit"),
            F.col("kv.lang").alias("lang"),
            F.col("kv.content_sha256").alias("content_sha256"),
        )
        .write.mode(mode).parquet(docs_path)
    )


# -- merge (forceMerge / SegmentMerger analogue) ---------------------------

MERGED_SCHEMA = (
    "term string, seg_id long, df long, cf long, doc_ids_enc binary, "
    "tfs_enc binary, skips_enc binary, pos_enc binary, pos_cnts binary, "
    "sdoc long, stf long"
)
_MERGED_COLS = [f.split()[0] for f in MERGED_SCHEMA.split(", ")]


def _make_merge_udf(new_gfac: int):
    """Factory for the per-(term, group) merge kernel.

    Invariant maintained inductively: seg_id is in DOC units (a segment
    row's seg_id is >= its group's first docID and < the next group's).
    A merged row carries gid * new_gfac + chunk_index — ascending with
    the chunk's doc range and inside the group's docID window (chunk
    count per group is bounded far below new_gfac by
    MAX_POSTINGS_PER_ROW), so `seg_id // group_factor` addresses the
    same scoring group for postings and segment norms at any number of
    successive merges, and sorting rows by seg_id always yields
    ascending disjoint doc ranges."""
    from lucene_solr_spark.constants import MAX_POSTINGS_PER_ROW

    def _merge_one_term(term, gid, lo, hi, c_df, c_cf, c_doc, c_tf,
                        c_skip, c_pos, c_pcnt, c_sdoc, c_stf) -> List[dict]:
        """Merge one term's rows [lo, hi) (pre-sorted by seg_id = doc
        order). Every posting row is a self-contained sequence of
        blocks (codec v4 stores each block's docID base in its skip
        entry), so merging is byte concatenation + skip-offset rebase —
        surviving blocks are NEVER decoded. Only df==1 singletons get
        (re-)encoded, into 1-posting parts. Prox streams concatenate
        too; per-part delta counts ride in pos_cnts for the decoder."""
        has_pos = all(c_pos[i] is not None for i in range(lo, hi))
        # (doc_enc, tf_enc, skip_enc, df, cf, sdoc, pos_enc, pos_cnts)
        parts = []
        for i in range(lo, hi):
            if c_df[i] == 1:
                stf = int(c_stf[i])
                d_enc, t_enc, s_enc = encode_postings(
                    np.array([c_sdoc[i]], np.int64),
                    np.array([stf], np.int32),
                    # no per-doc norm at hand: 255 (=shortest quantized
                    # doc) is a SAFE, loose block-max bound for WAND
                    np.array([255], np.uint8),
                )
                pcnt = (np.array([stf], "<i8") if has_pos else None)
                parts.append((d_enc, t_enc, s_enc, 1, stf,
                              int(c_sdoc[i]), c_pos[i], pcnt))
            else:
                if has_pos:
                    pcnt = (np.frombuffer(c_pcnt[i], "<i8")
                            if c_pcnt[i] is not None
                            else np.array([int(c_cf[i])], "<i8"))
                else:
                    pcnt = None
                parts.append((c_doc[i], c_tf[i], c_skip[i], int(c_df[i]),
                              int(c_cf[i]), None, c_pos[i], pcnt))

        out: List[dict] = []
        base_seg = gid * new_gfac

        def emit(chunk, j):
            assert j < new_gfac, (
                "chunk count exceeds group_factor — raise "
                "MAX_POSTINGS_PER_ROW or merge less"
            )
            sid = base_seg + j  # distinct, ordered: doc order on read
            df = sum(p[3] for p in chunk)
            cf = sum(p[4] for p in chunk)
            pos_b = b"".join(p[6] for p in chunk) if has_pos else None
            if df == 1:
                out.append(dict(term=term, seg_id=sid, df=1, cf=cf,
                                doc_ids_enc=None, tfs_enc=None,
                                skips_enc=None, pos_enc=pos_b,
                                pos_cnts=None,
                                sdoc=chunk[0][5], stf=cf))
                return
            d_enc, t_enc, s_enc = concat_postings(
                [(p[0], p[1], p[2]) for p in chunk]
            )
            pc = (np.concatenate([p[7] for p in chunk]).astype("<i8")
                  .tobytes() if has_pos else None)
            out.append(dict(term=term, seg_id=sid, df=df, cf=cf,
                            doc_ids_enc=d_enc, tfs_enc=t_enc,
                            skips_enc=s_enc, pos_enc=pos_b, pos_cnts=pc,
                            sdoc=None, stf=None))

        chunk, cnt, j = [], 0, 0
        for p in parts:
            if chunk and cnt + p[3] > MAX_POSTINGS_PER_ROW:
                emit(chunk, j)
                j += 1
                chunk, cnt = [], 0
            chunk.append(p)
            cnt += p[3]
        if chunk:
            emit(chunk, j)
        return out

    def _merge_gid_udf(key, pdf):
        """One applyInPandas call per (group, term-bucket): the reducer
        payload stays bounded by the group's doc range — same salt
        guarantee — while the task count is n_gids x n_buckets. One
        frame-level sort, then raw numpy column slices per term (no
        per-term pandas frames)."""
        gid = int(key[0])
        pdf = pdf.sort_values(["term", "seg_id"], kind="stable",
                              ignore_index=True)
        terms = pdf["term"].to_numpy(dtype=object)
        c_df = pdf["df"].to_numpy(np.int64)
        c_cf = pdf["cf"].to_numpy(np.int64)
        c_doc = pdf["doc_ids_enc"].to_numpy(dtype=object)
        c_tf = pdf["tfs_enc"].to_numpy(dtype=object)
        c_skip = pdf["skips_enc"].to_numpy(dtype=object)
        if "pos_enc" in pdf.columns:
            c_pos = pdf["pos_enc"].to_numpy(dtype=object)
        else:
            c_pos = np.full(len(pdf), None, dtype=object)
        if "pos_cnts" in pdf.columns:
            c_pcnt = pdf["pos_cnts"].to_numpy(dtype=object)
        else:
            c_pcnt = np.full(len(pdf), None, dtype=object)
        c_sdoc = pdf["sdoc"].to_numpy(dtype=object)
        c_stf = pdf["stf"].to_numpy(dtype=object)
        n = len(pdf)
        rows: List[dict] = []
        lo = 0
        while lo < n:
            hi = lo + 1
            t = terms[lo]
            while hi < n and terms[hi] == t:
                hi += 1
            rows.extend(
                _merge_one_term(t, gid, lo, hi, c_df, c_cf, c_doc, c_tf,
                                c_skip, c_pos, c_pcnt, c_sdoc, c_stf)
            )
            lo = hi
        if not rows:
            return pd.DataFrame(
                {c: pd.Series(dtype=object) for c in _MERGED_COLS}
            )
        return pd.DataFrame(rows)[_MERGED_COLS]

    return _merge_gid_udf


def merge_postings(
    spark: SparkSession, index_dir: str, segs_per_group: int = 16
) -> Snapshot:
    """Salted segment merge: shuffle key (term, seg_id // segs_per_group)
    — the salt bounds every reducer's payload by the group's doc range,
    so skewed high-DF terms are split BY CONSTRUCTION (AQE cannot do
    this: the skew lives inside a single groupBy key whose payload is
    order-sensitive; SURVEY.md section 2.4 'segment merge' row)."""
    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise ValueError("no committed index to merge")
    sdf = read_postings_any(spark, snap.tables["postings"])
    gf_old = int(snap.props.get("group_factor", 1))
    gfac = gf_old * int(segs_per_group)
    # group key over ORIGINAL segment units (see _make_merge_udf invariant)
    with_gid = sdf.withColumn(
        "gid", (F.col("seg_id") / F.lit(gfac)).cast("long")
    )
    # second salt dimension: term-hash bucket. The merge kernel is
    # per-term, so bucketing terms only raises task-level parallelism —
    # output rows are identical. Without it the task count is n_gids,
    # which underfills the cluster after heavy compaction (the measured
    # 8->32-core merge speedup was 1.09x before this).
    par = spark.sparkContext.defaultParallelism
    n_gids = max(-(-int(snap.props.get("max_doc", 0)) // gfac), 1)
    n_buckets = max(1, -(-4 * par // n_gids))
    with_gid = with_gid.withColumn(
        "tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    merged = with_gid.select(
        "term", "gid", "tb", "seg_id", "df", "cf", "doc_ids_enc", "tfs_enc",
        "skips_enc", "pos_enc", "pos_cnts", "sdoc", "stf"
    ).groupBy("gid", "tb").applyInPandas(
        _make_merge_udf(gfac), schema=MERGED_SCHEMA
    )
    gen = snap.snapshot_id + 1
    out_path = cat.path("merged", f"gen-{gen}")
    # the file count follows from the data, like term_stats: files are
    # term-sorted with disjoint term ranges at any core count. Range
    # bounds over several files come from a sampling job, so the kernel
    # output is persisted across it instead of being merged twice.
    n_files = term_stats_files(int(snap.props.get("max_doc", 0)))
    if n_files > 1:
        merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
    (
        merged.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term", "seg_id")
        .write.mode("overwrite").parquet(out_path)
    )
    merged.unpersist()
    tables = dict(snap.tables)
    tables["postings"] = out_path
    return cat.commit(
        "merge",
        tables=tables,
        props={**snap.props, "group_factor": gfac},
        lineage=snap.lineage,
    )


def maybe_compact(
    spark: SparkSession, index_dir: str,
    max_generations: int = 10, segs_per_group: int = 16,
) -> Optional[Snapshot]:
    """Tiered-compaction policy (TieredMergePolicy analogue,
    lucene/core/.../index/TieredMergePolicy.java:81-87 — '<= 10 segments
    per tier' is the reference default this mirrors at generation
    granularity): trigger the salted merge only when the number of live
    postings storage generations exceeds ``max_generations``. Returns
    the merge snapshot, or None when no compaction was needed. The NRT
    sink calls this after every micro-batch append, so read-side row
    counts stay bounded under continuous ingestion."""
    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        return None
    gens = _as_list(snap.tables.get("postings", []))
    if len(gens) <= max_generations:
        return None
    return merge_postings(spark, index_dir, segs_per_group=segs_per_group)


# -- incremental append + deletes (NRT / updateDocuments tier) --------------

def _as_list(x) -> List[str]:
    return x if isinstance(x, list) else [x]


def append_documents(
    spark: SparkSession, index_dir: str, corpus: DataFrame,
) -> Snapshot:
    """Incremental index append — the NRT segment-flush analogue
    (DirectoryReader.open(writer) sees new in-RAM segments,
    index/StandardDirectoryReader.java; SURVEY.md section 2.10): new
    docs get the next dense docID range, form fresh segments appended
    as a new storage generation, and stats are updated incrementally —
    no touch of existing postings. Keys already present are tombstoned
    first (IndexWriter.updateDocuments delete-then-add semantics,
    IndexWriter.java:1257).

    An index held on the driver (held_on_driver) takes a batch of at
    most DOCS_PER_BUCKET rows (one key bucket) in-process, like
    Lucene's in-process flush: the batch's rows are collected (no Spark
    job for a local pandas-backed batch) and go through the same
    segment kernel, written with pyarrow. Bigger indexes and batches
    run the Spark plan (_append_spark)."""
    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise ValueError("append requires a committed index")
    props = dict(snap.props)
    n0 = int(props["max_doc"])
    # Crash-safe append protocol: every write in this function targets a
    # NEW generation-specific path; the ONE snapshot commit at the end
    # flips visibility (docs list + stats + tombstones together). A
    # crash anywhere before the commit leaves the live snapshot
    # untouched, and an NRT replay recomputes gen from the unchanged
    # snapshot_id and overwrites the same staging paths — idempotent
    # (IndexWriter two-phase commit semantics, IndexWriter.java
    # prepareCommit/commit; ADVICE r1: no in-place mutation of the live
    # docs table, no separate delete commit).
    gen = snap.snapshot_id + 1
    paths = {
        "seg": cat.path("seg", f"append-{gen}"),
        "docs": cat.path("docs_gen", f"gen-{gen}"),
        "term_stats": cat.path("stats", f"term_stats_gen{gen}"),
        "tombstones": cat.path("tombstones", f"gen-{gen}"),
    }
    # the bounded key take decides whether the batch fits one bucket;
    # only such a batch's whole rows come to the driver, and a bigger
    # one's Spark plan reuses the bounds
    bounds = compute_key_bounds(corpus)
    if (getattr(bounds, "keys", None) is not None
            and held_on_driver(n0, postings_bytes(snap.tables["postings"]))):
        n_new = _append_local(snap, corpus.collect(), paths)
    else:
        n_new = _append_spark(spark, snap, corpus, bounds, paths,
                              cat.path("seg"))
    if n_new == 0:
        return snap
    # the delta's collection stats sum its few meta rows: read on the
    # driver (like IndexSearcher._lookup_dfs), not by a Spark job
    meta = pq.read_table(os.path.join(paths["seg"], "is_meta=true"),
                         columns=["doc_count", "sum_len"])
    coll = {
        "max_doc": n0 + int(pc.sum(meta["doc_count"]).as_py() or 0),
        "sum_total_term_freq": int(props["sum_total_term_freq"])
        + int(pc.sum(meta["sum_len"]).as_py() or 0),
    }
    coll_path = cat.path("stats", f"collection_gen{gen}.json")
    with open(coll_path, "w") as f:
        json.dump(coll, f)

    tables = dict(snap.tables)
    tables["postings"] = _as_list(tables["postings"]) + [paths["seg"]]
    tables["segments"] = _as_list(tables["segments"]) + [paths["seg"]]
    tables["docs"] = _as_list(tables["docs"]) + [paths["docs"]]
    tables["term_stats"] = paths["term_stats"]
    tables["collection_stats"] = coll_path
    tables["tombstones"] = paths["tombstones"]
    return cat.commit(
        "commit",
        tables=tables,
        props={
            **props,
            **coll,
            "n_docs": coll["max_doc"],
        },
        lineage=snap.lineage,
    )


def _append_spark(spark: SparkSession, snap: Snapshot, corpus: DataFrame,
                  bounds: List[str], paths: Dict[str, str],
                  seg_base: str) -> int:
    """append_documents' writes as Spark jobs, over the key ``bounds``
    of compute_key_bounds; returns the number of new docs (0: nothing
    written)."""
    props = snap.props
    n0 = int(props["max_doc"])
    dps = int(props.get("docs_per_segment", DEFAULT_DOCS_PER_SEGMENT))
    # same single-pass shape as build: one range shuffle of the delta,
    # one Arrow crossing; new docIDs continue the dense space at n0, so
    # appended segments (seg_id = doc_base >= n0) slot into existing
    # scoring groups by construction
    keyed = _keyed_corpus(corpus, bounds)
    counts = count_keys_per_bucket(corpus, bounds)
    offsets, n_new = offsets_from_counts(counts, base=n0)
    if n_new == 0:
        return 0
    (
        keyed.mapInPandas(
            make_stream_builder(
                offsets, dps, props.get("analyzer", "standard"),
                codec=props.get("codec", "for128"),
            ),
            schema=SEGMENT_OUT_SCHEMA,
        )
        .write.mode("overwrite").partitionBy("is_meta")
        .parquet(paths["seg"])
    )
    write_docs_table(spark, paths["seg"], seg_base, paths["docs"])

    # incremental stats: old + delta in one aggregation, never a full
    # re-aggregation of the postings
    apost, _ = read_segment_output(spark, paths["seg"], seg_base)
    old_ts = read_table(spark, TERM_STATS_SCHEMA, snap.tables["term_stats"])
    write_term_stats(
        old_ts.unionByName(apost.select("term", "df", "cf"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        paths["term_stats"], n0 + n_new,
    )
    # updateDocuments: old versions of replaced keys become tombstones
    # in the SAME commit as the appended docs (delete-then-add is one
    # atomic visibility flip, IndexWriter.java:1257 updateDocuments),
    # unioned into the one generation-specific tombstone write
    tomb = (
        read_table(spark, DOCS_SCHEMA, snap.tables["docs"])
        .join(corpus.select(*DOC_KEY), DOC_KEY, "left_semi")
        .select("doc_id")
    )
    old_tomb = snap.tables.get("tombstones")
    if old_tomb:
        tomb = tomb.unionByName(
            read_table(spark, TOMBSTONES_SCHEMA, old_tomb))
    tomb.distinct().coalesce(1).write.mode("overwrite").parquet(
        paths["tombstones"])
    return n_new


def _read_arrow(paths, ddl: str, columns=None) -> pa.Table:
    """Engine-written parquet path(s) read on the driver with pyarrow,
    under the declared schema ``ddl``."""
    schema = _arrow_schema(ddl)
    return pa.concat_tables([
        pa_ds.dataset(p, schema=schema, format="parquet")
        .to_table(columns=columns)
        for p in _as_list(paths)
    ])


def _write_tombstones(old: Optional[str], ids, path: str) -> None:
    """The old tombstones (path, or None) plus the docIDs ``ids``,
    unique, as one tombstone file — the Spark writers'
    ``distinct().coalesce(1)``."""
    tbl = pa.table({"doc_id": ids}).cast(_arrow_schema(TOMBSTONES_SCHEMA))
    if old:
        tbl = pa.concat_tables([tbl, _read_arrow(old, TOMBSTONES_SCHEMA)])
    _write_parquet(tbl.group_by("doc_id").aggregate([]).sort_by("doc_id"),
                   path)


def _docs_from_meta(meta: pa.Table) -> pa.Table:
    """write_docs_table's explode of the meta rows' key arrays, on the
    driver: doc_id = doc_base + position in the arrays."""
    lens = pc.list_value_length(meta["repos"]).to_numpy()
    first = np.cumsum(lens) - lens
    doc_id = (np.repeat(meta["doc_base"].to_numpy(), lens)
              + np.arange(int(lens.sum())) - np.repeat(first, lens))
    return pa.table(
        [doc_id, *(pc.list_flatten(meta[c]) for c in _ARRAY_COLS)],
        schema=_arrow_schema(DOCS_SCHEMA))


def _append_local(snap: Snapshot, rows: list, paths: Dict[str, str]) -> int:
    """append_documents' writes in the driver process, for a batch of
    at most DOCS_PER_BUCKET rows (one key bucket): the same kernel and
    the same tables at the same paths as _append_spark, written with
    pyarrow. Returns the number of new docs (0: nothing written)."""
    if not rows:
        return 0
    props = snap.props
    n0 = int(props["max_doc"])
    # the order sortWithinPartitions(*DOC_KEY) hands the kernel: nulls
    # first, then code-point (== UTF-8 byte) order; stable, so a key
    # repeated in the batch keeps its first row, as on Spark
    rows = sorted(rows, key=lambda r: tuple(
        (r[c] is not None, r[c] or "") for c in DOC_KEY))
    pdf = pd.DataFrame({
        c: pd.Series([r[c] for r in rows], dtype=object)
        for c in (*DOC_KEY, "lang", "content")})
    pdf["_bkt"] = 0
    builder = make_stream_builder(
        {0: n0}, int(props.get("docs_per_segment", DEFAULT_DOCS_PER_SEGMENT)),
        props.get("analyzer", "standard"), codec=props.get("codec", "for128"))
    schema = _arrow_schema(SEGMENT_OUT_SCHEMA)
    out = pa.concat_tables(
        pa.Table.from_pandas(f, schema=schema, preserve_index=False)
        for f in builder(iter([pdf])))
    is_meta = out["is_meta"]
    meta = out.filter(is_meta).drop_columns(["is_meta"])
    posts = out.filter(pc.invert(is_meta)).drop_columns(["is_meta"])
    # the is_meta partition directories partitionBy("is_meta") writes
    shutil.rmtree(paths["seg"], ignore_errors=True)
    for flag, part in (("true", meta), ("false", posts)):
        if part.num_rows:
            _write_parquet(part, os.path.join(paths["seg"], f"is_meta={flag}"))
    _write_parquet(_docs_from_meta(meta), paths["docs"])

    n_new = int(pc.sum(meta["doc_count"]).as_py())
    stats = pa.concat_tables([
        _read_arrow(snap.tables["term_stats"], TERM_STATS_SCHEMA),
        posts.select(["term", "df", "cf"]).cast(
            _arrow_schema(TERM_STATS_SCHEMA)),
    ]).group_by("term").aggregate([("df", "sum"), ("cf", "sum")])
    stats = pa.table([stats["term"], stats["df_sum"], stats["cf_sum"]],
                     names=["term", "df", "cf"]).sort_by("term")
    _write_parquet(stats, paths["term_stats"], term_stats_files(n0 + n_new))

    # replaced keys: the docs whose key is in the batch (an equi-join
    # key, so a key with a null part never matches)
    keys = {tuple(r[c] for c in DOC_KEY) for r in rows}
    keys = [k for k in keys if None not in k]
    batch = pa.table({c: pa.array([k[i] for k in keys], pa.string())
                      for i, c in enumerate(DOC_KEY)})
    replaced = _read_arrow(snap.tables["docs"], DOCS_SCHEMA,
                           ["doc_id", *DOC_KEY]).join(
        batch, DOC_KEY, join_type="left semi")["doc_id"]
    _write_tombstones(snap.tables.get("tombstones"), replaced,
                      paths["tombstones"])
    return n_new


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame
) -> Snapshot:
    """Tombstone a set of docIDs (LiveDocsFormat analogue): deletes are
    a new snapshot generation carrying a tombstones table; postings are
    untouched and masked at scorer level. Collection/term stats keep
    counting deleted docs until a rebuild — exactly Lucene's maxDoc
    semantics for BM25 (BM25Similarity.java:150-170 uses maxDoc). On
    an index held on the driver the only Spark work is the collect of
    ``doc_ids``; the tombstones are written with pyarrow."""
    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise ValueError("no committed index")
    df = doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
    old = snap.tables.get("tombstones")
    gen = snap.snapshot_id + 1
    path = cat.path("tombstones", f"gen-{gen}")
    if held_on_driver(int(snap.props["max_doc"]),
                      postings_bytes(snap.tables["postings"])):
        _write_tombstones(old, pa.array([r[0] for r in df.collect()],
                                        pa.int64()), path)
    else:
        if old:
            df = df.unionByName(read_table(spark, TOMBSTONES_SCHEMA, old))
        df.distinct().coalesce(1).write.mode("overwrite").parquet(path)
    tables = dict(snap.tables)
    tables["tombstones"] = path
    return cat.commit(
        "delete", tables=tables, props=snap.props, lineage=snap.lineage
    )


def delete_by_query(
    spark: SparkSession, index_dir: str, query_text: str
) -> Snapshot:
    """delete-by-term(s): docs containing ANY analyzed term of
    query_text (IndexWriter.deleteDocuments(Term...),
    IndexWriter.java:1309)."""
    from lucene_solr_spark.search.executor import IndexSearcher, terms_in

    searcher = IndexSearcher(spark, index_dir)
    terms = searcher.analyzer.analyze(query_text)
    if not terms:
        return searcher.snap
    docs = searcher.match_docs(terms_in(terms))
    return delete_docs(spark, index_dir, docs)
