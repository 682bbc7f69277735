"""Fixed Spark work of the NRT write -> reopen cycle (append, delete,
searcher open, compaction), counted per call under its own job group:
engine tables are read with declared schemas (no footer-inference job),
a searcher opens in at most three jobs, a one-bucket append plans its
key buckets without a Spark job, and compaction runs its merge kernel
once over every input row. Neither the open nor the compaction makes
PySpark warn that it cannot infer a pandas UDF's eval type."""

import functools
import os
import random
import warnings

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from lucene_solr_spark.catalog import Catalog
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row
from lucene_solr_spark.indexing import build
from lucene_solr_spark.indexing.build import (
    IndexWriter,
    append_documents,
    compute_key_bounds,
    count_keys_per_bucket,
    delete_docs,
    maybe_compact,
    read_postings_any,
)
from lucene_solr_spark.search.executor import IndexSearcher

VOCAB = [f"w{i:02d}" for i in range(30)]


def _docs(lo, hi, seed, key_of=row):
    rnd = random.Random(seed)
    return [{**key_of(i), "content": " ".join(rnd.choices(VOCAB, k=8))}
            for i in range(lo, hi)]


def _index(spark, d):
    """A 2-batch build, tombstones, then an append that replaces keys."""
    IndexWriter(spark, d, docs_per_segment=32, n_batches=2,
                analyzer="whitespace").build(spark.createDataFrame(
                    _docs(0, 120, 1), schema=CORPUS_SCHEMA))
    delete_docs(spark, d, spark.createDataFrame([(4,), (70,)],
                                                "doc_id long"))
    append_documents(spark, d, spark.createDataFrame(
        _docs(120, 150, 2) + _docs(0, 6, 3), schema=CORPUS_SCHEMA))
    return d


def _eval_type_warnings(fn):
    """(result, PySpark 'Cannot infer the eval type' warnings fn raised)."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = fn()
    return out, [w for w in caught
                 if "Cannot infer the eval type" in str(w.message)]


def _jobs(sc, group, fn):
    """(result, number of Spark jobs fn ran)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def undeclared_reads(monkeypatch):
    """Paths read with DataFrameReader.parquet and no declared schema:
    each such read runs Spark's parquet footer-inference job."""
    seen = []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._lss_declared = True
        return real_schema(self, s)

    def parquet(self, *paths, **kw):
        if not getattr(self, "_lss_declared", False):
            seen.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return seen


def test_nrt_calls_read_engine_tables_with_declared_schemas(
        spark, tmp_path, undeclared_reads):
    d = _index(spark, str(tmp_path / "idx"))
    append_documents(spark, d, spark.createDataFrame(
        _docs(150, 170, 4) + _docs(10, 14, 5), schema=CORPUS_SCHEMA))
    delete_docs(spark, d, spark.createDataFrame([(9,)], "doc_id long"))
    s = IndexSearcher(spark, d)
    assert s.search("w01 w02", k=5).collect()
    assert maybe_compact(spark, d, max_generations=1,
                         segs_per_group=2) is not None
    assert undeclared_reads == []


def test_nrt_calls_read_engine_tables_with_declared_schemas_on_spark(
        spark, tmp_path, undeclared_reads, spark_writers):
    test_nrt_calls_read_engine_tables_with_declared_schemas(
        spark, tmp_path, undeclared_reads)


def test_searcher_opens_a_tombstoned_index_in_three_jobs(spark, tmp_path):
    d = _index(spark, str(tmp_path / "idx"))
    assert Catalog(d).latest().tables.get("tombstones")
    (s, n_jobs), warned = _eval_type_warnings(lambda: _jobs(
        spark.sparkContext, "nrt-open", lambda: IndexSearcher(spark, d)))
    assert n_jobs <= 3
    assert warned == []
    assert s._segs_bc is not None
    assert s.n_groups == len(s._segs_bc.value)
    # the broadcast map carries the tombstones
    deleted = {
        int(x) for p in s._segs_bc.value.values()
        for blob in p["deleted_enc"] if blob is not None
        for x in np.frombuffer(blob, "<i8")}
    assert {4, 70} <= deleted


@pytest.mark.parametrize("source", ["pandas", "rows"])
def test_one_bucket_append_plans_without_a_job(spark, source):
    """A corpus that fits one key bucket (an NRT micro-batch) is
    neither counted nor sampled: a local pandas batch, the shape NRT
    appends get, is planned without any Spark job. Any other source
    pays the bounded take of its keys once per plan: the count reuses
    the keys compute_key_bounds took (2 jobs for the row-list source;
    4 when each pass took them). The plan equals the aggregate's answer
    for any source."""
    rows = _docs(0, 40, 6) + _docs(0, 5, 7)   # 5 duplicate keys
    corpus = spark.createDataFrame(
        pd.DataFrame(rows) if source == "pandas" else rows,
        schema=CORPUS_SCHEMA)
    sc = spark.sparkContext
    bounds, n_bounds = _jobs(sc, f"nrt-bounds-{source}",
                             lambda: compute_key_bounds(corpus))
    counts, n_counts = _jobs(sc, f"nrt-counts-{source}",
                             lambda: count_keys_per_bucket(corpus, bounds))
    if source == "pandas":
        assert (n_bounds, n_counts) == (0, 0)
    else:
        assert n_counts == 0 and n_bounds + n_counts == 2
    want = corpus.agg(F.count_distinct(
        F.struct("repo", "path", "commit"))).first()[0]
    assert bounds == [] and counts == {0: want} and want == 40


def _merged_files(snap):
    """Rows of each merged postings file, in part order."""
    path = snap.tables["postings"]
    return [pq.read_table(os.path.join(path, f)).to_pylist()
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


@pytest.mark.parametrize("docs_per_file", [None, 64],
                         ids=["one_file", "three_files"])
def test_compaction_merges_each_row_once(spark, tmp_path, monkeypatch,
                                         docs_per_file):
    # several cores: the range repartition of the merged rows would
    # sample them (and re-run the kernel) if the file count followed it
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 4))
    if docs_per_file:
        monkeypatch.setattr(build, "DOCS_PER_TERM_STATS_FILE", docs_per_file)
    d = _index(spark, str(tmp_path / "idx"))
    snap = Catalog(d).latest()
    n_rows = read_postings_any(spark, snap.tables["postings"]).count()
    sc = spark.sparkContext
    seen = sc.accumulator(0)
    real = build._make_merge_udf

    def counting(new_gfac):
        kernel = real(new_gfac)

        @functools.wraps(kernel)  # the kernel's signature, type hints too
        def run(key, pdf):
            seen.add(len(pdf))
            return kernel(key, pdf)

        return run

    monkeypatch.setattr(build, "_make_merge_udf", counting)
    merged, warned = _eval_type_warnings(lambda: maybe_compact(
        spark, d, max_generations=1, segs_per_group=2))
    assert merged is not None and seen.value == n_rows
    assert warned == []
    files = _merged_files(merged)
    assert len(files) == build.term_stats_files(int(merged.props["max_doc"]))
    # term-sorted files with disjoint term ranges
    keys = [(r["term"], r["seg_id"]) for f in files for r in f]
    assert keys == sorted(keys)
    for a, b in zip(files, files[1:]):
        assert a[-1]["term"] < b[0]["term"]
