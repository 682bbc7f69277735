"""Write-path layout is a pure function of the data: the key-bucket
count follows from the corpus size and the batch count, never from the
session's parallelism, so the bounds, the per-bucket counts, the
segment lineage, the term_stats files and the compacted postings files
are identical at any core count."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from lucene_solr_spark.catalog import Catalog
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, corpus_rows, row
from lucene_solr_spark.indexing.build import (
    IndexWriter,
    _as_list,
    _is_meta_col,
    append_documents,
    bucket_count,
    delete_docs,
    maybe_compact,
    term_stats_files,
)


@pytest.mark.parametrize("n_docs, n_batches, want", [
    (64, 1, 1),
    (120, 2, 2),
    (300, 3, 3),
    (2048, 1, 8),
    (327_680, 1, 128),
    (0, 1, 1),
    (10, 200, 128),
])
def test_bucket_count_rule(n_docs, n_batches, want):
    assert bucket_count(n_docs, n_batches) == want


@pytest.mark.parametrize("n_docs, want", [
    (0, 1),
    (64, 1),
    (2048, 1),
    (65_536, 1),
    (65_537, 2),
    (327_680, 5),
    (10 ** 9, 64),
])
def test_term_stats_file_rule(n_docs, want):
    assert term_stats_files(n_docs) == want


def _files_layout(path):
    """Rows of each parquet file under path, in part order."""
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return [pq.read_table(os.path.join(path, f)).to_pylist()
            for f in parts]


def _term_stats_layout(snap):
    return _files_layout(snap.tables["term_stats"])


def _canon(x) -> str:
    return json.dumps(x, sort_keys=True)


def _append_meta(spark, snap):
    path = _as_list(snap.tables["segments"])[-1]
    rows = (spark.read.parquet(path).filter(_is_meta_col())
            .select("seg_id", "doc_base", "doc_count", "input_sha256",
                    "term_lo", "term_hi", "post_bytes")
            .orderBy("seg_id").collect())
    return [r.asDict() for r in rows]


def test_layout_invariant_to_default_parallelism(spark, tmp_path,
                                                 monkeypatch):
    corpus = spark.createDataFrame(corpus_rows(300), schema=CORPUS_SCHEMA)
    delta = spark.createDataFrame([row(i) for i in range(300, 400)],
                                  schema=CORPUS_SCHEMA)
    out = {}
    for par in (4, 64):
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self, p=par: p))
        index_dir = str(tmp_path / f"par{par}")
        snap = IndexWriter(spark, index_dir, docs_per_segment=64,
                           n_batches=2).build(corpus)
        appended = append_documents(spark, index_dir, delta)
        merged = maybe_compact(spark, index_dir, max_generations=1,
                               segs_per_group=2)
        out[par] = (snap, _append_meta(spark, appended),
                    _term_stats_layout(snap), _term_stats_layout(appended),
                    _files_layout(merged.tables["postings"]))
    ((a, a_app, a_ts, a_ts_app, a_merged),
     (b, b_app, b_ts, b_ts_app, b_merged)) = out[4], out[64]
    for key in ("key_bounds", "counts"):
        assert _canon(a.props[key]) == _canon(b.props[key]), key
    assert _canon(a.lineage) == _canon(b.lineage)
    assert a_app and _canon(a_app) == _canon(b_app)
    assert len(a.props["key_bounds"]) + 1 == bucket_count(300, 2)
    assert Catalog(str(tmp_path / "par4")).latest().props["max_doc"] == 400
    assert len(a_ts) == term_stats_files(300)
    assert len(a_ts_app) == term_stats_files(400)
    assert a_ts and a_ts == b_ts
    assert a_ts_app and a_ts_app == b_ts_app
    assert sum(map(len, a_ts_app)) > sum(map(len, a_ts))
    # compaction: one term-sorted file per term_stats_files(max_doc),
    # the same rows at 4 and at 64 cores
    assert len(a_merged) == term_stats_files(400)
    assert a_merged and a_merged == b_merged


def test_layout_invariant_to_default_parallelism_on_spark(
        spark, tmp_path, monkeypatch, spark_writers):
    """The same invariance for the Spark append (an index not held on
    the driver)."""
    test_layout_invariant_to_default_parallelism(spark, tmp_path,
                                                 monkeypatch)


def test_append_folds_replaced_keys_into_one_tombstone_write(spark,
                                                             tmp_path):
    """updateDocuments: the old docIDs of replaced keys join the
    existing tombstones in the append's one generation-specific
    tombstone write; no separate replaced-keys table is left behind."""
    rows = [{**row(i), "content": f"doc {i} alpha"} for i in range(60)]
    index_dir = str(tmp_path / "idx")
    IndexWriter(spark, index_dir, docs_per_segment=32, n_batches=1,
                analyzer="whitespace").build(
        spark.createDataFrame(rows, schema=CORPUS_SCHEMA))
    key = lambda r: (r["repo"], r["path"], r["commit"])  # noqa: E731
    doc_id = {key(r): i for i, r in enumerate(sorted(rows, key=key))}
    delete_docs(spark, index_dir, spark.createDataFrame(
        [(7,)], "doc_id long"))
    replaced = [{**rows[i], "content": f"doc {i} beta"} for i in (2, 30, 41)]
    fresh = [{**row(i), "content": f"doc {i} gamma"} for i in range(60, 70)]
    snap = append_documents(spark, index_dir, spark.createDataFrame(
        fresh + replaced, schema=CORPUS_SCHEMA))
    want = sorted({7} | {doc_id[key(r)] for r in replaced})
    got = sorted(r["doc_id"] for f in _files_layout(
        snap.tables["tombstones"]) for r in f)
    assert got == want
    assert [n for n in os.listdir(os.path.join(index_dir, "tombstones"))
            if n.startswith("replaced-gen-")] == []


def test_append_folds_replaced_keys_into_one_tombstone_write_on_spark(
        spark, tmp_path, spark_writers):
    test_append_folds_replaced_keys_into_one_tombstone_write(spark,
                                                             tmp_path)
