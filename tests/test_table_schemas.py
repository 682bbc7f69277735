"""The engine reads its own tables with declared schemas
(indexing/build.py: SEGMENT_OUT_SCHEMA, MERGED_SCHEMA,
TERM_STATS_SCHEMA, DOCS_SCHEMA, TOMBSTONES_SCHEMA). Every table that
build, append with key replacement, delete, compaction and addIndexes
write must read back under its declaration with the same column names,
types and rows as a read that infers the schema from the files, so a
writer that changes a column fails here instead of reading back nulls."""

import os
import random

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.catalog import Catalog
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row
from lucene_solr_spark.indexing.addindexes import add_indexes
from lucene_solr_spark.indexing.build import (
    DOCS_SCHEMA,
    MERGED_SCHEMA,
    SEGMENT_OUT_SCHEMA,
    TERM_STATS_SCHEMA,
    TOMBSTONES_SCHEMA,
    IndexWriter,
    _as_list,
    _is_combined_dir,
    append_documents,
    delete_docs,
    maybe_compact,
    read_table,
)

VOCAB = [f"w{i:02d}" for i in range(30)]


def _docs(lo, hi, seed):
    rnd = random.Random(seed)
    return [{**row(i), "content": " ".join(rnd.choices(VOCAB, k=8))}
            for i in range(lo, hi)]


def _build(spark, d, lo, hi, seed):
    IndexWriter(spark, d, docs_per_segment=32, n_batches=2,
                analyzer="whitespace").build(
        spark.createDataFrame(_docs(lo, hi, seed), schema=CORPUS_SCHEMA))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("schemas")
    d, src = str(root / "dst"), str(root / "src")
    _build(spark, d, 0, 100, 1)
    # new keys plus replacements of existing ones (replaced-key tombstones)
    delta = _docs(100, 130, 2) + _docs(0, 10, 3)
    append_documents(spark, d, spark.createDataFrame(delta,
                                                     schema=CORPUS_SCHEMA))
    delete_docs(spark, d, spark.createDataFrame([(3,), (50,), (120,)],
                                                "doc_id long"))
    assert maybe_compact(spark, d, max_generations=1,
                         segs_per_group=2) is not None
    _build(spark, src, 200, 240, 4)
    delete_docs(spark, src, spark.createDataFrame([(5,)], "doc_id long"))
    add_indexes(spark, d, [src])
    return d


def _tables(index_dir):
    """(kind, path) of every table any snapshot of the index names."""
    cat = Catalog(index_dir)
    out = set()
    for sid in range(cat.latest_id() + 1):
        tables = cat.load(sid).tables
        for kind in ("postings", "segments", "docs", "term_stats",
                     "tombstones"):
            for p in _as_list(tables.get(kind) or []):
                out.add((kind, p))
    return sorted(out)


def _declared(kind, path):
    if kind in ("postings", "segments"):
        return SEGMENT_OUT_SCHEMA if _is_combined_dir(path) else MERGED_SCHEMA
    return {"docs": DOCS_SCHEMA, "term_stats": TERM_STATS_SCHEMA,
            "tombstones": TOMBSTONES_SCHEMA}[kind]


def _reads(spark, kind, path):
    """(inferred, declared) reads of one table path."""
    schema = _declared(kind, path)
    if schema == SEGMENT_OUT_SCHEMA:
        inferred = spark.read.option("basePath", path).parquet(path)
        # partition values are inferred as strings
        inferred = inferred.withColumn("is_meta",
                                       F.col("is_meta").cast("boolean"))
        declared = (spark.read.schema(schema).option("basePath", path)
                    .parquet(path))
        return inferred.select(*declared.columns), declared
    return spark.read.parquet(path), read_table(spark, schema, path)


def _shape(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def test_declared_schemas_match_the_written_files(spark, index_dir):
    tables = _tables(index_dir)
    kinds = {k for k, _ in tables}
    assert kinds == {"postings", "segments", "docs", "term_stats",
                     "tombstones"}
    # every writer of the cycle is covered: build, append, merge and
    # addIndexes outputs, delete/append/addIndexes tombstones
    names = {os.path.relpath(p, index_dir).split(os.sep)[0]
             for _, p in tables}
    assert {"seg", "merged", "docs", "docs_gen", "stats",
            "tombstones"} <= names, names
    for kind, path in tables:
        inferred, declared = _reads(spark, kind, path)
        assert _shape(inferred) == _shape(declared), (kind, path)
        a = sorted(map(repr, inferred.collect()))
        b = sorted(map(repr, declared.collect()))
        assert a and a == b, (kind, path)


def test_a_changed_column_type_fails_the_check(spark, tmp_path):
    """The comparison above catches a writer that drifts from its
    declaration: an int doc_id reads back under the declared long only
    by widening, but its inferred shape differs."""
    path = str(tmp_path / "tomb")
    spark.createDataFrame([(1,), (2,)], "doc_id int").write.parquet(path)
    inferred, declared = _reads(spark, "tombstones", path)
    assert _shape(inferred) != _shape(declared)
