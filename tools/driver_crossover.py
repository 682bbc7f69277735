"""Single-query latency on the driver path against the distributed path,
by index size: the evidence behind IndexSearcher.LOCAL_POSTINGS_MAX_BYTES.

For each size it generates a corpus of that many docs, builds one index
(4 segments, one batch), opens it twice — once with the driver path
forced on, once with it off — and runs the same benchmark query stream
(perfbench/verify.py QueryStream: term, OR, AND, mm, NOT and phrase
queries across DF bands) on both, alternating query by query. Every
result must be bit-identical on both sides.

Prints one line per size:
  docs=N postings_mb=M driver_p50=.. driver_p90=.. driver_mean=..
  spark_p50=.. spark_p90=.. spark_mean=.. mismatches=0

Run: python tools/driver_crossover.py [--queries 80] 16384 32768 65536
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import numpy as np  # noqa: E402

import verify  # noqa: E402
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row  # noqa: E402
from lucene_solr_spark.indexing.build import IndexWriter  # noqa: E402
from lucene_solr_spark.search.executor import IndexSearcher  # noqa: E402
from lucene_solr_spark.session import get_spark  # noqa: E402


def open_searcher(spark, index_dir: str, driver_path: bool) -> IndexSearcher:
    old = IndexSearcher.LOCAL_POSTINGS_MAX_BYTES
    IndexSearcher.LOCAL_POSTINGS_MAX_BYTES = (1 << 62) if driver_path else -1
    try:
        s = IndexSearcher(spark, index_dir)
    finally:
        IndexSearcher.LOCAL_POSTINGS_MAX_BYTES = old
    assert (s._local_postings is not None) == driver_path
    return s


def run(s: IndexSearcher, q: dict):
    if q["kind"] == "phrase":
        rows = s.search_phrase(q["text"], k=10).collect()
    else:
        rows = s.search(q["text"], k=10, mode=q["mode"],
                        min_should_match=q["mm"],
                        exclude=q["exclude"]).collect()
    return [(r["doc_id"], np.float32(r["score"]).tobytes()) for r in rows]


def build(spark, work: str, n_docs: int) -> tuple:
    def gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame([row(int(i)) for i in pdf["id"]])

    cpath = os.path.join(work, "corpus")
    spark.range(0, n_docs, 1, 4).mapInPandas(
        gen, schema=CORPUS_SCHEMA).write.parquet(cpath)
    index_dir = os.path.join(work, "idx")
    IndexWriter(spark, index_dir, docs_per_segment=n_docs // 4,
                n_batches=1).build(spark.read.parquet(cpath))
    return cpath, index_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("docs", type=int, nargs="+")
    ap.add_argument("--queries", type=int, default=80)
    args = ap.parse_args()
    spark = get_spark(app_name="driver-crossover", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    for n_docs in args.docs:
        work = tempfile.mkdtemp(prefix="lss_crossover_")
        try:
            cpath, index_dir = build(spark, work, n_docs)
            docs = verify.read_corpus(cpath)
            stream = verify.QueryStream(1, 0, n_docs, verify.window_df(docs))
            queries = [stream.next() for _ in range(args.queries)]
            sides = (open_searcher(spark, index_dir, True),
                     open_searcher(spark, index_dir, False))
            for s in sides:  # warm-up: caches, Python workers
                for q in queries[:3]:
                    run(s, q)
            ms = ([], [])
            mismatches = 0
            for q in queries:
                hits = []
                for s, lat in zip(sides, ms):
                    t0 = time.perf_counter()
                    hits.append(run(s, q))
                    lat.append((time.perf_counter() - t0) * 1e3)
                mismatches += hits[0] != hits[1]
            stats = " ".join(
                f"{side}_p50={statistics.median(lat):.0f} "
                f"{side}_p90={statistics.quantiles(lat, n=10)[-1]:.0f} "
                f"{side}_mean={statistics.mean(lat):.0f}"
                for side, lat in zip(("driver", "spark"), ms))
            print(f"docs={n_docs} "
                  f"postings_mb={sides[0]._postings_bytes() / 1e6:.1f} "
                  f"{stats} mismatches={mismatches}", flush=True)
            for s in sides:
                s._postings.unpersist()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
