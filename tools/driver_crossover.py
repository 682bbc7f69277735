"""Driver path against the distributed path, by index size: the evidence
behind indexing.build.LOCAL_POSTINGS_MAX_BYTES, for single queries and
for NRT writes.

For each size it generates a corpus of that many docs and builds one
index (4 segments, one batch).

Queries (default): it opens the index twice — once with the driver path
forced on, once with it off — and runs the same benchmark query stream
(perfbench/verify.py QueryStream: term, OR, AND, mm, NOT and phrase
queries across DF bands) on both, alternating query by query. Every
result must be bit-identical on both sides. One line per size:
  docs=N postings_mb=M driver_p50=.. driver_p90=.. driver_mean=..
  spark_p50=.. spark_p90=.. spark_mean=.. mismatches=0

Writes (--writes): it copies the index twice and runs the same NRT write
rounds on each copy, alternating side by side: append_documents of a
pandas-backed batch of --batch rows (new keys, an eighth of them
replacing keys already indexed), then delete_docs of 8 docIDs. One copy
has the driver path forced on (in-process writes), the other has it off
(Spark writes). Both copies must end with equal doc counts and equal
tombstones. One line per size and batch, times in ms, jobs per call:
  docs=N postings_mb=M batch=B driver_append_p50=.. spark_append_p50=..
  driver_delete_p50=.. spark_delete_p50=.. driver_jobs=A/D
  spark_jobs=A/D mismatches=0

Run: python tools/driver_crossover.py [--queries 80] 16384 32768 65536
     python tools/driver_crossover.py --writes [--rounds 6] 2048 20480
         65536 [--batch 32 128 256]
"""

from __future__ import annotations

import argparse
import itertools
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
import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import verify  # noqa: E402
from lucene_solr_spark.catalog import Catalog  # noqa: E402
from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row  # noqa: E402
from lucene_solr_spark.indexing import build  # noqa: E402
from lucene_solr_spark.indexing.build import (  # noqa: E402
    IndexWriter,
    append_documents,
    delete_docs,
    postings_bytes,
)
from lucene_solr_spark.search.executor import IndexSearcher  # noqa: E402
from lucene_solr_spark.session import get_spark  # noqa: E402


def on_path(driver_path: bool, fn):
    """fn() with the driver path forced on (driver_path) or off."""
    old = build.LOCAL_POSTINGS_MAX_BYTES
    build.LOCAL_POSTINGS_MAX_BYTES = (1 << 62) if driver_path else -1
    try:
        return fn()
    finally:
        build.LOCAL_POSTINGS_MAX_BYTES = old


def open_searcher(spark, index_dir: str, driver_path: bool) -> IndexSearcher:
    s = on_path(driver_path, lambda: IndexSearcher(spark, index_dir))
    assert (s._local_postings is not None) == driver_path
    return s


_groups = itertools.count()


def timed_jobs(sc, fn) -> tuple:
    """(ms fn took, number of Spark jobs it ran)."""
    group = f"crossover-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn()
        ms = (time.perf_counter() - t0) * 1e3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return ms, len(sc.statusTracker().getJobIdsForGroup(group))


def run(s: IndexSearcher, q: dict):
    if q["kind"] == "phrase":
        rows = s.search_phrase(q["text"], k=10).collect()
    else:
        rows = s.search(q["text"], k=10, mode=q["mode"],
                        min_should_match=q["mm"],
                        exclude=q["exclude"]).collect()
    return [(r["doc_id"], np.float32(r["score"]).tobytes()) for r in rows]


def build_index(spark, work: str, n_docs: int) -> tuple:
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


def tombstones(index_dir: str) -> list:
    path = Catalog(index_dir).latest().tables.get("tombstones")
    return sorted(pq.read_table(path)["doc_id"].to_pylist()) if path else []


def writes(spark, work: str, cpath: str, index_dir: str, n_docs: int,
           batch: int, rounds: int) -> None:
    sc = spark.sparkContext
    posts_mb = postings_bytes(
        Catalog(index_dir).latest().tables["postings"]) / 1e6
    dirs = []
    for side in ("driver", "spark"):
        dirs.append(os.path.join(work, f"{side}-b{batch}"))
        shutil.copytree(index_dir, dirs[-1])
    base = spark.read.parquet(cpath).select("repo", "path", "commit",
                                            "lang").collect()
    rng = np.random.default_rng(batch)
    ms = {k: [] for k in ("da", "sa", "dd", "sd")}
    jobs = {k: [] for k in ms}
    next_id = n_docs
    for r in range(rounds):
        n_rep = batch // 8
        rows = [{**base[int(i)].asDict(), "content": f"replaced round {r}"}
                for i in rng.choice(len(base), n_rep, replace=False)]
        rows += [row(i) for i in range(next_id, next_id + batch - n_rep)]
        next_id += batch - n_rep
        pdf = pd.DataFrame(rows)
        dels = [(int(i),) for i in rng.choice(n_docs, 8, replace=False)]
        # round 0 warms both sides (Python workers, JIT, file cache)
        order = ((True, "da", "dd", dirs[0]), (False, "sa", "sd", dirs[1]))
        for driver_path, ka, kd, d in order if r % 2 else order[::-1]:
            for key, fn in (
                    (ka, lambda: append_documents(
                        spark, d, spark.createDataFrame(
                            pdf, schema=CORPUS_SCHEMA))),
                    (kd, lambda: delete_docs(spark, d, spark.createDataFrame(
                        dels, "doc_id long")))):
                t, n = on_path(driver_path, lambda: timed_jobs(sc, fn))
                if r:
                    ms[key].append(t)
                    jobs[key].append(n)
    snaps = [Catalog(d).latest() for d in dirs]
    mismatches = int(snaps[0].props["max_doc"] != snaps[1].props["max_doc"]
                     or tombstones(dirs[0]) != tombstones(dirs[1]))

    def p50(k):
        return f"{statistics.median(ms[k]):.0f}"

    print(f"docs={n_docs} postings_mb={posts_mb:.1f} batch={batch} "
          f"driver_append_p50={p50('da')} spark_append_p50={p50('sa')} "
          f"driver_delete_p50={p50('dd')} spark_delete_p50={p50('sd')} "
          f"driver_jobs={max(jobs['da'])}/{max(jobs['dd'])} "
          f"spark_jobs={min(jobs['sa'])}/{min(jobs['sd'])} "
          f"mismatches={mismatches}", flush=True)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("docs", type=int, nargs="+")
    ap.add_argument("--queries", type=int, default=80)
    ap.add_argument("--writes", action="store_true")
    ap.add_argument("--batch", type=int, nargs="+", default=[128])
    ap.add_argument("--rounds", type=int, default=6)
    args = ap.parse_args()
    spark = get_spark(app_name="driver-crossover", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    for n_docs in args.docs:
        work = tempfile.mkdtemp(prefix="lss_crossover_")
        try:
            cpath, index_dir = build_index(spark, work, n_docs)
            if args.writes:
                for batch in args.batch:
                    writes(spark, work, cpath, index_dir, n_docs, batch,
                           args.rounds)
                continue
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
            sides[1]._postings.unpersist()  # the driver side caches none
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
