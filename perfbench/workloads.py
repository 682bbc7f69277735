"""The two benchmark workloads, closed-loop with a single client.

``topk``  builds one index, then alternates rounds of single queries
          (``search`` / ``search_phrase``) with one ``search_many`` batch.
``nrt_refresh`` builds a small base index, then runs write cycles:
          append (with key replacements), delete, reopen + freshness
          probe, queries, ``maybe_compact``.

The seed picks the ``corpusgen`` doc-index window and every query and
update draw; the engine only receives the generated rows and query
strings. Every query result is checked against the pure-Python oracle
(verify.py) after the timed part.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np

import ledger
import verify

K = 10
TOPK_DOCS = 2048          # index of the top-k workload
TOPK_ROUND_SINGLES = 6    # single queries per round ...
TOPK_BATCH = 48           # ... then one search_many batch of this size
NRT_BASE_DOCS = 64        # base index of the nrt workload (< 128
                          # docs keeps the build's bucket pass small)
NRT_DOCS_PER_SEGMENT = 128
NRT_APPEND = 128          # docs appended per cycle ...
NRT_REPLACE = 13          # ... of which replace an existing key
NRT_DELETE = 8            # docIDs deleted per cycle
NRT_QUERIES = 6           # queries per cycle besides the freshness probe
NRT_MAX_GENERATIONS = 1   # maybe_compact cap: compacts every cycle
NRT_SEGS_PER_GROUP = 4
WINDOW_SLOTS = 64         # seed -> window start = slot * 8192


@dataclass
class Result:
    metrics: Dict[str, float]
    details: Dict[str, Tuple[float, str]]
    attempted: int
    failed: int


@dataclass
class Run:
    """State of one benchmark run: session, work dir, spans, checks."""

    seed: int
    seconds: float
    trace: bool
    work: str
    log_path: str
    spark: object = None
    tracer: ledger.Tracer = field(default_factory=ledger.Tracer)
    attempted: int = 0
    exceptions: int = 0
    details: Dict[str, Tuple[float, str]] = field(default_factory=dict)
    cpu_start: List[int] = field(default_factory=list)

    def start_session(self) -> None:
        from lucene_solr_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench",
                                   cpus=os.cpu_count())
        self.tracer.attach(self.spark.sparkContext)

    def materialize(self, lo: int, hi: int, name: str) -> str:
        """Generate corpus rows [lo, hi) with Spark and write them to
        parquet, so the index build reads plain files."""
        from lucene_solr_spark.corpusgen import CORPUS_SCHEMA, row

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame([row(int(i)) for i in pdf["id"]])

        path = os.path.join(self.work, "corpus", name)
        before = codegen_fallbacks(self.log_path)
        with self.tracer.call("corpusgen.materialize"):
            (self.spark.range(lo, hi, 1, os.cpu_count())
             .mapInPandas(gen, schema=CORPUS_SCHEMA)
             .write.mode("overwrite").parquet(path))
        self.tracer.counts["corpusgen.codegen_fallbacks"] += (
            codegen_fallbacks(self.log_path) - before)
        return path

    def storage(self, label: str, index_dir: str) -> int:
        """Record per-table bytes of the live snapshot in storage.jsonl;
        returns their total."""
        from lucene_solr_spark.catalog import Catalog

        tb = ledger.table_bytes(Catalog(index_dir))
        with open(os.path.join(self.work, "storage.jsonl"), "a") as f:
            f.write(json.dumps({"after": label, **tb}) + "\n")
        return sum(tb.values())

    def timed(self, op: str, fn):
        """One public engine call: its own span and Spark job group.
        An exception counts as a failed operation and returns None."""
        self.attempted += 1
        try:
            with self.tracer.call(op):
                return fn()
        except Exception as e:  # noqa: BLE001 -- the run must go on
            self.exceptions += 1
            import traceback

            traceback.print_exc()
            self.details[f"exception.{op}"] = (1, str(type(e).__name__))
            return None


def calibration_ms() -> float:
    """Median time of a fixed pure-Python loop: a probe of how fast this
    machine runs single-threaded code at the moment."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def cpu_times() -> List[int]:
    """Machine-wide CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_steal_pct(start: List[int]) -> float:
    """Share of machine CPU time stolen by the hypervisor since start."""
    d = [b - a for a, b in zip(start, cpu_times())]
    return 100.0 * d[7] / max(sum(d), 1)


def codegen_fallbacks(log_path: str) -> int:
    """'Code grows beyond 64 KB' lines Spark has logged so far."""
    with open(log_path, errors="replace") as f:
        return sum("Code grows beyond 64 KB" in line for line in f)


def process_tree() -> set:
    """This process and all its descendants (JVM, Python workers)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        procs[int(pid)] = ppid
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in procs.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until it and the
    Python workers have exited."""
    from pyspark import SparkContext

    children = process_tree() - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants:
    the driver, the JVM and the Python workers."""
    kb = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def window(seed: int) -> int:
    """First doc index of the seed's corpus window."""
    return (seed % WINDOW_SLOTS) * 8192


def hits(rows) -> List[Tuple[int, np.float32]]:
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in rows]


def query_hits(searcher, q: dict) -> List[Tuple[int, np.float32]]:
    if q["kind"] == "phrase":
        return hits(searcher.search_phrase(q["text"], k=K).collect())
    return hits(searcher.search(q["text"], k=K, mode=q["mode"],
                                min_should_match=q["mm"],
                                exclude=q["exclude"]).collect())


def run_query(run: Run, searcher, q: dict):
    op = ("search.executor.search_phrase" if q["kind"] == "phrase"
          else "search.executor.search")
    return run.timed(op, lambda: query_hits(searcher, q))


def run_batch(run: Run, searcher, batch: List[dict]):
    arg = [q["text"] if q["kind"] == "phrase" else
           {"query_text": q["text"], "mode": q["mode"], "mm": q["mm"],
            "exclude": q["exclude"]} for q in batch]
    rows = run.timed("search.executor.search_many",
                     lambda: searcher.search_many(arg, k=K).collect())
    if rows is None:
        return None
    out: List[list] = [[] for _ in batch]
    for r in rows:
        out[int(r["query_id"])].append(
            (int(r["doc_id"]), np.float32(r["score"])))
    return out


def open_searcher(run: Run, index_dir: str, first: dict):
    """search.executor.open: construction plus the first query, which
    fills the postings cache."""
    from lucene_solr_spark.search.executor import IndexSearcher

    def go():
        s = IndexSearcher(run.spark, index_dir)
        return s, query_hits(s, first)

    return run.timed("search.executor.open", go)


# -- topk ---------------------------------------------------------------

def topk(run: Run) -> Result:
    from lucene_solr_spark.indexing.build import IndexWriter

    t0 = time.perf_counter()
    run.start_session()
    lo = window(run.seed)
    corpus = run.materialize(lo, lo + TOPK_DOCS, "topk")
    index_dir = os.path.join(run.work, "index", "topk")
    dps = TOPK_DOCS // os.cpu_count()  # one scoring group per core
    run.timed("indexing.build", lambda: IndexWriter(
        run.spark, index_dir, docs_per_segment=dps, n_batches=1,
    ).build(run.spark.read.parquet(corpus)))
    run.storage("build", index_dir)
    warm = verify.warmup_queries(lo)
    opened = open_searcher(run, index_dir, warm[0])
    if opened is None:
        raise RuntimeError("searcher did not open")
    searcher, _ = opened
    # warm-up: each query shape once, so Python workers and the JIT are
    # warm before the timed loop
    for q in warm[1:]:
        run_query(run, searcher, q)
    run_batch(run, searcher, warm * 2)
    setup_s = time.perf_counter() - t0

    # query draws need the window's term DFs: bookkeeping, not timed
    docs = verify.read_corpus(corpus)
    stream = verify.QueryStream(run.seed, lo, lo + TOPK_DOCS,
                                verify.window_df(docs))

    singles: List[Tuple[dict, object, float]] = []
    batches: List[Tuple[List[dict], object, float]] = []
    end = time.perf_counter() + run.seconds
    while time.perf_counter() < end or not batches:
        for _ in range(TOPK_ROUND_SINGLES):
            q = stream.next()
            t = time.perf_counter()
            got = run_query(run, searcher, q)
            singles.append((q, got, time.perf_counter() - t))
        batch = [stream.next() for _ in range(TOPK_BATCH)]
        t = time.perf_counter()
        got = run_batch(run, searcher, batch)
        batches.append((batch, got, time.perf_counter() - t))
    run.attempted += sum(len(b) for b, _, _ in batches) - len(batches)
    rss = peak_rss_mb()

    # -- checks (not timed) ---------------------------------------------
    in_bytes = sum(len(r["content"].encode()) for _, r in docs)
    checked = [(q, got) for q, got, _ in singles]
    for batch, got, _ in batches:
        for i, q in enumerate(batch):
            checked.append((q, None if got is None else got[i]))
    oracle = verify.Expected(run.work, "topk", run.seed,
                             [(TOPK_DOCS,)])
    mism = oracle.check_static(docs, checked, searcher)
    if run.trace:
        run.tracer.replay_kernels(run.spark, searcher,
                                  [q for q, _, _ in singles[:24]],
                                  [g for _, g, _ in singles[:24]])

    lat = [s * 1e3 for _, _, s in singles]
    n_batch_q = sum(len(b) for b, _, _ in batches)
    batch_s = sum(s for _, _, s in batches)
    idx_bytes = ledger.dir_bytes(index_dir)
    m = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(lat),
        "throughput_per_s": n_batch_q / batch_s,
        "index_bytes_per_input_byte": idx_bytes / in_bytes,
    }
    run.details.update({
        "peak_rss_mb": (rss, "MB"),
        "topk_p50_ms": (m["query_p50_ms"], "ms"),
        "topk_p90_ms": (statistics.quantiles(lat, n=10)[-1], "ms"),
        "topk_samples": (len(lat), "count"),
        "batch_qps": (m["throughput_per_s"], "1/s"),
        "batch_queries": (n_batch_q, "count"),
        "oracle_mismatches": (mism, "count"),
    })
    return finish(run, m, mism, index_dir, in_bytes)


# -- nrt_refresh --------------------------------------------------------

def nrt_refresh(run: Run) -> Result:
    import pandas as pd

    from lucene_solr_spark.corpusgen import CORPUS_SCHEMA
    from lucene_solr_spark.indexing.build import (
        IndexWriter,
        append_documents,
        delete_docs,
        maybe_compact,
    )

    t0 = time.perf_counter()
    run.start_session()
    lo = window(run.seed)
    corpus = run.materialize(lo, lo + NRT_BASE_DOCS, "nrt-base")
    index_dir = os.path.join(run.work, "index", "nrt")
    run.timed("indexing.build", lambda: IndexWriter(
        run.spark, index_dir, docs_per_segment=NRT_DOCS_PER_SEGMENT,
        n_batches=1,
    ).build(run.spark.read.parquet(corpus)))
    run.storage("build", index_dir)
    if open_searcher(run, index_dir, verify.warmup_queries(lo)[0]) is None:
        raise RuntimeError("searcher did not open")
    setup_s = time.perf_counter() - t0

    # input generation is bookkeeping, not engine work: outside timers
    docs = verify.read_corpus(corpus)
    stream = verify.QueryStream(run.seed, lo, lo + NRT_BASE_DOCS,
                                verify.window_df(docs))
    updates = verify.UpdateStream(run.seed, docs, lo + NRT_BASE_DOCS,
                                  NRT_APPEND, NRT_REPLACE, NRT_DELETE)
    cycles = []
    end = time.perf_counter() + run.seconds
    while time.perf_counter() < end or not cycles:
        cyc = updates.next_cycle()
        queries = [stream.next() for _ in range(NRT_QUERIES)]
        with run.tracer.span("nrt.cycle"):
            c0 = time.perf_counter()
            pdf = pd.DataFrame(cyc.rows)
            run.timed("indexing.append_documents", lambda: append_documents(
                run.spark, index_dir,
                run.spark.createDataFrame(pdf, schema=CORPUS_SCHEMA)))
            c1 = time.perf_counter()
            run.timed("indexing.delete_docs", lambda: delete_docs(
                run.spark, index_dir, run.spark.createDataFrame(
                    [(d,) for d in cyc.deletes], "doc_id long")))
            opened = open_searcher(run, index_dir, cyc.probe)
            c2 = time.perf_counter()
            searcher, probe = opened if opened else (None, None)
            got = [run_query(run, searcher, q) if searcher else None
                   for q in queries]
            c3 = time.perf_counter()
            compacted = run.timed("indexing.maybe_compact", lambda: (
                maybe_compact(run.spark, index_dir,
                              max_generations=NRT_MAX_GENERATIONS,
                              segs_per_group=NRT_SEGS_PER_GROUP)))
            c4 = time.perf_counter()
        cycles.append(dict(cyc=cyc, queries=queries, got=got, probe=probe,
                           append_s=c1 - c0, visible_s=c2 - c0,
                           query_s=(c3 - c2) / len(queries),
                           cycle_s=c4 - c0, compacted=compacted,
                           live_bytes=run.storage(f"cycle{len(cycles)}",
                                                  index_dir)))
    rss = peak_rss_mb()

    # -- checks (not timed) ---------------------------------------------
    oracle = verify.Expected(run.work, "nrt_refresh", run.seed,
                             [(NRT_BASE_DOCS, NRT_APPEND, NRT_REPLACE,
                               NRT_DELETE, len(cycles))])
    mism = oracle.check_nrt(docs, cycles)
    n_docs = sum(len(c["cyc"].rows) for c in cycles)
    in_bytes = (sum(len(r["content"].encode()) for _, r in docs)
                + sum(len(r["content"].encode())
                      for c in cycles for r in c["cyc"].rows))
    live_ratio = [c["live_bytes"] / c["cyc"].live_input_bytes
                  for c in cycles]
    m = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(
            c["query_s"] for c in cycles) * 1e3,
        "throughput_per_s": n_docs / sum(c["cycle_s"] for c in cycles),
        "index_bytes_per_input_byte": statistics.median(live_ratio),
    }
    run.details.update({
        "peak_rss_mb": (rss, "MB"),
        "append_p50_s": (statistics.median(
            c["append_s"] for c in cycles), "s"),
        "visible_p50_s": (statistics.median(
            c["visible_s"] for c in cycles), "s"),
        "nrt_query_p50_ms": (m["query_p50_ms"], "ms"),
        "nrt_cycle_s": (statistics.mean(c["cycle_s"] for c in cycles), "s"),
        "nrt_cycles": (len(cycles), "count"),
        "compactions": (sum(c["compacted"] is not None
                            for c in cycles), "count"),
        "oracle_mismatches": (mism, "count"),
    })
    return finish(run, m, mism, index_dir, in_bytes)


def finish(run: Run, metrics: Dict[str, float], mismatches: int,
           index_dir: str, in_bytes: int) -> Result:
    failed = run.exceptions + mismatches
    run.details["loadavg_1m_end"] = (os.getloadavg()[0], "")
    run.details["cpu_steal_pct"] = (cpu_steal_pct(run.cpu_start), "%")
    run.details["calibration_ms_end"] = (calibration_ms(), "ms")
    run.details["nproc"] = (os.cpu_count(), "")
    stop_spark(run.spark)
    run.spark = None
    if run.trace:
        layers = run.tracer.layer_metrics(run.work, index_dir, in_bytes,
                                          codegen_fallbacks(run.log_path))
        run.details.update({f"e2e.{k}": (v, "") for k, v in metrics.items()})
        metrics = layers
        failed += run.tracer.kernel["mismatches"]
    run.details["error_rate"] = (failed / max(run.attempted, 1), "ratio")
    return Result(metrics, run.details, run.attempted, failed)


WORKLOADS = {"topk": topk, "nrt_refresh": nrt_refresh}


def run(name: str, seed: int, seconds: float, trace: bool, work: str,
        log_path: str) -> Result:
    r = Run(seed=seed, seconds=seconds, trace=trace, work=work,
            log_path=log_path)
    r.details["loadavg_1m_start"] = (os.getloadavg()[0], "")
    r.cpu_start = cpu_times()
    r.details["calibration_ms_start"] = (calibration_ms(), "ms")
    try:
        return WORKLOADS[name](r)
    finally:
        if r.spark is not None:
            stop_spark(r.spark)
