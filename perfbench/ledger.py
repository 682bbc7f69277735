"""Per-layer ledger, measured from outside the engine.

The benchmark wraps every public engine call in a span (name, start,
end, parent, request id) and gives it its own Spark job group. A traced
run also has Spark write its event log; after the session stops, each
job is attributed to the call whose group it carries and, inside a
call, to a phase:

* ``indexing.build``: jobs that write parquet map by the output path in
  their SQL execution's plan (``/seg/batch=`` -> segments, ``/stats/``
  and ``/docs`` -> finalize); other jobs map by the engine function that
  holds their ``callSite.short`` line (bounds/counts -> plan,
  ``_batch_lineage`` -> lineage, ``_finalize`` -> finalize); a job with
  neither inherits the phase of the job before it.
* query calls: jobs issued from ``_lookup_dfs`` are the df probe
  (``search.executor.plan``); the rest belong to the call itself.

Every phase gets the same metrics, as a mean per call of the public
operation that owns it (README.md lists them).
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional, Tuple

import numpy as np

QUERY_OPS = ("search.executor.search", "search.executor.search_phrase",
             "search.executor.search_many")
BUILD_SUBPHASES = ("plan", "segments", "lineage", "finalize")
PHASES = tuple(f"indexing.build.{p}" for p in BUILD_SUBPHASES) + (
    "indexing.append_documents", "indexing.delete_docs",
    "indexing.maybe_compact", "search.executor.open",
    "search.executor.plan") + QUERY_OPS
# public operation(s) whose call count a phase is averaged over
OWNERS = {**{f"indexing.build.{p}": ("indexing.build",)
             for p in BUILD_SUBPHASES},
          "search.executor.plan": QUERY_OPS}
BUILD_BY_PATH = (("/seg/batch=", "segments"), ("/stats/", "finalize"),
                 ("/docs", "finalize"))
BUILD_BY_FUNC = {"compute_key_bounds": "plan",
                 "count_keys_per_bucket": "plan",
                 "_plan_snapshot": "plan", "_batch_lineage": "lineage",
                 "_finalize": "finalize", "write_docs_table": "finalize"}
TASK_ACCUMS = {"internal.metrics.executorRunTime": "executor_run_ms",
               "internal.metrics.shuffle.write.bytesWritten":
                   "shuffle_write_bytes",
               "data sent to Python workers": "py_bytes_in",
               "time to initialize Python workers": "py_init_ms",
               "time to run Python workers": "py_run_ms"}
TEMPLATE = ("wall_ms", "tasks", "wait_ms") + tuple(TASK_ACCUMS.values())


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.sc = None
        self.counts: Counter = Counter()
        self.kernel: Counter = Counter()

    def attach(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        request = sid if parent is None else self.spans[parent]["request"]
        rec = dict(id=sid, name=name, start=time.time(), end=None,
                   parent=parent, request=request)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def call(self, op: str):
        """A span whose Spark jobs carry the group ``op|span-id``."""
        with self.span(op) as rec:
            if self.sc is not None:
                self.sc.setJobGroup(f"{op}|{rec['id']}", op)
            try:
                yield rec
            finally:
                if self.sc is not None:
                    self.sc.setJobGroup("bench|idle", "bench")

    # -- kernel replay --------------------------------------------------
    def replay_kernels(self, spark, searcher, queries, engine_hits,
                       k: int = 10) -> None:
        """Re-run the engine's scoring kernels on the driver, once per
        scoring group, over the query's postings read through the
        catalog: kernel self time and postings rows/bytes without the
        Arrow crossing or worker start. The replayed top-k must equal
        the engine's."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.functions.bm25 import K1_PLUS_1, idf
        from lucene_solr_spark.indexing.build import (
            read_postings_any,
            read_segments_any,
        )
        from lucene_solr_spark.search.executor import (
            make_group_scorer,
            make_phrase_scorer,
        )

        snap, gf = searcher.snap, searcher.group_factor
        with self.call("trace.replay"):
            segs = read_segments_any(spark, snap.tables["segments"]).select(
                "seg_id", "doc_base", "doc_count", "norms_enc").toPandas()
            segs["gid"] = segs["seg_id"] // gf
            seg_groups = {int(g): p for g, p in segs.groupby("gid")}
            postings = read_postings_any(spark, snap.tables["postings"])
            for q, want in zip(queries, engine_hits):
                if want is None:
                    continue
                plan = searcher.plan(q["text"], k, q["mode"], q["mm"],
                                     q["exclude"])
                if q["kind"] == "phrase":
                    tp = searcher.analyzer.analyze_with_positions(q["text"])
                    offsets = [(t, p - tp[0][1]) for t, p in tp]
                    fetch = list(dict.fromkeys(t for t, _ in offsets))
                    empty = not tp or any(t not in plan.dfs for t in fetch)
                    if not empty:
                        w = np.float32(0.0)
                        for t, _ in offsets:
                            w = np.float32(w + idf(plan.dfs[t],
                                                   searcher.max_doc))
                        kernel = make_phrase_scorer(
                            offsets, np.float32(w * K1_PLUS_1),
                            searcher.cache, k)
                else:
                    fetch = plan.terms + plan.exclude_terms
                    empty = plan.empty
                    kernel = make_group_scorer(plan, True)
                got: List[Tuple[int, np.float32]] = []
                if not empty:
                    posts = postings.filter(F.col("term").isin(fetch)) \
                        .toPandas()
                    posts["gid"] = posts["seg_id"] // gf
                    self.kernel["postings_rows"] += len(posts)
                    self.kernel["postings_bytes"] += sum(
                        len(b) for c in ("doc_ids_enc", "tfs_enc",
                                         "skips_enc", "pos_enc")
                        for b in posts[c] if b is not None)
                    t0 = time.perf_counter()
                    for gid, g in posts.groupby("gid"):
                        out = kernel(g.sort_values(["term", "seg_id"]),
                                     seg_groups[int(gid)])
                        got += zip(out["doc_id"].tolist(),
                                   out["score"].astype(np.float32))
                    self.kernel["kernel_us"] += int(
                        (time.perf_counter() - t0) * 1e6)
                    got = sorted(got, key=lambda h: (-float(h[1]), h[0]))[:k]
                self.kernel["queries"] += 1
                self.kernel["mismatches"] += [
                    (d, np.float32(s).tobytes()) for d, s in got] != [
                    (d, np.float32(s).tobytes()) for d, s in want]

    # -- ledger ---------------------------------------------------------
    def layer_metrics(self, work: str, index_dir: str, input_bytes: int,
                      codegen_total: int) -> Dict[str, float]:
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        log = EventLog(os.path.join(work, "eventlog"))
        spans = {s["id"]: s for s in self.spans}
        calls = Counter(s["name"] for s in self.spans)
        # (phase, span id) -> intervals / task sums; span id -> intervals
        ivals: Dict[Tuple[str, int], list] = defaultdict(list)
        sums: Dict[Tuple[str, int], Counter] = defaultdict(Counter)
        span_ivals: Dict[int, list] = defaultdict(list)
        phase_jobs: Counter = Counter()
        prev_sub: Dict[int, str] = {}
        for job in log.jobs():
            op, _, sid = (job["group"] or "").partition("|")
            if not sid.isdigit() or int(sid) not in spans:
                continue
            sid = int(sid)
            phase = self._phase(op, job, log, prev_sub, sid)
            s = spans[sid]
            iv = (max(job["start"], s["start"] * 1e3),
                  min(job["end"], s["end"] * 1e3))
            ivals[phase, sid].append(iv)
            span_ivals[sid].append(iv)
            phase_jobs[phase] += 1
            for t in log.tasks_of(job["id"]):
                sums[phase, sid].update(t)

        out: Dict[str, float] = {}
        for phase in PHASES:
            n = sum(calls[o] for o in OWNERS.get(phase, (phase,)))
            keys = [key for key in ivals if key[0] == phase]
            tot = Counter()
            for key in keys:
                tot["wall_ms"] += union_ms(ivals[key])
                tot.update(sums[key])
            for m in TEMPLATE:
                out[f"{phase}.{m}"] = tot[m] / n if n else 0.0

        def driver_ms(ops) -> float:
            ss = [s for s in self.spans if s["name"] in ops]
            res = [(s["end"] - s["start"]) * 1e3 - union_ms(span_ivals[s["id"]])
                   for s in ss]
            return sum(res) / len(res) if res else 0.0

        n_q = sum(calls[o] for o in QUERY_OPS)
        n_single = calls[QUERY_OPS[0]] + calls[QUERY_OPS[1]]
        out["indexing.build.driver_ms"] = driver_ms(("indexing.build",))
        out["search.executor.driver_ms"] = driver_ms(QUERY_OPS)
        out["search.executor.jobs_per_query"] = (
            sum(len(span_ivals[s["id"]]) for s in self.spans
                if s["name"] in QUERY_OPS[:2]) / n_single
            if n_single else 0.0)
        out["search.executor.plan.df_probe_jobs"] = (
            phase_jobs["search.executor.plan"] / n_q if n_q else 0.0)
        nk = self.kernel["queries"]
        out["search.executor.kernel.kernel_ms"] = (
            self.kernel["kernel_us"] / 1e3 / nk if nk else 0.0)
        out["search.executor.kernel.postings_rows"] = (
            self.kernel["postings_rows"] / nk if nk else 0.0)
        out["search.executor.kernel.postings_bytes"] = (
            self.kernel["postings_bytes"] / nk if nk else 0.0)
        out["search.executor.kernel.replay_mismatches"] = float(
            self.kernel["mismatches"])

        from lucene_solr_spark.catalog import Catalog

        tb = table_bytes(Catalog(index_dir))
        for t in ("postings", "term_stats", "docs", "segments"):
            out[f"catalog.{t}_bytes"] = float(tb[t])
        out["catalog.snapshots"] = float(len(glob.glob(
            os.path.join(index_dir, "snapshots", "snap-*.json"))))
        out["catalog.bytes_written_per_input_byte"] = (
            dir_bytes(index_dir) / input_bytes)
        out["session.start_ms"] = sum(
            (s["end"] - s["start"]) * 1e3 for s in self.spans
            if s["name"] == "session.start")
        out["corpusgen.materialize_ms"] = sum(
            (s["end"] - s["start"]) * 1e3 for s in self.spans
            if s["name"] == "corpusgen.materialize")
        out["corpusgen.codegen_fallbacks"] = float(
            self.counts["corpusgen.codegen_fallbacks"])
        out["spark.codegen_fallbacks"] = float(codegen_total)
        out["spark.failed_tasks"] = float(log.failed_tasks)
        out["trace.max_sum_error_pct"] = self._sum_error(ivals, span_ivals)
        return out

    def _phase(self, op: str, job: dict, log: "EventLog",
               prev_sub: Dict[int, str], sid: int) -> str:
        func = callsite_function(job["callsite"])
        if op == "indexing.build":
            path = log.output_path(job["execution"]) or ""
            sub = (next((p for pat, p in BUILD_BY_PATH if pat in path), None)
                   or BUILD_BY_FUNC.get(func) or prev_sub.get(sid, "plan"))
            prev_sub[sid] = sub
            return f"indexing.build.{sub}"
        if op in QUERY_OPS and func == "_lookup_dfs":
            return "search.executor.plan"
        return op

    def _sum_error(self, ivals, span_ivals) -> float:
        """Largest |sum of phase walls + driver residual - call wall|, as
        a percentage of the call's wall time, over all traced calls."""
        by_span: Dict[int, float] = defaultdict(float)
        for (_phase, sid), iv in ivals.items():
            by_span[sid] += union_ms(iv)
        worst = 0.0
        for s in self.spans:
            wall = (s["end"] - s["start"]) * 1e3
            if s["id"] not in by_span or wall <= 0:
                continue
            resid = wall - union_ms(span_ivals[s["id"]])
            worst = max(worst, abs(by_span[s["id"]] + resid - wall)
                        / wall * 100)
        return worst


def union_ms(ivals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_FUNC_CACHE: Dict[str, list] = {}


def callsite_function(callsite: Optional[str]) -> Optional[str]:
    """Innermost function holding a ``"<action> at <file>:<line>"``
    call site; None unless the file is an engine source file."""
    m = re.match(r"\S+ at (.+):(\d+)$", callsite or "")
    if not m or "lucene_solr_spark" not in m.group(1):
        return None
    path, line = m.group(1), int(m.group(2))
    if path not in _FUNC_CACHE:
        try:
            with open(path) as f:
                tree = ast.parse(f.read())
        except OSError:
            tree = ast.Module(body=[], type_ignores=[])
        _FUNC_CACHE[path] = [
            (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    best = None
    for lo, hi, name in _FUNC_CACHE[path]:
        if lo <= line <= hi and (best is None or lo > best[0]):
            best = (lo, name)
    return best[1] if best else None


class EventLog:
    """The parts of a Spark event log the ledger needs. Handles the
    rolling ``eventlog_v2_*/events_N_*`` layout and a single file;
    the log must be written uncompressed."""

    def __init__(self, directory: str):
        files = glob.glob(os.path.join(directory, "eventlog_v2_*",
                                       "events_*"))
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        files += [p for p in glob.glob(os.path.join(directory, "*"))
                  if os.path.isfile(p)]
        self._jobs: Dict[int, dict] = {}
        self._stage_job: Dict[int, int] = {}
        self._stage_submit: Dict[int, int] = {}
        self._tasks: Dict[int, List[Counter]] = defaultdict(list)
        self._exec_out: Dict[int, str] = {}
        self.failed_tasks = 0
        for p in files:
            with open(p) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            ex = props.get("spark.sql.execution.id")
            self._jobs[jid] = dict(
                id=jid, group=props.get("spark.jobGroup.id"),
                callsite=props.get("callSite.short"),
                execution=int(ex) if ex is not None else None,
                start=e["Submission Time"], end=e["Submission Time"])
            for st in e.get("Stage IDs", []):
                self._stage_job.setdefault(st, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self._jobs:
                self._jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            if "Submission Time" in info:
                self._stage_submit.setdefault(info["Stage ID"],
                                              info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            jid = self._stage_job.get(e["Stage ID"])
            if info.get("Failed") or info.get("Killed"):
                self.failed_tasks += 1
            if jid is None:
                return
            c = Counter(tasks=1)
            sub = self._stage_submit.get(e["Stage ID"], info["Launch Time"])
            c["wait_ms"] = max(info["Launch Time"] - sub, 0)
            for a in info.get("Accumulables", []):
                name = TASK_ACCUMS.get(a.get("Name"))
                if name:
                    c[name] += int(a.get("Update") or 0)
            self._tasks[jid].append(c)
        elif kind.endswith("SQLExecutionStart"):
            # formatted plan: the write node's details block carries the
            # output path as its first argument
            m = re.search(r"Execute InsertIntoHadoopFsRelationCommand\n"
                          r"(?:.*\n)*?Arguments: ([^,\s]+)",
                          e.get("physicalPlanDescription", ""))
            if m:
                self._exec_out[e["executionId"]] = m.group(1)

    def jobs(self) -> List[dict]:
        return [self._jobs[j] for j in sorted(self._jobs)]

    def tasks_of(self, jid: int) -> List[Counter]:
        return self._tasks.get(jid, [])

    def output_path(self, execution: Optional[int]) -> Optional[str]:
        return self._exec_out.get(execution)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def table_bytes(cat) -> Counter:
    """Bytes on disk per table of the live snapshot. Build and append
    outputs hold postings (is_meta=false) and segment meta
    (is_meta=true) side by side; merged outputs hold postings only."""
    snap = cat.latest_at_stage("commit", "merge", "delete")
    t = snap.tables
    out: Counter = Counter()

    def as_list(x):
        return x if isinstance(x, list) else [x]

    for p in as_list(t["postings"]):
        split = os.path.join(p, "is_meta=false")
        out["postings"] += dir_bytes(split if os.path.isdir(split) else p)
    for p in as_list(t["segments"]):
        out["segments"] += dir_bytes(os.path.join(p, "is_meta=true"))
    out["term_stats"] += dir_bytes(t["term_stats"])
    for p in as_list(t["docs"]):
        out["docs"] += dir_bytes(p)
    if t.get("tombstones"):
        out["tombstones"] += dir_bytes(t["tombstones"])
    return out
