"""Search-result clustering (solr/contrib/clustering/: Clustering
Component.java, SearchClusteringEngine.java, carrot2/
CarrotClusteringEngine.java).

The reference contrib is the integration layer over the pluggable
Carrot2 algorithms; the algorithm this module ships is Suffix Tree
Clustering (STC) — the published Zamir & Etzioni SIGIR'98 algorithm
Carrot2 bundles — re-expressed over DataFrames:

1. base clusters: word n-grams (1..max_phrase_len) over the analyzed,
   stop-filtered token stream with positional holes (a phrase never
   spans a removed stopword), counted once per doc; keep phrases with
   df >= min_base_docs; score s(B) = |B| * f(|P|) with the paper's
   single-word penalty f(1)=0.5 and f(n)=n otherwise (capped at 6),
2. keep the top max_base_clusters base clusters (score desc, phrase
   asc — the deterministic stand-in for the paper's unordered top-k),
3. merge: base clusters A,B connect when |A∩B|/|A| > 0.5 AND
   |A∩B|/|B| > 0.5 (the paper's binary similarity); clusters are the
   connected components,
4. every cluster is labeled by its highest-scoring base phrase
   (tie: label asc), scored by the sum of member base-cluster scores;
   docs in no cluster land in the trailing 'Other Topics' group, like
   CarrotClusteringEngine's carrot2 "Other Topics" output.

Scale shape: token/phrase extraction and the base-cluster selection
are DataFrame aggregations. Hit sets up to ``driver_member_cap``
(200k docs) then finish DRIVER-SIDE from one per-phrase doc-set
aggregation (<= max_base_clusters rows) — pair overlaps, union-find,
labels and docs_csv are set algebra over those lists, the same
division of labor as the reference, which runs the Carrot2 algorithm
on the head node over result snippets while the index stays
distributed (and the docs_csv output contract already pages every
member id through the driver). Above the cap the distributed path
runs: pairwise-overlap aggregation ships only base-cluster METADATA
(phrase, df, pair overlaps) to the driver-side union-find and doc
membership never leaves the executors."""

from __future__ import annotations

from typing import Dict, List

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# f(|P|): single-word penalty 0.5, linear 2..6, capped (Zamir-Etzioni)
def _phrase_weight(n: int) -> float:
    return 0.5 if n == 1 else float(min(n, 6))


def _phrases(df: DataFrame, text_col: str, id_col: str,
             analyzer_name: str, min_phrase_len: int,
             max_phrase_len: int) -> DataFrame:
    """(doc_id, phrase, n) once per doc. Phrases are runs of
    CONSECUTIVE positions, so a stopword hole breaks the phrase.

    The n-gram walk happens inside the tokenizer's Arrow UDF (a few
    list ops per row) instead of n-1 chained per-doc position
    self-joins — one pass over the corpus, no join, and the result is
    reused by every downstream action via persist in stc_clusters."""
    from pyspark.sql.functions import pandas_udf

    from lucene_solr_spark.functions.analysis import get_analyzer

    spec = get_analyzer(analyzer_name)
    lo, hi = int(min_phrase_len), int(max_phrase_len)

    @pandas_udf("array<struct<phrase:string,n:int>>")
    def phr(texts: pd.Series) -> pd.Series:
        awp = spec.analyze_with_positions

        def one(t):
            tp = awp(t or "")
            out = set()
            for i, (w, p) in enumerate(tp):
                if lo <= 1:
                    out.add((w, 1))
                cur = w
                for n in range(2, hi + 1):
                    j = i + n - 1
                    if j >= len(tp) or tp[j][1] != p + n - 1:
                        break
                    cur = cur + " " + tp[j][0]
                    if n >= lo:
                        out.add((cur, n))
            return list(out)

        return texts.map(one)

    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(phr(F.col(text_col))).alias("t"))
            .select("doc_id", F.col("t.phrase").alias("phrase"),
                    F.col("t.n").alias("n")))


def stc_clusters(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 analyzer: str = "standard",
                 min_phrase_len: int = 1,
                 max_phrase_len: int = 3,
                 min_base_docs: int = 2,
                 max_base_clusters: int = 30,
                 merge_threshold: float = 0.5,
                 other_label: str = "Other Topics",
                 driver_member_cap: int = 200_000) -> DataFrame:
    """Cluster the documents of ``df`` (typically a query's hit set
    joined to its snippet field, SearchClusteringEngine.cluster).
    Returns (label, n_docs, score, docs_csv) ordered score desc,
    label asc.

    Execution: the hit set and the phrase table are persisted once;
    after the top-k base-cluster collect, hit sets up to
    ``driver_member_cap`` docs finish DRIVER-SIDE from one
    per-phrase doc-set aggregation (<= max_base_clusters rows) —
    pair overlaps, union-find, labels, docs_csv and the Other tail
    are all set algebra over those <= k lists, zero further
    distributed jobs. This is the reference's own division of labor
    (CarrotClusteringEngine ships RESULT SNIPPETS to the head node
    and clusters there), and the output contract (docs_csv) already
    carries every member doc id through the driver. Above the cap —
    hit sets too big to page through the driver — the distributed
    path runs: pairwise-overlap aggregation for the union-find
    metadata, membership stays on the executors."""
    spark = df.sparkSession
    # cache the hit set for the call unless the caller already did;
    # a caller's cache must outlive the call
    own_cache = df.storageLevel == StorageLevel.NONE
    if own_cache:
        df = df.persist()
    member_all = _phrases(df, text_col, id_col, analyzer,
                          min_phrase_len, max_phrase_len).persist()
    base = (member_all.groupBy("phrase", "n")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_base_docs))
    wmap = F.when(F.col("n") == 1, F.lit(0.5)) \
            .otherwise(F.least(F.col("n"), F.lit(6)).cast("double"))
    base = base.withColumn("score", F.col("df") * wmap)
    top = (base.orderBy(F.desc("score"), F.asc("phrase"))
           .limit(max_base_clusters)
           .select("phrase", "df", "score").collect())
    if not top:
        member_all.unpersist(blocking=False)
        docs = sorted(r["doc_id"]
                      for r in df.select(id_col).distinct().collect())
        if own_cache:
            df.unpersist(blocking=False)
        return spark.createDataFrame(
            [(other_label, len(docs),
              0.0, ",".join(str(d) for d in docs))],
            "label string, n_docs long, score double, docs_csv string")
    info: Dict[str, dict] = {r["phrase"]: {"df": r["df"],
                                           "score": r["score"]}
                             for r in top}
    sel = list(info)
    member = member_all.filter(F.col("phrase").isin(sel)) \
        .select("doc_id", "phrase")

    # driver union-find over <= max_base_clusters nodes
    parent = {p: p for p in sel}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def merge_pairs(pair_rows):
        for pa, pb, c in pair_rows:
            if (c / info[pa]["df"] > merge_threshold
                    and c / info[pb]["df"] > merge_threshold):
                ra, rb = find(pa), find(pb)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)

    def label_components():
        comp = {p: find(p) for p in sel}
        agg: Dict[str, dict] = {}
        for p in sel:
            c = comp[p]
            e = agg.setdefault(c, {"score": 0.0, "best": None})
            e["score"] += info[p]["score"]
            key = (-info[p]["score"], p)
            if e["best"] is None or key < e["best"]:
                e["best"] = key
        labels = {c: e["best"][1] for c, e in agg.items()}
        return comp, agg, labels

    n_hits = df.count()          # cheap: cached by the phrase job
    if n_hits <= driver_member_cap:
        # one tiny aggregation: per-phrase doc sets, <= k rows
        plists = {
            r["phrase"]: set(r["ds"])
            for r in member.groupBy("phrase")
            .agg(F.collect_set(F.col("doc_id").cast("long"))
                 .alias("ds")).collect()
        }
        hit_ids = {int(r[0])
                   for r in df.select(id_col).distinct().collect()}
        member_all.unpersist(blocking=False)
        if own_cache:
            df.unpersist(blocking=False)
        sets = [plists.get(p, set()) for p in sel]
        merge_pairs(
            (sel[i], sel[j], len(sets[i] & sets[j]))
            for i in range(len(sel)) for j in range(i + 1, len(sel)))
        comp, agg, labels = label_components()
        docs_by_root: Dict[str, set] = {}
        for p in sel:
            docs_by_root.setdefault(comp[p], set()) \
                .update(plists.get(p, ()))
        rows = [(labels[c], len(docs_by_root[c]),
                 float(agg[c]["score"]),
                 ",".join(str(d) for d in sorted(docs_by_root[c])))
                for c in agg]
        covered = set().union(*sets) if sets else set()
        others = sorted(hit_ids - covered)
        if others:
            rows.append((other_label, len(others), 0.0,
                         ",".join(str(d) for d in others)))
        return spark.createDataFrame(
            rows,
            "label string, n_docs long, score double, docs_csv string"
        ).orderBy(F.desc("score"), F.asc("label"))

    # distributed path: pairwise overlaps as metadata, membership
    # stays on the executors
    a = member.alias("a")
    b = member.alias("b")
    pairs = (a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
             .filter(F.col("a.phrase") < F.col("b.phrase"))
             .groupBy(F.col("a.phrase").alias("pa"),
                      F.col("b.phrase").alias("pb"))
             .agg(F.count(F.lit(1)).alias("common"))
             .collect())
    merge_pairs((r["pa"], r["pb"], r["common"]) for r in pairs)
    comp, agg, labels = label_components()
    cmap = spark.createDataFrame(
        [(p, labels[comp[p]]) for p in sel], "phrase string, label string")
    clustered = (member.join(F.broadcast(cmap), "phrase")
                 .groupBy("label")
                 .agg(F.count_distinct("doc_id").alias("n_docs"),
                      F.concat_ws(",", F.sort_array(
                          F.collect_set(F.col("doc_id").cast("long"))))
                      .alias("docs_csv")))
    scores = spark.createDataFrame(
        [(labels[c], float(e["score"])) for c, e in agg.items()],
        "label string, score double")
    clustered = clustered.join(F.broadcast(scores), "label")
    other = (df.select(F.col(id_col).alias("doc_id")).distinct()
             .join(member.select("doc_id").distinct(), "doc_id",
                   "left_anti")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.concat_ws(",", F.sort_array(
                      F.collect_set(F.col("doc_id").cast("long"))))
                  .alias("docs_csv"))
             .select(F.lit(other_label).alias("label"),
                     "n_docs", F.lit(0.0).alias("score"), "docs_csv")
             .filter(F.col("n_docs") > 0))
    out = clustered.select("label", "n_docs", "score", "docs_csv") \
        .unionAll(other.select("label", "n_docs", "score", "docs_csv"))
    # materialize eagerly (<= max_base_clusters + 1 tiny rows) so the
    # persisted phrase table can be released before returning
    rows = (out.withColumn("n_docs", F.col("n_docs").cast("long"))
            .orderBy(F.desc("score"), F.asc("label")).collect())
    member_all.unpersist(blocking=False)
    if own_cache:
        df.unpersist(blocking=False)
    return spark.createDataFrame(
        rows, "label string, n_docs long, score double, docs_csv string"
    ).orderBy(F.desc("score"), F.asc("label"))
