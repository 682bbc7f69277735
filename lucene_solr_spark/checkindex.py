"""CheckIndex analogue: distributed integrity verification of a
committed index snapshot.

Re-expresses the invariants Lucene's CheckIndex verifies
(`lucene/core/src/java/org/apache/lucene/index/CheckIndex.java` —
term checks: postings in docID order, docFreq/totalTermFreq agree with
the enumerated postings, `checkFields` ~:580-980; norms check :560-578;
stored-fields/doc-count cross-checks :980-1060) over the engine's
relational layout:

  1. codec structure  — every posting row decodes; docIDs strictly
     increasing; count == df; sum(tf) == cf; tf >= 1; skip entries'
     last_doc / count / max_tf match the decoded blocks (the block-max
     metadata WAND trusts).
  2. term stats       — the committed term_stats table equals a full
     recount (sum df / sum cf per term) from the postings themselves.
  3. collection stats — max_doc == segment doc_count sum == docs-table
     row count; sum_ttf == sum of per-doc lengths.
  4. norms            — each segment's norm bytes equal
     byte315(1/sqrt(doc_len)) recomputed from the stored doc lengths.
  5. docs table       — doc_ids unique and dense per segment range;
     doc key (repo, path, commit) unique among live docs.
  6. doc lengths      — per-doc sum(tf) over all terms equals the
     stored doc_len (valid for analyzers without posInc-0 injection;
     skipped otherwise, like CheckIndex skips checks the codec can't
     support).

All heavy passes are executor-side (mapInPandas over posting rows /
segment meta; one shuffle for the per-doc length recount); the driver
only collects per-check violation COUNTS plus a bounded sample of
offending keys — the shape that still works when the index is 100 TB.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


class CheckIndexFailure(RuntimeError):
    pass


_VIOL_SCHEMA = "term string, kind string, detail string"


def _check_posting_rows(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
    from lucene_solr_spark.indexing.codec import (decode_postings,
                                                  decode_skips)

    for pdf in batches:
        out = []
        for r in pdf.itertuples(index=False):
            term = r.term
            try:
                if r.sdoc is not None and not pd.isna(r.sdoc):
                    # singleton: df must be 1, no blocks
                    if int(r.df) != 1 or int(r.cf) != int(r.stf):
                        out.append((term, "singleton",
                                    f"df={r.df} cf={r.cf} stf={r.stf}"))
                    continue
                docs, tfs = decode_postings(
                    bytes(r.doc_ids_enc), bytes(r.tfs_enc),
                    bytes(r.skips_enc))
                skips = decode_skips(bytes(r.skips_enc))
            except Exception as e:  # decode failure IS the finding
                out.append((term, "decode", repr(e)[:200]))
                continue
            if len(docs) != int(r.df):
                out.append((term, "df", f"decoded={len(docs)} df={r.df}"))
            if int(tfs.sum()) != int(r.cf):
                out.append((term, "cf", f"sum_tf={tfs.sum()} cf={r.cf}"))
            if len(docs) and (np.diff(docs) <= 0).any():
                out.append((term, "order", "docIDs not strictly increasing"))
            if len(tfs) and int(tfs.min()) < 1:
                out.append((term, "tf", f"min_tf={tfs.min()}"))
            if int(skips["count"].sum()) != len(docs):
                out.append((term, "skip_count",
                            f"{skips['count'].sum()} != {len(docs)}"))
            off = 0
            for s in skips:
                n = int(s["count"])
                blk_docs = docs[off:off + n]
                blk_tfs = tfs[off:off + n]
                off += n
                if not n:
                    continue
                if int(blk_docs[-1]) != int(s["last_doc"]):
                    out.append((term, "skip_last",
                                f"{blk_docs[-1]} != {s['last_doc']}"))
                if int(blk_tfs.max()) != int(s["max_tf"]):
                    out.append((term, "skip_max_tf",
                                f"{blk_tfs.max()} != {s['max_tf']}"))
        yield pd.DataFrame(out, columns=["term", "kind", "detail"])


def _check_segment_meta(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
    from lucene_solr_spark.functions.smallfloat import float_to_byte315

    for pdf in batches:
        out = []
        for r in pdf.itertuples(index=False):
            n = int(r.doc_count)
            lens = np.frombuffer(r.doc_lens_enc, dtype="<i4")[:n]
            norms = np.frombuffer(r.norms_enc, dtype=np.uint8)[:n]
            with np.errstate(divide="ignore"):
                inv = np.float32(1.0) / np.sqrt(lens.astype(np.float64)
                                                ).astype(np.float32)
            want = float_to_byte315(inv.astype(np.float32))
            want = np.where(lens == 0, np.uint8(255), want)
            bad = int((want != norms).sum())
            if bad:
                out.append((f"seg:{r.doc_base}", "norms",
                            f"{bad} mismatching norm bytes"))
            if int(r.sum_len) != int(lens.sum()):
                out.append((f"seg:{r.doc_base}", "sum_len",
                            f"{lens.sum()} != {r.sum_len}"))
        yield pd.DataFrame(out, columns=["term", "kind", "detail"])


def check_index(spark: SparkSession, index_dir: str,
                check_doc_lens: bool = True, sample: int = 20,
                raise_on_failure: bool = False) -> dict:
    """Verify a committed snapshot. Returns
    {ok, checks: {name: violation_count}, samples: [...]}."""
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.indexing.build import (_as_list,
                                                  read_postings_any,
                                                  read_segments_any)

    snap = Catalog(index_dir).latest()
    if snap is None:
        raise CheckIndexFailure(f"no committed snapshot in {index_dir}")
    posts = read_postings_any(spark, snap.tables["postings"])
    segs = read_segments_any(spark, snap.tables["segments"])
    docs = spark.read.parquet(*_as_list(snap.tables["docs"]))
    tomb_path = snap.tables.get("tombstones")
    live = docs
    if tomb_path:
        tomb = spark.read.parquet(tomb_path)
        live = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")

    checks: dict = {}
    samples: list = []

    def record(name: str, viol_df):
        cnt = viol_df.count()
        checks[name] = int(cnt)
        if cnt:
            samples.extend(
                (name,) + tuple(r) for r in viol_df.limit(sample).collect())

    # 1. codec structure (distributed decode of every posting row)
    record("codec", posts.mapInPandas(_check_posting_rows,
                                      schema=_VIOL_SCHEMA))

    # 2. term stats parity: full recount vs committed table
    recount = posts.groupBy("term").agg(
        F.sum("df").alias("rdf"), F.sum("cf").alias("rcf"))
    ts = spark.read.parquet(snap.tables["term_stats"])
    record(
        "term_stats",
        ts.join(recount, "term", "full")
        .filter((F.col("df") != F.col("rdf"))
                | (F.col("cf") != F.col("rcf"))
                | F.col("df").isNull() | F.col("rdf").isNull())
        .select("term", F.lit("term_stats").alias("kind"),
                F.concat_ws(" ", "df", "rdf", "cf", "rcf").alias("detail")),
    )

    # 3. collection stats vs segment meta vs docs table
    meta = segs.select("doc_base", "doc_count", "sum_len")
    agg = meta.agg(F.sum("doc_count").alias("n"),
                   F.sum("sum_len").alias("ttf")).collect()[0]
    import json

    with open(snap.tables["collection_stats"]) as f:
        cs = json.load(f)
    n_docs = docs.count()
    coll_bad = []
    if int(cs["max_doc"]) != int(agg["n"]) or int(agg["n"]) != n_docs:
        coll_bad.append(f"max_doc {cs['max_doc']} segs {agg['n']} "
                        f"docs {n_docs}")
    if int(cs["sum_total_term_freq"]) != int(agg["ttf"]):
        coll_bad.append(f"sum_ttf {cs['sum_total_term_freq']} "
                        f"!= {agg['ttf']}")
    checks["collection_stats"] = len(coll_bad)
    samples.extend(("collection_stats", "-", "coll", d) for d in coll_bad)

    # 4. norms recompute (per segment meta row, executor-side)
    record("norms", segs.select(
        "doc_base", "doc_count", "sum_len", "norms_enc", "doc_lens_enc"
    ).mapInPandas(_check_segment_meta, schema=_VIOL_SCHEMA))

    # 5. docs table: doc_id dense + unique; live doc-key unique
    dup_ids = (docs.groupBy("doc_id").count().filter("count > 1"))
    checks["doc_id_unique"] = dup_ids.count()
    dup_keys = (live.groupBy("repo", "path", "commit").count()
                .filter("count > 1"))
    checks["live_key_unique"] = dup_keys.count()
    if (snap.props or {}).get("exorcised_ranges"):
        # exorcise physically removes whole docID ranges (CheckIndex
        # -fix); the declared holes make density unverifiable, like
        # Lucene skipping checks the commit says don't apply
        checks["doc_id_dense"] = 0
    else:
        id_range = docs.agg(F.min("doc_id").alias("lo"),
                            F.max("doc_id").alias("hi")).collect()[0]
        dense = (n_docs == 0
                 or (int(id_range["lo"]) == 0
                     and int(id_range["hi"]) == n_docs - 1))
        checks["doc_id_dense"] = 0 if dense else 1

    # 6. per-doc length recount from postings (one shuffle), analyzer-
    # gated: posInc-0 injecting chains store discountOverlaps lengths
    analyzer = (snap.props or {}).get("analyzer", "standard")
    one_to_one = {"standard", "whitespace", "simple", "stop", "keyword",
                  "english"}
    if check_doc_lens and analyzer in one_to_one:
        def explode_doc_tf(batches):
            from lucene_solr_spark.indexing.codec import decode_postings
            for pdf in batches:
                ds, ts_ = [], []
                for r in pdf.itertuples(index=False):
                    if r.sdoc is not None and not pd.isna(r.sdoc):
                        ds.append(np.array([int(r.sdoc)], dtype=np.int64))
                        ts_.append(np.array([int(r.stf)], dtype=np.int64))
                        continue
                    try:
                        d, t = decode_postings(
                            bytes(r.doc_ids_enc), bytes(r.tfs_enc),
                            bytes(r.skips_enc))
                    except Exception:
                        # undecodable row: already reported by the
                        # codec check; its docs surface here as length
                        # mismatches instead of killing the audit job
                        continue
                    ds.append(d.astype(np.int64))
                    ts_.append(t.astype(np.int64))
                if ds:
                    yield pd.DataFrame({
                        "doc_id": np.concatenate(ds),
                        "tf": np.concatenate(ts_)})

        per_doc = (
            posts.mapInPandas(explode_doc_tf, schema="doc_id long, tf long")
            .groupBy("doc_id").agg(F.sum("tf").alias("rlen"))
        )

        def seg_lens(batches):
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    n = int(r.doc_count)
                    lens = np.frombuffer(r.doc_lens_enc, dtype="<i4")[:n]
                    yield pd.DataFrame({
                        "doc_id": np.arange(n, dtype=np.int64)
                        + int(r.doc_base),
                        "doc_len": lens.astype(np.int64)})

        stored = segs.select("doc_base", "doc_count", "doc_lens_enc") \
            .mapInPandas(seg_lens, schema="doc_id long, doc_len long")
        record(
            "doc_lens",
            stored.join(per_doc, "doc_id", "left")
            .filter(F.coalesce(F.col("rlen"), F.lit(0))
                    != F.col("doc_len"))
            .select(F.col("doc_id").cast("string").alias("term"),
                    F.lit("doc_len").alias("kind"),
                    F.concat_ws(" ", "doc_len", "rlen").alias("detail")),
        )

    ok = all(v == 0 for v in checks.values())
    result = {"ok": ok, "checks": checks, "samples": samples[:200]}
    if raise_on_failure and not ok:
        raise CheckIndexFailure(str(result))
    return result


# ---------------------------------------------------------------------------
# exorcise: CheckIndex -fix
# ---------------------------------------------------------------------------

def find_undecodable_segments(spark: SparkSession, index_dir: str) -> list:
    """Attribution pass for exorcise: seg_ids of posting rows that fail
    to decode or whose decoded stream contradicts df/cf/order, expanded
    to the full scoring group when the index has been merged (a merged
    row aggregates its group's original segments, so the quarantine
    unit is the group; CheckIndex likewise drops whole segments, not
    documents)."""
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.indexing.build import (read_postings_any,
                                                  read_segments_any)

    snap = Catalog(index_dir).latest()
    posts = read_postings_any(spark, snap.tables["postings"])

    def bad_segids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lucene_solr_spark.indexing.codec import decode_postings
        for pdf in batches:
            bad = set()
            for r in pdf.itertuples(index=False):
                if r.sdoc is not None and not pd.isna(r.sdoc):
                    if int(r.df) != 1 or int(r.cf) != int(r.stf):
                        bad.add(int(r.seg_id))
                    continue
                try:
                    docs, tfs = decode_postings(
                        bytes(r.doc_ids_enc), bytes(r.tfs_enc),
                        bytes(r.skips_enc))
                    ok = (len(docs) == int(r.df)
                          and int(tfs.sum()) == int(r.cf)
                          and (len(docs) < 2
                               or bool((np.diff(docs) > 0).all())))
                except Exception:
                    ok = False
                if not ok:
                    bad.add(int(r.seg_id))
            yield pd.DataFrame({"seg_id": sorted(bad)})

    flagged = {int(r["seg_id"]) for r in
               posts.mapInPandas(bad_segids, schema="seg_id long")
               .distinct().collect()}
    if not flagged:
        return []
    # a merged row aggregates every segment of its scoring group, so
    # attribution widens to the group — but ONLY if the index has ever
    # been merged (walk the snapshot chain); fresh rows are 1:1 with
    # segments and quarantine stays surgical
    cat = Catalog(index_dir)
    merged = False
    s = snap
    while s is not None:
        if s.stage == "merge":
            merged = True
            break
        s = cat.load_or_none(s.parent) if s.parent is not None else None
    if not merged:
        return sorted(flagged)
    gfac = int(snap.props.get("group_factor", 1))
    segs = read_segments_any(spark, snap.tables["segments"])
    gids = {s // gfac for s in flagged}
    return sorted(
        int(r["seg_id"]) for r in segs.select("seg_id").collect()
        if int(r["seg_id"]) // gfac in gids
    )


def exorcise(spark: SparkSession, index_dir: str,
             bad_seg_ids=None) -> "Snapshot":
    """CheckIndex -fix (CheckIndex.java main/exorcise path: rewrite the
    commit WITHOUT the unrecoverable segments, losing their documents).

    Quarantines the given segments (default: auto-attribution via
    find_undecodable_segments) and commits a repaired generation:

      - postings rewritten WITHOUT the quarantined doc ranges — rows
        fully inside the ranges drop; rows straddling them are decoded,
        filtered and re-encoded executor-side (positions re-deltaed;
        block-max norm bytes carry the row's previous max, a valid =
        conservative WAND upper bound); untouched rows pass through
        byte-identical,
      - segment metas (and with them norms / doc-length sidecars) of
        quarantined segments drop,
      - docs table rows in the ranges drop; tombstones referencing them
        are folded away,
      - term_stats / collection_stats are RECOMPUTED from the surviving
        postings — unlike tombstone deletes (maxDoc semantics), exorcise
        physically removes the segments' stats, matching Lucene where
        the dropped SegmentInfo's stats vanish from segments_N.

    Everything stays distributed: the rewrite is one mapInPandas pass
    over postings, stats are one groupBy; the only driver-side data is
    the (small) quarantine range list, which is also recorded in the
    snapshot props as lineage."""
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.indexing.build import (_as_list,
                                                  read_postings_any,
                                                  read_segments_any,
                                                  write_term_stats)

    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise CheckIndexFailure(f"no committed index at {index_dir}")
    if bad_seg_ids is None:
        bad_seg_ids = find_undecodable_segments(spark, index_dir)
    bad_seg_ids = sorted(int(s) for s in bad_seg_ids)
    if not bad_seg_ids:
        return snap

    segs = read_segments_any(spark, snap.tables["segments"])
    meta_rows = segs.select("seg_id", "doc_base", "doc_count").collect()
    bad_set = set(bad_seg_ids)
    ranges = sorted(
        (int(r["doc_base"]), int(r["doc_base"]) + int(r["doc_count"]))
        for r in meta_rows if int(r["seg_id"]) in bad_set
    )
    if len(ranges) != len(bad_seg_ids):
        missing = bad_set - {int(r["seg_id"]) for r in meta_rows}
        raise CheckIndexFailure(f"unknown seg_ids: {sorted(missing)}")

    posts = read_postings_any(spark, snap.tables["postings"])
    rewritten = posts.mapInPandas(
        _make_exorcise_rewriter(ranges), schema=_EXO_SCHEMA
    )
    gen = snap.snapshot_id + 1
    posts_path = cat.path("exorcised", f"gen-{gen}", "postings")
    (
        rewritten.repartitionByRange(
            spark.sparkContext.defaultParallelism, "term", "seg_id")
        .sortWithinPartitions("term", "seg_id")
        .write.mode("overwrite").parquet(posts_path)
    )
    posts_new = spark.read.parquet(posts_path)

    # surviving segment metas (combined-dir layout so read_segments_any
    # keeps working on the new path)
    segs_path = cat.path("exorcised", f"gen-{gen}", "segments")
    (
        segs.filter(~F.col("seg_id").isin(bad_seg_ids))
        .withColumn("is_meta", F.lit(True))
        .write.mode("overwrite").partitionBy("is_meta").parquet(segs_path)
    )

    # docs table minus the quarantined ranges
    in_bad = None
    for lo, hi in ranges:
        c = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        in_bad = c if in_bad is None else (in_bad | c)
    docs = spark.read.parquet(*_as_list(snap.tables["docs"]))
    docs_path = cat.path("exorcised", f"gen-{gen}", "docs")
    docs.filter(~in_bad).write.mode("overwrite").parquet(docs_path)

    tables = dict(snap.tables)
    tables["postings"] = posts_path
    tables["segments"] = segs_path
    tables["docs"] = docs_path
    tomb = snap.tables.get("tombstones")
    if tomb:
        tomb_path = cat.path("exorcised", f"gen-{gen}", "tombstones")
        (spark.read.parquet(tomb).filter(~in_bad)
         .write.mode("overwrite").parquet(tomb_path))
        tables["tombstones"] = tomb_path

    # stats recomputed from what survived
    agg = (read_segments_any(spark, segs_path)
           .agg(F.sum("doc_count").alias("n"),
                F.sum("sum_len").alias("ttf")).collect()[0])
    ts_path = cat.path("exorcised", f"gen-{gen}", "term_stats")
    write_term_stats(
        posts_new.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        ts_path, int(agg["n"] or 0),
    )
    tables["term_stats"] = ts_path
    import json as _json
    import os as _os
    coll_path = cat.path("exorcised", f"gen-{gen}", "collection.json")
    _os.makedirs(_os.path.dirname(coll_path), exist_ok=True)
    with open(coll_path, "w") as f:
        _json.dump({"max_doc": int(agg["n"] or 0),
                    "sum_total_term_freq": int(agg["ttf"] or 0)}, f)
    tables["collection_stats"] = coll_path

    props = dict(snap.props)
    props["exorcised_seg_ids"] = (
        list(props.get("exorcised_seg_ids", [])) + bad_seg_ids)
    props["exorcised_ranges"] = (
        list(props.get("exorcised_ranges", []))
        + [[lo, hi] for lo, hi in ranges])
    return cat.commit("commit", tables=tables, props=props,
                      lineage=snap.lineage)


_EXO_SCHEMA = (
    "term string, seg_id long, df long, cf long, doc_ids_enc binary, "
    "tfs_enc binary, skips_enc binary, pos_enc binary, pos_cnts binary, "
    "sdoc long, stf long"
)


def _make_exorcise_rewriter(ranges):
    rlist = [(int(lo), int(hi)) for lo, hi in ranges]

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lucene_solr_spark.indexing.codec import (
            decode_postings, decode_prox_parts, decode_skips,
            deltas_from_positions, encode_postings, encode_prox,
            positions_from_deltas)

        def bad_mask(doc_ids: np.ndarray) -> np.ndarray:
            m = np.zeros(len(doc_ids), bool)
            for lo, hi in rlist:
                m |= (doc_ids >= lo) & (doc_ids < hi)
            return m

        cols = ["term", "seg_id", "df", "cf", "doc_ids_enc", "tfs_enc",
                "skips_enc", "pos_enc", "pos_cnts", "sdoc", "stf"]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if r.sdoc is not None and not pd.isna(r.sdoc):
                    d = int(r.sdoc)
                    if any(lo <= d < hi for lo, hi in rlist):
                        continue
                    out.append(tuple(getattr(r, c) for c in cols))
                    continue
                try:
                    docs, tfs = decode_postings(
                        bytes(r.doc_ids_enc), bytes(r.tfs_enc),
                        bytes(r.skips_enc))
                except Exception:
                    # undecodable row = the corruption being exorcised;
                    # the whole row's data is lost (CheckIndex -fix
                    # loses the segment's documents the same way)
                    continue
                drop = bad_mask(docs)
                if not drop.any():
                    out.append(tuple(getattr(r, c) for c in cols))
                    continue
                keep = ~drop
                if not keep.any():
                    continue
                docs_k = docs[keep]
                tfs_k = tfs[keep]
                pos_enc_new = None
                if r.pos_enc is not None:
                    cnts = (None if r.pos_cnts is None
                            else np.frombuffer(r.pos_cnts, "<i8"))
                    deltas = decode_prox_parts(
                        bytes(r.pos_enc), cnts, int(tfs.sum()))
                    flat_pos = positions_from_deltas(deltas, tfs)
                    keep_flat = np.repeat(keep, tfs)
                    new_deltas = deltas_from_positions(
                        flat_pos[keep_flat], tfs_k)
                    pos_enc_new = encode_prox(new_deltas.astype(np.uint64))
                if len(docs_k) == 1:
                    out.append((r.term, int(r.seg_id), 1, int(tfs_k[0]),
                                None, None, None, pos_enc_new, None,
                                int(docs_k[0]), int(tfs_k[0])))
                    continue
                # conservative block-max norm byte: the row's previous
                # max stays a valid upper bound after dropping docs
                max_nb = int(decode_skips(bytes(r.skips_enc))["max_nb"].max())
                nb = np.full(len(docs_k), max_nb, np.uint8)
                d_enc, t_enc, s_enc = encode_postings(docs_k, tfs_k, nb)
                out.append((r.term, int(r.seg_id), int(len(docs_k)),
                            int(tfs_k.sum()), d_enc, t_enc, s_enc,
                            pos_enc_new, None, None, None))
            yield pd.DataFrame(out, columns=cols)

    return rewrite


# ---------------------------------------------------------------------------
# upgrade_codec: IndexUpgrader
# ---------------------------------------------------------------------------

def upgrade_codec(spark: SparkSession, index_dir: str,
                  codec: str = "vint_tail") -> "Snapshot":
    """IndexUpgrader analogue (lucene/core/src/java/org/apache/lucene/
    index/IndexUpgrader.java: forceMerge-driven rewrite of every
    segment under the current codec). Ours rewrites every encoded
    posting row into the target block family in ONE mapInPandas pass —
    decode with the self-describing reader, re-encode with the target
    writer — and commits a new generation with the codec prop repinned
    so every future flush/append writes the same family. Decoded
    content is bit-identical by construction (the codec families share
    the logical model), so scores, ranks, positions and stats are
    unchanged; only the block bytes differ. Skip metadata (incl.
    block-max) is rebuilt from the decoded stream with per-block true
    maxima (tf) and the row's previous norm-byte maximum (same
    conservative bound as exorcise)."""
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.indexing.codec import CODEC_FAMILIES
    from lucene_solr_spark.indexing.build import read_postings_any

    if codec not in CODEC_FAMILIES:
        raise ValueError(f"unknown codec {codec!r}")
    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise CheckIndexFailure(f"no committed index at {index_dir}")

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lucene_solr_spark.indexing.codec import (
            decode_postings, decode_prox_parts, decode_skips,
            deltas_from_positions, encode_postings, encode_prox)
        cols = ["term", "seg_id", "df", "cf", "doc_ids_enc", "tfs_enc",
                "skips_enc", "pos_enc", "pos_cnts", "sdoc", "stf"]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if r.sdoc is not None and not pd.isna(r.sdoc):
                    out.append(tuple(getattr(r, c) for c in cols))
                    continue
                docs, tfs = decode_postings(
                    bytes(r.doc_ids_enc), bytes(r.tfs_enc),
                    bytes(r.skips_enc))
                max_nb = int(decode_skips(
                    bytes(r.skips_enc))["max_nb"].max())
                nb = np.full(len(docs), max_nb, np.uint8)
                d_enc, t_enc, s_enc = encode_postings(
                    docs, tfs, nb, codec=codec)
                pos_enc_new, cnts_new = r.pos_enc, r.pos_cnts
                if r.pos_enc is not None:
                    cnts = (None if r.pos_cnts is None
                            else np.frombuffer(r.pos_cnts, "<i8"))
                    deltas = decode_prox_parts(
                        bytes(r.pos_enc), cnts, int(tfs.sum()))
                    # re-chunk as one fresh part (positions themselves
                    # are unchanged; prox blocks always FOR-pack)
                    from lucene_solr_spark.indexing.codec import (
                        positions_from_deltas)
                    flat = positions_from_deltas(deltas, tfs)
                    pos_enc_new = encode_prox(
                        deltas_from_positions(flat, tfs).astype(np.uint64))
                    cnts_new = None
                out.append((r.term, int(r.seg_id), int(r.df), int(r.cf),
                            d_enc, t_enc, s_enc, pos_enc_new, cnts_new,
                            None, None))
            yield pd.DataFrame(out, columns=cols)

    posts = read_postings_any(spark, snap.tables["postings"])
    gen = snap.snapshot_id + 1
    out_path = cat.path("upgraded", f"gen-{gen}")
    (
        posts.mapInPandas(rewrite, schema=_EXO_SCHEMA)
        .repartitionByRange(
            spark.sparkContext.defaultParallelism, "term", "seg_id")
        .sortWithinPartitions("term", "seg_id")
        .write.mode("overwrite").parquet(out_path)
    )
    tables = dict(snap.tables)
    tables["postings"] = out_path
    return cat.commit(
        "commit", tables=tables,
        props={**snap.props, "codec": codec,
               "upgraded_from": snap.props.get("codec", "for128")},
        lineage=snap.lineage,
    )
