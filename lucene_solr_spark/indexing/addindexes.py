"""IndexWriter.addIndexes — merge foreign committed indexes into one.

Reference: ``IndexWriter.addIndexes(Directory...)``
(lucene/core/.../index/IndexWriter.java, addIndexes(Directory...) —
copies source segments verbatim, assigning each a docBase offset; no
re-analysis, no posting decode for untouched segments) and the
``IndexMergeTool`` driver around it
(lucene/misc/.../misc/IndexMergeTool.java:31-49).

Relational re-expression: a source index's posting rows and segment
meta rows are REBASED by the destination's current maxDoc and appended
as a new storage generation:

- docIDs inside posting blobs are anchored ONLY by each skip entry's
  ``base`` field (blocks store d-gaps; the first block's base is -1),
  so the docID shift is a numpy rewrite of the 33-byte skip entries —
  block payload bytes are untouched, exactly the reference's
  copy-don't-decode fast path.
- the destination addresses scoring groups as ``seg_id //
  group_factor`` windows (build.py ``_make_merge_udf`` invariant: a row
  never crosses a window). A shifted source row that would straddle a
  destination window boundary is decoded, split at the boundary, and
  re-encoded per piece (block-max metadata stays a valid upper bound:
  each doc inherits its original block's max_nb). Rows that don't
  straddle — the overwhelming majority when maxDoc ≫ group_factor —
  are metadata-only.
- term/collection statistics merge by summation (Lucene's segment
  stats are additive); tombstones carry over with the same offset.

Scale shape: one mapInPandas over source posting rows (embarrassingly
parallel, zero shuffle) + one term_stats union-sum shuffle. Schema
constraint mirrored from the reference (analyzers live outside the
index): the analyzer chains must agree or query-time re-analysis would
be wrong for one half — we refuse instead.
"""

from __future__ import annotations

import json
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.catalog import Catalog, Snapshot
from lucene_solr_spark.indexing.codec import (
    SKIP_DTYPE,
    decode_postings,
    decode_prox_parts,
    decode_skips,
    deltas_from_positions,
    encode_postings,
    encode_prox,
    positions_from_deltas,
)


def _split_points(first: int, last: int, gf: int) -> List[int]:
    """Destination group-window boundaries strictly inside [first, last]."""
    lo = (first // gf + 1) * gf
    return list(range(lo, last + 1, gf))


def _rebase_posting_row(row, off: int, gf: int) -> List[dict]:
    """Rebase one posting row by ``off``; split at gf windows if the
    shifted row straddles one. Returns SEGMENT_OUT-shaped dicts."""
    base = dict(
        is_meta=False, term=row.term, df=int(row.df), cf=int(row.cf),
        doc_ids_enc=row.doc_ids_enc, tfs_enc=row.tfs_enc,
        skips_enc=row.skips_enc, pos_enc=row.pos_enc,
        pos_cnts=row.pos_cnts, sdoc=None, stf=None,
        doc_base=None, doc_count=None, sum_len=None, norms_enc=None,
        doc_lens_enc=None, input_sha256=None, term_lo=None, term_hi=None,
        post_bytes=None, repos=None, paths=None, commits=None, langs=None,
        shas=None,
    )
    if row.sdoc is not None and not pd.isna(row.sdoc):
        # singleton: the doc lives inline — offset is the whole rebase
        base.update(
            sdoc=int(row.sdoc) + off, stf=int(row.stf),
            seg_id=int(row.seg_id) + off,
            doc_ids_enc=None, tfs_enc=None, skips_enc=None,
        )
        return [base]

    skips = decode_skips(row.skips_enc)
    first = int(row.seg_id) + off          # seg_id <= first posting doc
    last = int(skips["last_doc"][-1]) + off
    cuts = _split_points(first, last, gf)
    if not cuts:
        sk = skips.copy()
        sk["last_doc"] += off
        sk["base"] += off                  # -1 anchor shifts too
        base.update(seg_id=int(row.seg_id) + off,
                    skips_enc=sk.tobytes())
        return [base]

    # straddling row: decode, shift, split at the window boundaries
    docs, tfs = decode_postings(row.doc_ids_enc, row.tfs_enc,
                                row.skips_enc)
    docs = docs + np.int64(off)
    # per-doc norm-byte stand-in: the original block's max (upper bound
    # stays valid for every sub-block)
    nb = np.repeat(skips["max_nb"], skips["count"].astype(np.int64))
    has_pos = row.pos_enc is not None
    if has_pos:
        cnts = (np.frombuffer(row.pos_cnts, dtype="<i8")
                if row.pos_cnts is not None else None)
        deltas = decode_prox_parts(row.pos_enc, cnts, int(row.cf))
        pos = positions_from_deltas(deltas, tfs)
        pos_ends = np.cumsum(tfs.astype(np.int64))
    out = []
    bounds = [docs.searchsorted(c) for c in cuts]
    pieces = np.split(np.arange(len(docs)), bounds)
    for idx in pieces:
        if len(idx) == 0:
            continue
        d, t, n = docs[idx], tfs[idx], nb[idx]
        piece = dict(base)
        if len(d) == 1:
            piece.update(
                seg_id=int(d[0]), df=1, cf=int(t[0]), sdoc=int(d[0]),
                stf=int(t[0]), doc_ids_enc=None, tfs_enc=None,
                skips_enc=None, pos_enc=None, pos_cnts=None,
            )
        else:
            de, te, se = encode_postings(d, t, n)
            piece.update(seg_id=int(d[0]), df=len(d), cf=int(t.sum()),
                         doc_ids_enc=de, tfs_enc=te, skips_enc=se,
                         pos_enc=None, pos_cnts=None)
        if has_pos:
            plo = int(pos_ends[idx[0]] - tfs[idx[0]])
            phi = int(pos_ends[idx[-1]])
            pdeltas = deltas_from_positions(pos[plo:phi], t)
            piece.update(pos_enc=encode_prox(pdeltas), pos_cnts=None)
        out.append(piece)
    return out


def _rebase_meta_row(row, off: int, gf: int) -> List[dict]:
    """Rebase a segment meta row; split at gf windows (norm/doc-len
    arrays slice by position)."""
    n = int(row.doc_count)
    first = int(row.doc_base) + off
    last = first + n - 1
    cuts = _split_points(first, last, gf)
    norms = np.frombuffer(row.norms_enc, dtype=np.uint8)[:n]
    dlens = np.frombuffer(row.doc_lens_enc, dtype="<i4")[:n]
    marks = [0] + [c - first for c in cuts] + [n]
    out = []
    for lo, hi in zip(marks[:-1], marks[1:]):
        if hi <= lo:
            continue
        out.append(dict(
            is_meta=True, term=None, seg_id=first + lo, df=None, cf=None,
            doc_ids_enc=None, tfs_enc=None, skips_enc=None, pos_enc=None,
            pos_cnts=None, sdoc=None, stf=None,
            doc_base=first + lo, doc_count=hi - lo,
            sum_len=int(dlens[lo:hi].astype(np.int64).sum()),
            norms_enc=norms[lo:hi].tobytes(),
            doc_lens_enc=dlens[lo:hi].tobytes(),
            input_sha256=row.input_sha256, term_lo=None, term_hi=None,
            post_bytes=None, repos=None, paths=None, commits=None,
            langs=None, shas=None,
        ))
    return out


def add_indexes(spark: SparkSession, dst_dir: str,
                src_dirs: List[str]) -> Snapshot:
    """Merge the LATEST committed snapshot of every source index into
    the destination, one commit per source (addIndexes is transactional
    per call in the reference too)."""
    snap = None
    for src in src_dirs:
        snap = _add_one(spark, dst_dir, src)
    return snap


def _add_one(spark: SparkSession, dst_dir: str, src_dir: str) -> Snapshot:
    from lucene_solr_spark.indexing.build import (
        DOCS_SCHEMA,
        SEGMENT_OUT_SCHEMA,
        TERM_STATS_SCHEMA,
        TOMBSTONES_SCHEMA,
        _as_list,
        read_postings_any,
        read_segments_any,
        read_table,
        write_term_stats,
    )

    cat = Catalog(dst_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise ValueError("addIndexes requires a committed destination")
    scat = Catalog(src_dir)
    ssnap = scat.latest_at_stage("commit", "merge", "delete")
    if ssnap is None:
        raise ValueError(f"no committed index at {src_dir}")
    props = dict(snap.props)
    if ssnap.props.get("analyzer", "standard") != props.get(
        "analyzer", "standard"
    ):
        raise ValueError(
            "addIndexes across different analyzer chains: query-time "
            "re-analysis could not serve both halves"
        )
    off = int(props["max_doc"])
    gf = int(props.get("group_factor", 1))
    gen = snap.snapshot_id + 1

    sposts = read_postings_any(spark, ssnap.tables["postings"])
    smeta = read_segments_any(spark, ssnap.tables["segments"])

    def xform_posts(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows: List[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(_rebase_posting_row(r, off, gf))
            if rows:
                yield pd.DataFrame(rows)

    def xform_meta(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows: List[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(_rebase_meta_row(r, off, gf))
            if rows:
                yield pd.DataFrame(rows)

    path = cat.path("seg", f"addidx-{gen}")
    rebased = sposts.mapInPandas(
        xform_posts, schema=SEGMENT_OUT_SCHEMA
    ).unionByName(smeta.mapInPandas(xform_meta, schema=SEGMENT_OUT_SCHEMA))
    rebased.write.mode("overwrite").partitionBy("is_meta").parquet(path)

    # docs table: same offset on the stored keys
    docs_path = cat.path("docs_gen", f"addidx-{gen}")
    sdocs = read_table(spark, DOCS_SCHEMA, ssnap.tables["docs"])
    (
        sdocs.withColumn("doc_id", F.col("doc_id") + F.lit(off))
        .write.mode("overwrite").parquet(docs_path)
    )

    # stats merge by summation
    with open(snap.tables["collection_stats"]) as f:
        dcoll = json.load(f)
    with open(ssnap.tables["collection_stats"]) as f:
        scoll = json.load(f)
    coll = {
        "max_doc": int(dcoll["max_doc"]) + int(scoll["max_doc"]),
        "sum_total_term_freq": int(dcoll["sum_total_term_freq"])
        + int(scoll["sum_total_term_freq"]),
    }
    ts_path = cat.path("stats", f"term_stats_addidx{gen}")
    write_term_stats(
        read_table(spark, TERM_STATS_SCHEMA, snap.tables["term_stats"])
        .unionByName(read_table(spark, TERM_STATS_SCHEMA,
                                ssnap.tables["term_stats"]))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        ts_path, coll["max_doc"],
    )
    coll_path = cat.path("stats", f"collection_addidx{gen}.json")
    with open(coll_path, "w") as f:
        json.dump(coll, f)

    tables = dict(snap.tables)
    tables["postings"] = _as_list(tables["postings"]) + [path]
    tables["segments"] = _as_list(tables["segments"]) + [path]
    tables["docs"] = _as_list(tables["docs"]) + [docs_path]
    tables["term_stats"] = ts_path
    tables["collection_stats"] = coll_path
    stomb = ssnap.tables.get("tombstones")
    if stomb:
        t = read_table(spark, TOMBSTONES_SCHEMA, stomb).select(
            (F.col("doc_id") + F.lit(off)).alias("doc_id")
        )
        old = tables.get("tombstones")
        if old:
            t = t.unionByName(read_table(spark, TOMBSTONES_SCHEMA, old))
        tomb_path = cat.path("tombstones", f"addidx-{gen}")
        t.distinct().repartition(1).write.mode("overwrite").parquet(
            tomb_path
        )
        tables["tombstones"] = tomb_path
    return cat.commit(
        "commit",
        tables=tables,
        props={**props, **coll, "n_docs": coll["max_doc"]},
        lineage=snap.lineage,
    )
