"""Spark-free postings fixture: encode a tiny ``{doc: {term:
[positions]}}`` corpus with the real codec into the (posts, segs)
frames that one scoring group hands a kernel."""

import numpy as np
import pandas as pd

from lucene_solr_spark.constants import B, K1
from lucene_solr_spark.functions.bm25 import avgdl, norm_cache
from lucene_solr_spark.functions.smallfloat import encode_norm
from lucene_solr_spark.indexing.codec import (
    deltas_from_positions,
    encode_postings,
    encode_prox,
)


def encode_group(docs_positions, seg_size=None, deleted=None):
    """-> (posts, segs, cache) for docIDs 0..max(docs_positions).

    ``seg_size`` cuts the doc range into segments of that many docs
    (one postings row per term per segment; a one-doc row is the
    inline sdoc/stf singleton). ``deleted`` lists tombstoned docIDs,
    carried as the per-segment ``deleted_enc`` blob; None leaves the
    column out, the shape of a segment table read without
    tombstones. ``cache`` is the BM25 norm cache of this corpus."""
    max_doc = max(docs_positions) + 1
    seg_size = seg_size or max_doc
    doc_lens = {d: sum(len(v) for v in pos.values())
                for d, pos in docs_positions.items()}
    with np.errstate(divide="ignore"):
        norms = np.asarray(
            [int(encode_norm(doc_lens.get(d, 0)))
             for d in range(max_doc)], np.uint8)
    terms = sorted({t for pos in docs_positions.values() for t in pos})
    rows, segs = [], []
    for base in range(0, max_doc, seg_size):
        hi = min(base + seg_size, max_doc)
        seg = dict(seg_id=base, doc_base=base, doc_count=hi - base,
                   norms_enc=norms[base:hi].tobytes())
        if deleted is not None:
            ids = sorted(d for d in deleted if base <= d < hi)
            seg["deleted_enc"] = (np.asarray(ids, "<i8").tobytes()
                                  if ids else None)
        segs.append(seg)
        for t in terms:
            docs = [d for d in range(base, hi)
                    if docs_positions.get(d, {}).get(t)]
            if not docs:
                continue
            tfs = [len(docs_positions[d][t]) for d in docs]
            flat = [p for d in docs for p in sorted(docs_positions[d][t])]
            d_arr = np.asarray(docs, np.int64)
            tf_arr = np.asarray(tfs, np.int32)
            row = dict(term=t, seg_id=base, df=len(docs),
                       sdoc=None, stf=None, doc_ids_enc=None,
                       tfs_enc=None, skips_enc=None, pos_cnts=None,
                       pos_enc=encode_prox(deltas_from_positions(
                           np.asarray(flat, np.int64), tf_arr)))
            if len(docs) == 1:
                row.update(sdoc=int(docs[0]), stf=int(tfs[0]))
            else:
                row.update(zip(("doc_ids_enc", "tfs_enc", "skips_enc"),
                               encode_postings(d_arr, tf_arr,
                                               norms[d_arr])))
            rows.append(row)
    cache = norm_cache(avgdl(sum(doc_lens.values()), max_doc), K1, B)
    return pd.DataFrame(rows), pd.DataFrame(segs), cache
