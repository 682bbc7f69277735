"""Fast entry-vs-oracle drift guard for the index-free pipeline
operators: each __spark_entry__ query below is compared row-exactly
against its DuckDB oracle at sf0.001 (no index build needed, so the
whole module runs in seconds). The driver's CORRECTNESS gate does the
same comparison for ALL entries at sf0.01; this is the in-repo subset
that catches engine/SQL drift before a driver round."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

# corpus-only entries: no get_searcher() call, so no index build
PIPELINE_ENTRIES = [
    "dedup_exact",
    "dedup_prefix64",
    "doc_quality",
    "repetition_quality",
    "sample_stratified",
    "bpe_token_counts",
    "geodist_top10",
    "source_token_counts",
    "langid_pred",
    "winnow_fingerprints",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "simhash_neardups",
    "embed_neardup_pairs",
    "ann_cosine_top10",
    "ann_lsh_top10",
    "ann_ivf_top10",
    "classify_nb",
    "wdf_subwords",
    "shingle_bigrams",
    "edge_ngram_terms",
    "synonym_counts",
    "percolate_matches",
    "facet_date_range",
    "json_loader",
    "xml_loader",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        sorted([tuple(_norm(r[i]) for i in order) for r in rows],
               key=repr),
        [cols[i] for i in order],
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", PIPELINE_ENTRIES)
def test_entry_matches_oracle(name, spark, duck):
    from lucene_solr_spark import driver_entry as de

    sdf = de.QUERIES[name](spark, SF_DIR)
    srows, scols = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = duck.execute(de.ORACLES[name])
    ocols = [d[0] for d in cur.description]
    orows, ocols = _rowset(ocols, cur.fetchall())
    assert scols == ocols
    assert srows == orows
