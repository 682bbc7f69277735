"""Solr atomic updates (partial document updates).

Reference: ``DistributedUpdateProcessor.getUpdatedDocument``
(solr/core/.../update/processor/DistributedUpdateProcessor.java:685-766):
an update document whose field values are maps of op -> value is merged
onto the CURRENT stored document (fetched through RealTimeGet) and the
result re-indexed as a whole — atomic update is sugar over
delete-by-key + add. Ops:

- ``set``  — replace the field value (:715-717)
- ``add``  — append a value (:712-714; multivalued in Solr — the wide
  relational row store represents the value list as the
  space-joined text, which is what re-analysis of a multivalued text
  field sees modulo the position gap)
- ``inc``  — numeric increment, typed by the schema (:718-746); a
  missing old value degrades to ``set`` (:723-724)

A missing old document is created from scratch (:693-696,
create-by-default when no optimistic-locking version was demanded);
updating a key column is rejected like the idField check (:752-754).

Scale shape: the op fold is per (key, field) — an ``array_sort`` +
``aggregate`` over that doc's op list (a handful of rows), after one
broadcast-able semi-join of the row store against the update keys
(RealTimeGet is a point lookup). The re-index itself is
``append_documents``'s incremental path: only updated docs shuffle.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_KEY = ("repo", "path", "commit")


def apply_atomic_updates(
    old_docs: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str] = DOC_KEY,
    numeric_fields: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Merge atomic-update ops onto current stored docs.

    ``old_docs``: wide row store (key cols + stored field columns).
    ``updates``: long format (key cols, seq, field, op, value) — ``seq``
    pins the op application order within a document, like the field
    iteration order of the SolrInputDocument. Returns the UPDATED wide
    rows only (the delta to re-index): one row per update key, with
    unmentioned fields carried over (or NULL for created docs).
    ``numeric_fields`` maps field -> 'long' | 'double' for the typed
    ``inc`` arithmetic branch."""
    numeric_fields = numeric_fields or {}
    key_cols = list(key_cols)
    fields = [
        r["field"]
        for r in updates.select("field").distinct().orderBy("field").collect()
    ]
    bad = sorted(set(fields) & set(key_cols))
    if bad:
        raise ValueError(f"Invalid update of id field: {bad}")

    keys = updates.select(*key_cols).distinct()
    base = keys.join(old_docs, key_cols, "left")

    for f in fields:
        ops_f = (
            updates.filter(F.col("field") == f)
            .groupBy(*key_cols)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("seq", "op", "value"))
                ).alias("_ops")
            )
        )
        base = base.join(ops_f, key_cols, "left")
        old_col = F.col(f)
        old_type = dict(base.dtypes)[f]
        ftype = numeric_fields.get(f)

        # NOTE: the merge fn must take exactly (acc, x) — PySpark derives
        # the lambda arity from the signature, so ftype is closed over
        # (safe: F.aggregate materializes the expression inside this
        # loop iteration).
        def step(acc, o):
            _ftype = ftype
            setv = o["value"]
            addv = F.when(acc.isNull(), o["value"]).otherwise(
                F.concat_ws(" ", acc, o["value"])
            )
            if _ftype == "long":
                incv = F.when(acc.isNull(), o["value"]).otherwise(
                    (acc.cast("long") + o["value"].cast("long")).cast(
                        "string"
                    )
                )
            elif _ftype == "double":
                incv = F.when(acc.isNull(), o["value"]).otherwise(
                    (acc.cast("double") + o["value"].cast("double")).cast(
                        "string"
                    )
                )
            else:
                # inc on a non-numeric schema field: the reference
                # throws from the Integer.parseInt branch; surface the
                # same failure as a NULL-propagating cast would hide it
                incv = F.raise_error(
                    F.lit(f"inc on non-numeric field {f!r}")
                )
            return (
                F.when(o["op"] == "set", setv)
                .when(o["op"] == "add", addv)
                .when(o["op"] == "inc", incv)
                .otherwise(acc)
            )

        folded = F.when(F.col("_ops").isNull(), old_col.cast("string")) \
            .otherwise(F.aggregate(F.col("_ops"),
                                   old_col.cast("string"), step))
        base = base.withColumn(f, folded.cast(old_type)).drop("_ops")

    return base


def atomic_update_index(
    spark: SparkSession,
    index_dir: str,
    row_store: DataFrame,
    updates: DataFrame,
    numeric_fields: Optional[Dict[str, str]] = None,
):
    """Apply atomic updates against a committed index: RealTimeGet the
    current stored docs for the update keys from ``row_store`` (minus
    docs already tombstoned in the index), merge ops, re-index the
    merged docs through the incremental append path (tombstone + add,
    exactly DistributedUpdateProcessor's resulting AddUpdateCommand).
    Returns (snapshot, updated_docs_df)."""
    from lucene_solr_spark.catalog import Catalog
    from lucene_solr_spark.indexing.build import (
        DOCS_SCHEMA,
        TOMBSTONES_SCHEMA,
        append_documents,
        read_table,
    )

    cat = Catalog(index_dir)
    snap = cat.latest_at_stage("commit", "merge", "delete")
    if snap is None:
        raise ValueError("atomic update requires a committed index")
    current = row_store
    tomb = snap.tables.get("tombstones")
    if tomb:
        live_keys = (
            read_table(spark, DOCS_SCHEMA, snap.tables["docs"])
            .join(read_table(spark, TOMBSTONES_SCHEMA, tomb), "doc_id",
                  "left_anti")
            .select(*DOC_KEY)
        )
        current = current.join(live_keys, list(DOC_KEY), "left_semi")
    old = current.join(
        updates.select(*DOC_KEY).distinct(), list(DOC_KEY), "left_semi"
    )
    merged = apply_atomic_updates(
        old, updates, key_cols=DOC_KEY, numeric_fields=numeric_fields
    )
    new_snap = append_documents(spark, index_dir, merged)
    return new_snap, merged
