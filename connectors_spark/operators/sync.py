"""Sync diff: create / update / skip / delete classification + stats.

Re-expresses the reference's full-sync reconciliation (reference:
app/connectors_service/connectors/es/sink.py:623-719) — which streams
docs past an in-memory {id: timestamp} map of the target index
(explicitly memory-bounded at ~300k ids / 50 MiB, reference:
app/connectors_service/connectors/es/management_client.py:194-200) — as
one full-outer join that scales to any id count:

- new id                         -> create   (sink.py:653-677)
- existing id, different ts      -> update
- existing id, equal ts          -> skip     (sink.py:653-672, J2)
- id only in the index manifest  -> delete   (sink.py:718,871-881, J1)

At 100 TB the join shuffles both sides on doc_id; when the manifest is
small relative to extracted data, Catalyst/AQE picks a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OP_CREATE, OP_UPDATE, OP_SKIP, OP_DELETE = "create", "update", "skip", "delete"


def classify_sync_ops(
    extracted: DataFrame,
    manifest: DataFrame,
    skip_unchanged: bool = True,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, op, ts, *carry) — ts is the extracted ts (null for
    deletes); `carry` names manifest columns passed through the join
    (null for creates), so a caller can read the manifest side's
    per-doc fields off the classified rows without a second join."""
    e = extracted.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("_e_ts")
    )
    m = manifest.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("_m_ts"),
        F.lit(True).alias("_in_m"), *carry,
    )
    j = e.withColumn("_in_e", F.lit(True)).join(m, "doc_id", "full_outer")
    unchanged = F.col("_e_ts").isNotNull() & (F.col("_e_ts") == F.col("_m_ts"))
    op = (
        F.when(F.col("_in_e").isNull(), F.lit(OP_DELETE))
        .when(F.col("_in_m").isNull(), F.lit(OP_CREATE))
        .when(unchanged & F.lit(skip_unchanged), F.lit(OP_SKIP))
        .otherwise(F.lit(OP_UPDATE))
    )
    return j.select("doc_id", op.alias("op"), F.col("_e_ts").alias("ts"),
                    *carry)


def ingestion_stats(ops: DataFrame, payload: DataFrame | None = None,
                    id_col: str = "doc_id", size_col: str | None = None) -> DataFrame:
    """Job counters — mirrors the reference's ingestion stats roll-up
    (reference: app/connectors_service/connectors/es/sink.py:338-361):
    indexed_document_count = |create|+|update|, deleted_document_count,
    indexed_document_volume = sum of serialized doc sizes (bytes).
    Returns one row: (indexed_document_count, indexed_document_volume,
    deleted_document_count, skipped_document_count).
    """
    if payload is not None:
        if size_col is not None:
            sized = payload.select(
                F.col(id_col).alias("doc_id"), F.col(size_col).alias("_sz")
            )
        else:
            sized = payload.select(
                F.col(id_col).alias("doc_id"),
                F.length(
                    F.to_json(F.struct(*[F.col(c) for c in payload.columns]))
                ).alias("_sz"),
            )
        ops = ops.join(sized, "doc_id", "left")
    else:
        ops = ops.withColumn("_sz", F.lit(0))
    indexed = F.col("op").isin(OP_CREATE, OP_UPDATE)
    return ops.agg(
        F.sum(indexed.cast("long")).alias("indexed_document_count"),
        F.sum(F.when(indexed, F.col("_sz")).otherwise(F.lit(0))).alias(
            "indexed_document_volume"
        ),
        F.sum((F.col("op") == OP_DELETE).cast("long")).alias(
            "deleted_document_count"
        ),
        F.sum((F.col("op") == OP_SKIP).cast("long")).alias(
            "skipped_document_count"
        ),
    )


def incremental_extract(source: DataFrame, cursor_ts, ts_col: str = "ts") -> DataFrame:
    """S2: changed-docs scan since cursor (reference:
    libs/connectors_sdk/connectors_sdk/source.py:619-645) — a partition-
    prunable timestamp predicate instead of a per-source cursor loop."""
    return source.filter(F.col(ts_col) > F.lit(cursor_ts))


def reindex_classify(source: DataFrame, dest_ids: DataFrame,
                     id_col: str = "doc_id",
                     op_type: str = "create") -> DataFrame:
    """ES `_reindex` accounting (op_type + conflicts=proceed): classify
    every source doc against the destination's existing id set —
    op_type='create' marks docs whose id already exists in dest as
    version CONFLICTS (skipped, counted, the run proceeds), everything
    else is CREATED; op_type='index' overwrites instead (UPDATED).
    Mirrors the reference sink's bulk-indexing op semantics
    (reference: connectors/es/sink.py bulk op construction) and the ES
    reindex response's created/updated/version_conflicts counters —
    but as ONE broadcast-able anti/semi join classification instead of
    a per-batch HTTP loop: dest_ids is an id-only projection (prunes
    to one column at scan), so even a large destination moves 8-byte
    ids, and a small one broadcasts.
    """
    hit = F.col("__dest_hit").isNotNull()
    marked = source.join(
        F.broadcast(dest_ids.select(F.col(id_col).alias("__dest_id"))
                    .distinct()
                    .withColumn("__dest_hit", F.lit(1))),
        F.col(id_col) == F.col("__dest_id"), "left")
    action = (
        F.when(~hit, F.lit("created"))
        .otherwise(F.lit("version_conflict" if op_type == "create"
                         else "updated"))
    )
    return marked.select(id_col, action.alias("action"))
