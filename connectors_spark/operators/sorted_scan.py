"""Index-sorted top-k with block-level early termination.

Lucene's ``index.sort`` (public ES docs: "Index Sorting", and
`track_total_hits=false` early termination): when segments are written
sorted on a field, a query sorting on that same field can stop after
the first blocks — later blocks' minimums already exceed the current
k-th hit.  The reference ships index settings through its sink
(`connectors/es/settings.py` index creation); the early-termination
itself lives in Lucene.  Here the same contract is expressed against
parquet block metadata.

Spark-first shape — two bounded passes instead of a global sort:

1. ``block_stats``: one aggregate row per block (min/max/count of the
   sort key).  This is the Lucene segment-metadata analog; it is
   O(#blocks), collected to the driver exactly like parquet footer
   stats, NOT corpus rows.
2. Driver picks the shortest prefix of blocks (ordered by block min)
   whose cumulative count ≥ k, reads ONLY those to learn T = the k-th
   smallest key among them, then the final candidate set is every
   block with ``min ≤ T`` — no block outside it can contribute a
   top-k row (its smallest key already loses to k better rows).
3. ``orderBy().limit(k)`` over the candidate blocks compiles to
   TakeOrderedAndProject (per-partition partial top-k, k-row driver
   merge) — bounded at any corpus size.

When the block key correlates with the sort key (the whole point of
index sorting — data written in key order), pass 2+3 touch a small
prefix of the corpus; when it doesn't, the result is still exactly
correct, just unpruned — same graceful degradation as Lucene on an
unsorted index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connectors_spark.schema import sql_in


def block_stats(df: DataFrame, block_col: str, key_col: str) -> DataFrame:
    """Per-block (min, max, count) of the sort key — segment metadata."""
    return (df.groupBy(block_col)
              .agg(F.min(key_col).alias("key_min"),
                   F.max(key_col).alias("key_max"),
                   F.count(F.lit(1)).alias("cnt")))


def prune_blocks(stats_rows, k: int):
    """Driver-side block selection from collected metadata rows.

    Returns (prefix_blocks, candidate_bound) where prefix_blocks is the
    shortest min-ordered prefix holding ≥ k rows.  Pure function on
    O(#blocks) metadata so it is unit-testable without Spark.
    """
    rows = sorted(stats_rows, key=lambda r: (r["key_min"], r[0]))
    prefix, cum = [], 0
    for r in rows:
        prefix.append(r[0])
        cum += r["cnt"]
        if cum >= k:
            break
    return prefix, cum


def sorted_topk(df: DataFrame, block_col: str, key_col: str, k: int,
                extra_order: list[str] | None = None,
                ) -> tuple[DataFrame, dict]:
    """Top-k by ``key_col`` ascending with block early termination.

    Returns (result_df, info) where info reports blocks_total /
    blocks_read for pruning audits.  Ties on key break by extra_order
    (deterministic, repo convention).
    """
    tie = extra_order or []
    order = [F.col(key_col).asc()] + [F.col(c).asc() for c in tie]

    stats = block_stats(df, block_col, key_col).collect()  # O(#blocks)
    if not stats:
        return df.limit(0).drop(block_col), {"blocks_total": 0,
                                             "blocks_read": 0}
    prefix, cum = prune_blocks(stats, k)
    if cum < k:  # fewer than k rows overall: plain bounded top-k
        return (df.orderBy(*order).limit(k).drop(block_col),
                {"blocks_total": len(stats), "blocks_read": len(stats)})

    # Pass A: learn T = k-th smallest key inside the prefix blocks.
    kth = (df.where(sql_in(block_col, prefix))
             .select(key_col).orderBy(F.col(key_col).asc())
             .limit(k).agg(F.max(key_col).alias("t")).collect()[0]["t"])

    # Candidate closure: any block whose min ≤ T may still contribute.
    candidates = [r[0] for r in stats if r["key_min"] <= kth]
    out = (df.where(sql_in(block_col, candidates))
             .orderBy(*order).limit(k).drop(block_col))
    return out, {"blocks_total": len(stats), "blocks_read": len(candidates)}
