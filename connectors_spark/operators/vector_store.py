"""Incremental IVF vector store: the ANN sibling of the text index's
delta machinery (operators/delta.py) — vectors arrive/change/disappear
between syncs, and re-clustering the corpus per sync is the one thing a
10^12-scale pipeline cannot do.

Layout under `path/`:
  centroids.parquet     (cell, cv)         — frozen at init (re-train =
                                             rebuild, exactly like the
                                             text index's analyzers)
  gen-<n>.parquet       (vec_id, cell, embedding) — append-only
                                             generations; a vec_id
                                             re-upserted in a later
                                             generation SUPERSEDES its
                                             earlier rows
  meta.json             {generations: [...], tombstones: [...]}

Query = IVF-Flat over the LIVE view: latest generation wins per vec_id,
tombstones drop. Cell assignment happens once per upsert batch against
the broadcast frozen centroid set — new data never reshuffles old data.
Scale notes: generations are parquet appends (no rewrite); the live
view is one window per vec_id over only the generations' rows;
compaction (fold generations, drop tombstones) is the same policy knob
as delta.should_compact and is left to the caller's cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connectors_spark import commitfs

from connectors_spark.operators.similarity import (
    ROUND_COS,
    _as_double,
    _dot,
    _nearest_cell,
    init_centroids,
    with_norm,
)
from connectors_spark.schema import sql_in


def _meta_path(path: str) -> str:
    return os.path.join(path, "meta.json")


def _read_meta(path: str, fs=None) -> dict:
    meta = commitfs.get_json(_meta_path(path), fs=fs)
    if meta is None:
        raise FileNotFoundError(_meta_path(path))
    return meta


def _write_meta(path: str, meta: dict, fs=None) -> None:
    # object-store-safe: one atomic PUT (local: tmp + rename) — readers
    # see the old meta or the new meta, never a torn one. Generation
    # parquet files are fully durable BEFORE the meta naming them
    # commits (commitfs ordering contract).
    commitfs.put_json_atomic(_meta_path(path), meta, fs=fs)


def _reject_dup_ids(ids: list) -> None:
    # A batch with the same vec_id twice would tie inside one
    # generation, making read_live's latest-wins window (ordered only
    # by _gen) nondeterministic — reject at the write edge so the
    # store's contents are always a function of the upsert sequence
    # alone (ADVICE r4).
    from collections import Counter

    _raise_dup(sorted(i for i, c in Counter(ids).items() if c > 1)[:5])


def _raise_dup(dups: list) -> None:
    if dups:
        raise ValueError(
            f"duplicate vec_id(s) within one upsert batch: {dups} — "
            "dedup the batch (latest-wins is only defined ACROSS "
            "generations)")


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    base = vectors.select(F.col("vec_id"), F.col("embedding").alias("v"))
    cells = _nearest_cell(
        base, centroids.select("cell", F.col("cv")))
    return (vectors.join(cells, "vec_id")
            .select("vec_id", "cell", "embedding"))


def init_vector_store(spark: SparkSession, path: str, vectors: DataFrame,
                      centroid_mod: int = 25) -> None:
    """Create the store: freeze a deterministic centroid set, assign
    the initial corpus, write generation 0."""
    os.makedirs(path, exist_ok=True)
    # one-time dup screen at store creation (upserts check the ids
    # they already collect driver-side — no extra job there)
    dup = (vectors.groupBy("vec_id").count()
           .filter(F.col("count") > 1).limit(5).collect())
    _raise_dup(sorted(r["vec_id"] for r in dup))
    cents = init_centroids(vectors, centroid_mod)
    cents.write.mode("overwrite").parquet(
        os.path.join(path, "centroids.parquet"))
    cents = spark.read.parquet(os.path.join(path, "centroids.parquet"))
    _assign(vectors, cents).write.mode("overwrite").parquet(
        os.path.join(path, "gen-0.parquet"))
    _write_meta(path, {"generations": [0], "tombstones": []})


# upsert batches are collected driver-side (tombstone cleanup + dup
# screen need the id list), so their size is a DRIVER memory contract,
# not just caller discipline: batches beyond this id count are rejected
# with guidance to chunk. Override per store via the max_batch_ids
# argument; at ~32 bytes/id the default bounds the driver list to tens
# of MB.
MAX_UPSERT_BATCH_IDS = 1_000_000


def upsert_vectors(spark: SparkSession, path: str,
                   vectors: DataFrame,
                   max_batch_ids: int = MAX_UPSERT_BATCH_IDS) -> int:
    """Append a new generation with the batch assigned against the
    FROZEN centroids; later generations supersede earlier rows with the
    same vec_id. Returns the new generation number. Upserted ids are
    also removed from the tombstone set (re-adding a deleted vector
    works).

    Batch bound: the batch's vec_ids are collected to the driver (the
    tombstone cleanup and dup screen both need them), so an upsert is
    limited to `max_batch_ids` ids — a corpus-sized "batch" must be
    chunked by the caller (or loaded via init_vector_store, which never
    collects ids). The guard counts distributed BEFORE collecting, so
    an oversized batch fails fast without materializing the id list."""
    meta = _read_meta(path)
    gen = max(meta["generations"]) + 1
    n_batch = vectors.select("vec_id").count()
    if n_batch > max_batch_ids:
        raise ValueError(
            f"upsert_vectors: batch has {n_batch} ids, over the "
            f"max_batch_ids={max_batch_ids} driver-side bound — chunk "
            "the upsert into smaller generations (or raise the bound "
            "if the driver has the memory)"
        )
    # the tombstone cleanup needs every batch id driver-side anyway —
    # the dup screen is a free Counter over that list, BEFORE any
    # generation file is written (no extra Spark job per upsert)
    ids = [r.vec_id for r in vectors.select("vec_id").collect()]
    _reject_dup_ids(ids)
    upserted = set(ids)
    cents = spark.read.parquet(os.path.join(path, "centroids.parquet"))
    _assign(vectors, cents).write.mode("overwrite").parquet(
        os.path.join(path, f"gen-{gen}.parquet"))
    meta["generations"].append(gen)
    meta["tombstones"] = [t for t in meta["tombstones"]
                          if t not in upserted]
    _write_meta(path, meta)
    return gen


def delete_vectors(path: str, ids: list) -> None:
    meta = _read_meta(path)
    meta["tombstones"] = sorted(set(meta["tombstones"]) | set(ids))
    _write_meta(path, meta)


def read_live(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, cell, embedding): latest-generation-wins view minus
    tombstones — one per-vec window over the generations' rows only."""
    meta = _read_meta(path)
    parts = []
    for g in meta["generations"]:
        parts.append(
            spark.read.parquet(os.path.join(path, f"gen-{g}.parquet"))
            .withColumn("_gen", F.lit(g)))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    w = Window.partitionBy("vec_id").orderBy(F.desc("_gen"))
    live = (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_gen"))
    if meta["tombstones"]:
        live = live.filter(~sql_in("vec_id", meta["tombstones"]))
    return live


def query_topk(spark: SparkSession, path: str, queries: DataFrame,
               k: int = 10, nprobe: int = 4) -> DataFrame:
    """IVF-Flat over the live view: probe the nprobe nearest frozen
    cells per query, exact cosine within them (query set broadcast,
    corpus touched only in probed cells)."""
    cents = spark.read.parquet(os.path.join(path, "centroids.parquet"))
    live = read_live(spark, path)
    qs = with_norm(
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q")), "q"
    ).withColumnRenamed("_vnorm", "_qnorm")
    qcos = qs.crossJoin(F.broadcast(with_norm(
        cents.select("cell", F.col("cv")), "cv"
    ).withColumnRenamed("_vnorm", "_cnorm"))).select(
        "query_id", "cell",
        F.round(_dot(_as_double(F.col("q")), _as_double(F.col("cv")))
                / (F.col("_qnorm") * F.col("_cnorm")),
                ROUND_COS).alias("ccos"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("ccos"),
                                                F.asc("cell"))
    probes = (qcos.withColumn("_r", F.row_number().over(pw))
              .filter(F.col("_r") <= nprobe).select("query_id", "cell"))
    corpus = with_norm(
        live.select("vec_id", "cell", F.col("embedding").alias("v")),
        "v")
    cand = (corpus.join(F.broadcast(probes), "cell")
            .join(F.broadcast(qs), "query_id")
            .filter(F.col("vec_id") != F.col("query_id")))
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")), ROUND_COS)
    scored = cand.select("query_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos"))
