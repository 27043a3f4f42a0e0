"""Checkpointed, resumable index build with per-partition lineage.

Mirrors the reference's sync-cursor / job-doc semantics — claim, heartbeat
stats, persist cursor on success (reference: app/connectors_service/
connectors/sync_job_runner.py:134-140,340-353; protocol/connectors.py:
775-777) — as idempotent Spark stages:

  stage 1  docmap        doc_idx assignment + doc lengths
  stage 2  postings_raw  encoder input rows by bucket group, from the
                         index's entries (`index.attach_doc_idx`)
  stage 3  encode:g      per bucket-group compressed shards, each group an
                         atomic directory overwrite (idempotent rerun)

Once `meta` is recorded the `postings_raw/` checkpoint is deleted: only a
resume reads it, and it would otherwise add about 70 % to the finished
index's disk size. A rerun of a finished build returns its manifest
without touching any stage.

Every completed unit writes a manifest record (status, rows, bytes,
wall_ms, cursor) via atomic tmp+rename — a killed build resumes by
set-difference on the manifest (the anti-join-of-done-partitions pattern,
SURVEY §2.1-S10). Rerunning a half-done stage overwrites the same
directory, so resume can never double-count.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from connectors_spark import BM25_B, BM25_K1, commitfs
from connectors_spark.operators.build import (
    IndexFrames,
    assign_doc_indices,
    entries_have_positions,
)
from connectors_spark.operators.index import attach_doc_idx, encode_rows

DONE = "completed"


class BuildManifest:
    """Atomic, append-only build ledger under <index>/_manifest/."""

    def __init__(self, path: str):
        self.dir = os.path.join(path, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def done_units(self) -> set[str]:
        out = set()
        for name in os.listdir(self.dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.dir, name)) as f:
                rec = json.load(f)
            if rec.get("status") == DONE:
                out.add(rec["unit"])
        return out

    def records(self) -> list[dict]:
        recs = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    recs.append(json.load(f))
        return recs

    def mark(self, unit: str, status: str = DONE, **metrics) -> None:
        rec = {"unit": unit, "status": status, **metrics}
        commitfs.put_json_atomic(
            os.path.join(self.dir, f"{unit}.json"), rec)


def resumable_write_encoded_index(
    index: IndexFrames,
    path: str,
    n_buckets: int = 64,
    n_groups: int = 8,
    shard_cap: int = 1 << 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    on_unit_done=None,
) -> BuildManifest:
    """Build the same layout as write_encoded_index, resumably. A
    derived frame (no entries) raises ValueError.

    `on_unit_done(unit)` is a test hook (fault injection). Groups are
    bucket % n_groups; each group's output dir is overwritten whole, so a
    rerun after a mid-group kill is idempotent.
    """
    ent = index.require_entries()
    spark = ent.sparkSession
    manifest = BuildManifest(path)
    done = manifest.done_units()
    raw_dir = f"{path}/postings_raw"
    if "meta" in done:
        # finished: a kill between the meta record and the delete below
        # may have left the checkpoint behind
        shutil.rmtree(raw_dir, ignore_errors=True)
        return manifest
    avgdl, n_docs = index.avgdl, index.n_docs
    positions = entries_have_positions(ent)

    def _finish(unit, t0, **m):
        manifest.mark(unit, DONE, wall_ms=int((time.time() - t0) * 1000), **m)
        if on_unit_done:
            on_unit_done(unit)

    def _write(df, out_dir, *partition_by) -> int:
        # the unit's row count rides its write job
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").partitionBy(*partition_by).parquet(out_dir)
        return int(obs.get["n"])

    # every read-back pins the schema of the frame that was written, so
    # it runs no inference job
    docmap = assign_doc_indices(ent.drop("_entries"))
    if "docmap" not in done:
        t0 = time.time()
        n = _write(docmap, f"{path}/docmap")
        _finish("docmap", t0, rows=n, cursor="docmap")
    docmap = spark.read.schema(docmap.schema).parquet(f"{path}/docmap")

    raw = attach_doc_idx(
        ent, docmap, index.lexicon, n_docs, n_buckets=n_buckets,
        shard_cap=shard_cap,
    ).withColumn("grp", (F.col("bucket") % n_groups).cast("int"))
    if "postings_raw" not in done:
        t0 = time.time()
        n = _write(raw, raw_dir, "grp")
        _finish("postings_raw", t0, rows=n, cursor="postings_raw")
    raw = spark.read.schema(raw.schema).parquet(raw_dir)

    n_parts = spark.sparkContext.defaultParallelism
    for g in range(n_groups):
        unit = f"encode:{g}"
        if unit in done:
            continue
        t0 = time.time()
        out_dir = f"{path}/postings/grp={g}"
        n = _write(encode_rows(raw.filter(F.col("grp") == g).drop("grp"),
                               n_parts, ["term", "shard"], avgdl, k1, b),
                   out_dir, "bucket")
        n_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out_dir) for f in fs
        )
        _finish(unit, t0, rows=n, bytes=n_bytes, positions=positions,
                cursor=str(g))

    meta = {"n_docs": n_docs, "avgdl": avgdl, "k1": k1, "b": b,
            "n_buckets": n_buckets, "shard_cap": shard_cap, "n_groups": n_groups,
            "positions": positions}
    commitfs.put_json_atomic(os.path.join(path, "meta.json"), meta)
    manifest.mark("meta", DONE, cursor="meta")
    shutil.rmtree(raw_dir, ignore_errors=True)
    return manifest
