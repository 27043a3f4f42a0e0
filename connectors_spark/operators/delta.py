"""Incremental index update: delta generations + tombstones + compaction.

The reference's incremental sync streams changed docs and reconciles by
timestamp (reference: libs/connectors_sdk/connectors_sdk/source.py:619-645
get_docs_incrementally; skip/delete diff app/connectors_service/
connectors/es/sink.py:623-719). For an inverted index the same semantics
become:

1. diff the new snapshot against the index's docmap manifest (J1-J3);
2. tombstone doc_idx of deleted + updated docs;
3. encode postings for created + updated docs as a new generation with
   fresh doc_idx (append-only — old generations are immutable). The
   generation is written by the fused build's write core
   (`index.posting_rows`: one tokenize pass, docmap stats via
   Observation) and the Arrow encoder, with the encode shuffle keyed on
   bucket so each bucket dir gets one file. Positional indexes are the
   exception: they keep `build_index` + the pandas `encode_postings`
   path, since the Arrow encoder has no positions;
4. keep scoring EXACT:
   - per-term dead counts (scan + decode + count tombstone hits) correct
     df, so idf is the live value;
   - live n_docs/avgdl recomputed from the docmap minus tombstones;
   - stored block-max bounds are scaled by max(1, avgdl_live/avgdl_gen)
     (a true upper bound — see ShardCursor docstring), so WAND stays
     rank-identical to a from-scratch rebuild.

The dead-count scan touches the whole index: at 10^12 scale you amortize
it with `compact_index` (fold generations + drop tombstones), exactly the
merge policy of every LSM-ish index. Both paths are tested rank-identical
against an oracle built directly on the new snapshot.
"""

from __future__ import annotations

import os
import uuid

import numpy as np

from connectors_spark import commitfs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connectors_spark.functions.codec import decode_shards_batch
from connectors_spark.operators.build import (
    assign_doc_indices,
    build_index,
    with_doc_id,
)
from connectors_spark.operators.index import (
    IndexReader,
    encode_postings,
    make_encode_arrow_partition,
    posting_rows,
    read_meta,
    read_postings,
)
from connectors_spark.operators.sync import classify_sync_ops
from connectors_spark.schema import ENCODED_POSTINGS_SCHEMA


def _write_meta(path: str, meta: dict, fs=None) -> None:
    # object-store-safe: single atomic PUT (local FS: tmp + rename) —
    # readers see the old meta or the new meta, never a torn one
    commitfs.put_json_atomic(os.path.join(path, "meta.json"), meta, fs=fs)


def _all_assigned_docmap(spark: SparkSession, path: str,
                         meta: dict) -> DataFrame:
    """Every docmap row ever written — tombstoned docs INCLUDED. This is
    the frame to take max(doc_idx) over when assigning fresh indices;
    the live view below must never be used for that (recycled-idx bug)."""
    dm = spark.read.parquet(f"{path}/docmap")
    for d in meta.get("deltas", []):
        if d.get("delete_only"):
            continue  # tombstones only — no docmap dir was written
        dm = dm.unionByName(
            spark.read.parquet(f"{path}/delta/{int(d['gen'])}/docmap")
        )
    return dm


def _live_docmap(spark: SparkSession, path: str, meta: dict) -> DataFrame:
    dm = _all_assigned_docmap(spark, path, meta)
    tombs = None
    for d in meta.get("deltas", []):
        t = spark.read.parquet(f"{path}/delta/{int(d['gen'])}/tombstones")
        tombs = t if tombs is None else tombs.unionByName(t)
    if tombs is not None:
        dm = dm.join(tombs, "doc_idx", "left_anti")
    return dm


def incremental_update(spark: SparkSession, path: str,
                       new_snapshot: DataFrame) -> dict | None:
    """Bring the index at `path` up to date with `new_snapshot`
    (transcripts shape). Returns the delta record, or None if unchanged.
    `path` may be a store root (CURRENT pointer) — deltas then land in
    the live generation."""
    path = resolve_current(path)
    meta = read_meta(path)
    live = _live_docmap(spark, path, meta).persist()
    new_docs = with_doc_id(new_snapshot).persist()

    ops = classify_sync_ops(
        new_docs.select("doc_id", "ts"), live.select("doc_id", "ts")
    ).persist()
    # one pass gives every job counter (created/updated/deleted/skipped)
    counts = {r["op"]: int(r["count"])
              for r in ops.groupBy("op").count().collect()}
    rec = None
    if any(counts.get(op) for op in ("create", "update", "delete")):
        dead_ids = ops.filter(F.col("op").isin("delete", "update")).select("doc_id")
        changed_ids = ops.filter(F.col("op").isin("create", "update")).select("doc_id")
        changed = new_docs.join(changed_ids, "doc_id", "left_semi")
        rec = _apply_delta(spark, path, meta, live, dead_ids, changed, counts)
    ops.unpersist(); live.unpersist(); new_docs.unpersist()
    return rec


def delete_by_query(spark: SparkSession, path: str,
                    match_ids: DataFrame) -> dict | None:
    """ES `_delete_by_query` analog (reference deletes flow through the
    bulk sink, app/connectors_service/connectors/es/sink.py:delete ops):
    tombstone every live doc whose doc_id appears in `match_ids` — the
    caller produces that frame by running any engine query/filter. Writes
    a delete-only delta generation (tombstones + corrected per-term dead
    counts, no new postings), so subsequent readers score survivors with
    exact live df/n_docs/avgdl. Returns the delta record, or None when
    nothing matched. `path` may be a store root (CURRENT pointer)."""
    path = resolve_current(path)
    meta = read_meta(path)
    live = _live_docmap(spark, path, meta).persist()
    dead_ids = (live.join(match_ids.select("doc_id").distinct(),
                          "doc_id", "left_semi").select("doc_id"))
    n_dead = dead_ids.count()
    if n_dead == 0:
        live.unpersist()
        return None
    rec = _apply_delta(spark, path, meta, live, dead_ids, None,
                       {"delete": int(n_dead)})
    live.unpersist()
    return rec


def update_by_query(spark: SparkSession, path: str,
                    updated_docs: DataFrame) -> dict | None:
    """ES `_update_by_query` analog: re-index matched docs in place.
    `updated_docs` carries the NEW versions (doc_id + text [+ any docmap
    columns]); only docs already live in the index are touched (ES
    update_by_query rewrites matched existing docs — creates go through
    the normal sync path). Old versions are tombstoned and the new text
    is encoded as a fresh delta generation with exact live stats."""
    path = resolve_current(path)
    meta = read_meta(path)
    live = _live_docmap(spark, path, meta).persist()
    changed = updated_docs.join(
        live.select("doc_id"), "doc_id", "left_semi"
    ).persist()
    n_changed = changed.count()
    if n_changed == 0:
        live.unpersist(); changed.unpersist()
        return None
    dead_ids = changed.select("doc_id")
    rec = _apply_delta(spark, path, meta, live, dead_ids, changed,
                       {"update": int(n_changed)})
    live.unpersist(); changed.unpersist()
    return rec


def _dead_counts(batches, tombs: np.ndarray):
    """(term, dead) for every encoded shard row holding at least one
    tombstoned doc_idx. Per Arrow batch: one batch decode of doc_gaps,
    one searchsorted against the sorted tombstone set, one reduceat over
    the row starts (encoded rows are never empty). mapInArrow body."""
    import pyarrow as pa

    for rb in batches:
        if not rb.num_rows or not len(tombs):
            continue
        starts, doc_idx, _, _ = decode_shards_batch(
            rb.column("n_docs").to_numpy(), rb.column("doc_gaps"))
        pos = np.minimum(np.searchsorted(tombs, doc_idx), len(tombs) - 1)
        dead = np.add.reduceat((tombs[pos] == doc_idx).astype(np.int64),
                               starts)
        hit = np.flatnonzero(dead)
        if len(hit):
            yield pa.RecordBatch.from_arrays(
                [rb.column("term").take(pa.array(hit)), pa.array(dead[hit])],
                names=["term", "dead"])


def _apply_delta(spark: SparkSession, path: str, meta: dict,
                 live: DataFrame, dead_ids: DataFrame,
                 changed: DataFrame | None, counts: dict[str, int]) -> dict:
    """Write one delta generation: tombstones for `dead_ids`, encoded
    postings + docmap for `changed` (a delete-only generation, flagged
    `delete_only` so readers skip its postings/docmap reads entirely,
    when it holds no create/update), cumulative per-term dead counts, and
    the meta commit. Shared core of incremental_update / delete_by_query /
    update_by_query / upsert_docs. `counts` maps op (create, update,
    delete, skip) -> docs, as the caller already counted them: the
    update and delete counts are the tombstone count, create + update
    the new docs."""
    gen = (max((int(d["gen"]) for d in meta.get("deltas", [])), default=0) + 1)
    gdir = f"{path}/delta/{gen}"
    n_created, n_updated, n_deleted, n_skipped = (
        int(counts.get(op, 0)) for op in ("create", "update", "delete", "skip"))

    tomb = live.join(dead_ids, "doc_id", "left_semi").select("doc_idx")
    tomb.write.mode("overwrite").parquet(f"{gdir}/tombstones")

    survivors = live.join(dead_ids, "doc_id", "left_anti")
    stats = survivors.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    n_live, sum_dl = int(stats["n"]), int(stats["s"] or 0)
    delete_only = changed is None or n_created + n_updated == 0
    if delete_only:
        avgdl_live = (sum_dl / n_live) if n_live else 0.0
    else:
        # new doc_idx must start past EVERY idx ever assigned — including
        # tombstoned ones. max over the live docmap alone can recycle a
        # tombstoned idx (deletes shrink the live max), and the readers'
        # cumulative dead mask would then silently hide the new doc: a
        # delete-heavy generation followed by any create/update made the
        # recycled docs unsearchable (caught by the round-4 verify drive).
        max_idx = _all_assigned_docmap(spark, path, meta).agg(
            F.max("doc_idx")
        ).first()[0] or 0
        if meta.get("positions", False):
            # a delta generation must match the base index's positional
            # setting, else phrase_topk breaks on any phrase term with
            # delta postings — and only the pandas encoder has positions
            write = _write_positional_delta
        else:
            write = _write_fused_delta
        n_live, avgdl_live = write(spark, meta, changed, gdir,
                                   int(max_idx) + 1, n_live, sum_dl)

    # exact per-term dead counts: decode every existing shard, count hits
    # against the cumulative tombstone set (compaction amortizes this).
    # Tombstones ship to executors ONCE as a Spark broadcast (torrent),
    # never closure-pickled per task; their size is bounded by the
    # compaction policy (should_compact/maybe_compact below).
    all_tomb_ids = np.sort(np.asarray(spark.read.parquet(*[
        f"{path}/delta/{int(d['gen'])}/tombstones"
        for d in [*meta.get("deltas", []), {"gen": gen}]
    ]).toArrow().column("doc_idx").to_numpy(), dtype=np.int64))
    tomb_bc = spark.sparkContext.broadcast(all_tomb_ids)
    allp = read_postings(spark, path).select("term", "n_docs", "doc_gaps")
    for d in meta.get("deltas", []):
        if not d.get("delete_only"):
            allp = allp.unionByName(
                spark.read.parquet(f"{path}/delta/{int(d['gen'])}/postings")
                .select("term", "n_docs", "doc_gaps"))
    dead_df = (
        allp.mapInArrow(lambda it: _dead_counts(it, tomb_bc.value),
                        schema="term string, dead long")
        .groupBy("term").agg(F.sum("dead").alias("dead"))
    )
    dead_df.write.mode("overwrite").parquet(f"{gdir}/dead_df")

    # the reference's job counters ride along (svc/es/sink.py:338-361)
    rec = {"gen": gen, "avgdl_at_build": avgdl_live,
           "n_changed": n_created + n_updated + n_deleted,
           "n_tombstones": n_updated + n_deleted,
           "n_docs_live": n_live, "avgdl_live": avgdl_live,
           "created": n_created, "updated": n_updated,
           "deleted": n_deleted, "skipped": n_skipped}
    if delete_only:
        rec["delete_only"] = True
    # pin the pristine gen-0 stats once, before the first delta mutates
    # them — point-in-time readers (IndexReader pit_gen=0) restore these
    meta.setdefault("gen0_n_docs", int(meta["n_docs"]))
    meta.setdefault("gen0_avgdl", float(meta["avgdl"]))
    meta.setdefault("deltas", []).append(rec)
    meta["n_docs"], meta["avgdl"] = n_live, avgdl_live
    _write_meta(path, meta)
    return rec


def _write_fused_delta(spark: SparkSession, meta: dict, changed: DataFrame,
                       gdir: str, start_idx: int, n_surv: int,
                       surv_dl: int) -> tuple[int, float]:
    """Non-positional delta postings through the fused build's write core
    (one tokenize pass, docmap stats via Observation) and Arrow encoder.
    The encode shuffle is keyed on bucket, so each bucket lives in one
    task and the partitionBy write leaves one file per bucket dir — no
    second shuffle of encoded blobs. Returns (n_docs_live, avgdl_live)."""
    id_cols = ["doc_id"] + (["ts"] if "ts" in changed.columns else [])
    n_buckets = int(meta["n_buckets"])
    with posting_rows(changed, id_cols, f"{gdir}/docmap",
                      n_buckets=n_buckets, shard_cap=meta["shard_cap"],
                      start_idx=start_idx) as (rows, n_new, new_dl):
        n_live = n_surv + n_new
        avgdl_live = (surv_dl + new_dl) / n_live
        if not new_dl:
            _write_no_postings(spark, gdir)
            return n_live, avgdl_live
        n_parts = min(spark.sparkContext.defaultParallelism, n_buckets)
        (rows.repartition(n_parts, "bucket")
         .sortWithinPartitions("term", "shard", "doc_idx")
         .mapInArrow(make_encode_arrow_partition(avgdl_live, meta["k1"],
                                                 meta["b"]),
                     schema=ENCODED_POSTINGS_SCHEMA)
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(f"{gdir}/postings"))
    return n_live, avgdl_live


def _write_no_postings(spark: SparkSession, gdir: str) -> None:
    """A generation whose changed docs are all zero-token has docmap rows
    but no postings: write a schema-only postings dir readers can open."""
    spark.createDataFrame([], ENCODED_POSTINGS_SCHEMA).write.mode(
        "overwrite").parquet(f"{gdir}/postings")


def _write_positional_delta(spark: SparkSession, meta: dict,
                            changed: DataFrame, gdir: str, start_idx: int,
                            n_surv: int, surv_dl: int) -> tuple[int, float]:
    """Positional delta postings: build_index + the pandas encoder (the
    Arrow encoder has no positions yet). Returns (n_docs_live,
    avgdl_live)."""
    from pyspark.sql import Observation

    sub = build_index(changed, with_positions=True)
    obs = Observation("delta_docmap_stats")
    assign_doc_indices(sub.docs, start_idx=start_idx).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).write.mode("overwrite").parquet(f"{gdir}/docmap")
    sub_docmap = spark.read.parquet(f"{gdir}/docmap")
    new_dl = int(obs.get["s"] or 0)
    n_live = n_surv + int(obs.get["n"])
    avgdl_live = (surv_dl + new_dl) / n_live
    if not new_dl:
        _write_no_postings(spark, gdir)
        return n_live, avgdl_live
    encoded = encode_postings(
        sub.postings, sub_docmap, sub.lexicon, avgdl_live,
        n_buckets=meta["n_buckets"], shard_cap=meta["shard_cap"],
        k1=meta["k1"], b=meta["b"],
    ).repartition(int(meta["n_buckets"]), "bucket")
    encoded.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{gdir}/postings"
    )
    return n_live, avgdl_live


def total_tombstones(meta: dict) -> int:
    return sum(int(d.get("n_tombstones", 0)) for d in meta.get("deltas", []))


def dead_ratio(meta: dict) -> float:
    dead = total_tombstones(meta)
    live = int(meta.get("n_docs", 0))
    return dead / (dead + live) if dead else 0.0


def should_compact(meta: dict, max_dead_ratio: float = 0.2,
                   max_tombstones: int = 5_000_000) -> bool:
    """LSM-style merge trigger. The cumulative tombstone count is ALSO
    the bound on the query readers' broadcast dead set (IndexReader), so
    this policy caps query-side memory, not just dead-scan overhead:
    compact when dead/(dead+live) >= max_dead_ratio OR the absolute
    tombstone count exceeds max_tombstones."""
    dead = total_tombstones(meta)
    return dead > 0 and (
        dead_ratio(meta) >= max_dead_ratio or dead >= max_tombstones
    )


def maybe_compact(spark: SparkSession, path: str,
                  max_dead_ratio: float = 0.2,
                  max_tombstones: int = 5_000_000) -> bool:
    """Compact `path` in place when the policy triggers; returns whether
    a compaction ran. The merged index is built in a sibling scratch dir
    and swapped in with two renames. CAVEATS (prefer the store/pointer
    variant `maybe_compact_store` for serving): (1) a crash BETWEEN the
    two renames leaves no index at `path` — the data survives in the
    orphaned .old-*/.compact-* sibling and must be renamed back by hand;
    (2) NOT concurrent-reader-safe: an IndexReader opened before the swap
    holds lazy frames over files this removes — re-open readers after."""
    import shutil

    meta = read_meta(path)
    if not should_compact(meta, max_dead_ratio, max_tombstones):
        return False
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    compact_index(spark, path, tmp)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return True


# ---------------------------------------------------------------------
# Serving store: generation dirs + an atomically-flipped CURRENT pointer
# (the zero-downtime compaction path — VERDICT r2 item 5). Mirrors the
# reference's content-index swap-on-sync semantics (a new index is built
# and aliases flipped, readers never see a half-state).
# ---------------------------------------------------------------------

CURRENT_FILE = "CURRENT"


def current_gen(store: str, fs=None) -> str | None:
    """The live generation NAME, or None when `store` is not a store.
    Authoritative source: the object-store-safe commit log
    (commitfs.log_head over `store/_commits/`); stores written before
    round 5 that only carry the legacy CURRENT file fall back to it
    (first promote with current code starts the log)."""
    _seq, payload = commitfs.log_head(fs, store)
    if payload is not None:
        return payload["gen"]
    raw = commitfs.get_bytes(fs, os.path.join(store, CURRENT_FILE))
    return raw.decode("utf-8").strip() if raw else None


def resolve_current(path: str, fs=None) -> str:
    """The live index dir: `path/<current generation>` when `path` is a
    store root, else `path` itself (plain index dirs stay valid)."""
    gen = current_gen(path, fs=fs)
    return os.path.join(path, gen) if gen else path


def promote(store: str, gen_name: str, fs=None) -> None:
    """Flip the pointer to `gen_name`, last-writer-wins. The commit is
    one immutable entry appended to the store's commit log — safe where
    rename does not exist (S3/GCS); readers resolve either the old or
    the new generation, never a half-state (commitfs module contract).
    For writer-vs-writer races where exactly one must win, use
    `try_promote`."""
    commitfs.force_commit(fs, store, {"gen": gen_name})


def try_promote(store: str, gen_name: str, expected_gen: str | None,
                fs=None, writer_id: str | None = None) -> bool:
    """CAS promote: flip to `gen_name` only if the live generation is
    still `expected_gen` (None = the store has no commit yet). Losers
    retire their log entry and return False; a True answer is
    READER-CONSISTENT — after the commit lands this re-reads the head
    and reports won only if readers actually resolve `gen_name`, which
    closes the portable-CAS acknowledgment window documented in
    commitfs.log_commit (on conditional-put backends the re-read is a
    plain read-back). This is the engine-side analog of the reference
    sink's CAS job-claim (svc/sync_job_runner.py:382-414)."""
    seq, payload = commitfs.log_head(fs, store)
    live = payload["gen"] if payload is not None else None
    if live is None and payload is None:
        # legacy store: CURRENT file only — treat it as seq 0 state
        raw = commitfs.get_bytes(fs, os.path.join(store, CURRENT_FILE))
        live = raw.decode("utf-8").strip() if raw else None
    if live != expected_gen:
        return False
    if not commitfs.log_commit(fs, store, seq, {"gen": gen_name},
                               writer_id=writer_id):
        return False
    return current_gen(store, fs=fs) == gen_name


def init_store(store: str, from_index: str,
               gen_name: str = "gen-00000001") -> str:
    """Create a serving store at `store` from an EXISTING complete index
    dir, moved in as the first generation; CURRENT is only written after
    the move, so it always names a complete generation (the store
    invariant readers rely on). To build in place: write the index into
    `os.path.join(store, gen_name)` yourself, then call
    `promote(store, gen_name)`. Returns the live generation dir."""
    if not os.path.exists(os.path.join(from_index, "meta.json")):
        raise ValueError(f"{from_index} is not a complete index dir")
    os.makedirs(store, exist_ok=True)
    gen_dir = os.path.join(store, gen_name)
    os.rename(from_index, gen_dir)
    promote(store, gen_name)
    return gen_dir


def gc_store(store: str, keep_previous: int = 1) -> list[str]:
    """Remove non-current generation dirs beyond the newest
    `keep_previous` (the grace window for readers opened before the last
    promote). Returns the removed dir names."""
    import shutil

    cur = os.path.basename(resolve_current(store))
    gens = sorted(
        (d for d in os.listdir(store)
         if d.startswith("gen-") and d != cur
         and os.path.isdir(os.path.join(store, d))),
        key=lambda d: os.path.getmtime(os.path.join(store, d)),
    )
    doomed = gens[: max(0, len(gens) - keep_previous)]
    for d in doomed:
        shutil.rmtree(os.path.join(store, d), ignore_errors=True)
    # bound the commit log alongside the generation dirs (old entries
    # are correctness-inert — readers only elect the head)
    commitfs.gc_log(None, store)
    return doomed


def maybe_compact_store(spark: SparkSession, store: str,
                        max_dead_ratio: float = 0.2,
                        max_tombstones: int = 5_000_000,
                        keep_previous: int = 1) -> bool:
    """Zero-downtime compaction: compact the CURRENT generation into a
    fresh gen dir, atomically flip the pointer, then GC generations older
    than the grace window. Readers opened before the flip keep answering
    rank-identically from the previous generation (its files survive the
    grace window); readers opened after resolve the new one. Crash-safe
    at every point: CURRENT always names a complete generation."""
    import shutil

    cur_name = current_gen(store)
    if cur_name is None:
        raise ValueError(f"{store} is not a store (no commit log or "
                         f"{CURRENT_FILE} file)")
    cur = os.path.join(store, cur_name)
    meta = read_meta(cur)
    if not should_compact(meta, max_dead_ratio, max_tombstones):
        return False
    new_name = f"gen-{uuid.uuid4().hex[:12]}"
    compact_index(spark, cur, os.path.join(store, new_name))
    # CAS, not force: two compactors racing from the same live
    # generation must not double-promote — the loser deletes its own
    # (never-visible) generation dir and reports no-op. A crash BEFORE
    # the try_promote leaves CURRENT untouched and an orphan gen dir
    # that gc_store reclaims; readers never see a half-state.
    if not try_promote(store, new_name, expected_gen=cur_name):
        shutil.rmtree(os.path.join(store, new_name), ignore_errors=True)
        return False
    gc_store(store, keep_previous=keep_previous)
    return True


def compact_index(spark: SparkSession, path: str, out_path: str) -> None:
    """Fold all generations into a fresh single-generation index (drops
    tombstones, restores dense stats) — the LSM merge step."""
    meta = read_meta(path)
    reader = IndexReader(spark, path, cache=False)
    dead_bc = reader._dead_bc

    def decode_rows(batches):
        """Live (term, doc_idx, tf) postings: one batch decode of the
        gap and tf streams per Arrow batch, tombstoned docs masked."""
        import pyarrow as pa

        dead = dead_bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            n = rb.column("n_docs").to_numpy()
            _, d, tf, _ = decode_shards_batch(n, rb.column("doc_gaps"),
                                              rb.column("tfs"))
            row = np.repeat(np.arange(len(n)), n)
            if len(dead):
                pos = np.minimum(np.searchsorted(dead, d), len(dead) - 1)
                live = dead[pos] != d
                d, tf, row = d[live], tf[live], row[live]
            yield pa.RecordBatch.from_arrays(
                [rb.column("term").take(pa.array(row)), pa.array(d),
                 pa.array(tf)], names=["term", "doc_idx", "tf"])

    flat = reader.postings.select(
        "term", "n_docs", "doc_gaps", "tfs"
    ).mapInArrow(decode_rows, schema="term string, doc_idx long, tf long")
    docmap = _live_docmap(spark, path, meta)

    postings = flat.join(
        docmap.select("doc_idx", "doc_id"), "doc_idx"
    ).select("term", "doc_id", "tf")
    docs = docmap.drop("doc_idx")
    from connectors_spark.operators.build import IndexFrames
    stats = docs.agg(F.count(F.lit(1)), F.sum("dl")).first()
    n_docs = int(stats[0])
    avgdl = float(stats[1]) / n_docs if n_docs else 0.0
    lexicon = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idx = IndexFrames(postings=postings, docs=docs, lexicon=lexicon,
                      n_docs=n_docs, avgdl=avgdl)
    from connectors_spark.operators.index import write_encoded_index
    write_encoded_index(idx, out_path, n_buckets=meta["n_buckets"],
                        shard_cap=meta["shard_cap"], k1=meta["k1"],
                        b=meta["b"])


def upsert_docs(spark: SparkSession, path: str,
                batch: DataFrame) -> dict | None:
    """Apply a MICRO-BATCH of documents as upserts (create/update by
    doc freshness; never deletes — absence from a micro-batch means
    nothing, unlike the full-snapshot contract of incremental_update).
    This is the foreachBatch body for streaming index maintenance:
    replaying the same batch is a no-op (equal timestamps classify as
    skip), so checkpoint-replayed micro-batches are idempotent.
    Returns the delta record, or None if the batch changed nothing."""
    path = resolve_current(path)
    meta = read_meta(path)
    live = _live_docmap(spark, path, meta).persist()
    new_docs = with_doc_id(batch).persist()
    # restrict the live side to the batch's keys: docs outside the
    # batch must never classify as deletes
    live_sub = live.join(new_docs.select("doc_id"), "doc_id",
                         "left_semi")
    ops = classify_sync_ops(
        new_docs.select("doc_id", "ts"), live_sub.select("doc_id", "ts")
    ).persist()
    counts = {r["op"]: int(r["count"])
              for r in ops.groupBy("op").count().collect()}
    rec = None
    if counts.get("create") or counts.get("update"):
        changed_ids = ops.filter(
            F.col("op").isin("create", "update")).select("doc_id")
        dead_ids = ops.filter(F.col("op") == "update").select("doc_id")
        changed = new_docs.join(changed_ids, "doc_id", "left_semi")
        rec = _apply_delta(spark, path, meta, live, dead_ids, changed, counts)
    ops.unpersist(); live.unpersist(); new_docs.unpersist()
    return rec


def streaming_index_maintenance(spark: SparkSession, path: str,
                                stream: DataFrame, checkpoint: str,
                                trigger_available_now: bool = True):
    """Wire a transcript stream into the index as foreachBatch
    upserts — Structured Streaming owns offsets/exactly-once replay,
    upsert_docs owns idempotent application. Returns the started
    StreamingQuery (caller awaits/stops)."""
    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_docs(spark, path, batch_df)

    w = (stream.writeStream.foreachBatch(_apply)
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
