"""Encoded-index lifecycle: build -> write (bucketed parquet) -> query.

Physical layout (the part Elasticsearch/Lucene owns in the reference):

  index_dir/
    meta.json                 n_docs, avgdl, k1, b, n_buckets, shard cap
    docmap/                   (doc_idx, doc_id, dl) parquet
    postings/bucket=<i>/      encoded shards (schema.ENCODED_POSTINGS_SCHEMA)

- bucket = pmod(xxhash64(term), n_buckets): query-side partition pruning —
  a query touches only its terms' buckets (SURVEY §3.4).
- hot-term sharding: a term with df > shard_cap splits into n_shards =
  next-power-of-two(ceil(df/shard_cap)) shards by doc_idx % n_shards; caps
  the group size per encode task (Zipf head safety, SURVEY §7.3#2)
  while keeping every shard sorted by doc_idx (WAND treats shards of one
  term as disjoint sorted lists). Power-of-two residue sharding
  NESTS (doc % 2^j == (doc % 2^m) % 2^j for j <= m), which is what lets
  the query side split one query across G disjoint doc-space groups with
  every doc's postings for EVERY query term landing in the same group —
  the hot-term-safe distributed top-k (IndexReader.topk).
- every writer (fused build, `write_encoded_index`, the resumable
  writer, delta generations) gets its encoder input from token entries
  through one core, `posting_rows` / `attach_doc_idx`.
- encoding is one step (`encode_rows`) for every index write:
  repartition -> sort by (term, shard, doc_idx) -> mapInArrow over the
  Arrow encoder — the only Python in the build, vectorized NumPy inside
  (functions/codec.py encode_streams), positions included.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connectors_spark import BM25_B, BM25_K1, BROADCAST_DOCS_MAX
from connectors_spark.operators.build import (
    IndexFrames,
    _token_entries,
    assign_doc_indices,
    entries_have_positions,
)
from connectors_spark.operators.score import idf_np, tf_norm_np
from connectors_spark.operators.wand import KERNELS, run_kernel, tie_cut
from connectors_spark.schema import (
    ENCODED_POSTINGS_SCHEMA,
    arrow_frame,
    sql_in,
)

DEFAULT_SHARD_CAP = 1 << 20  # 1M postings per encoded shard
DEFAULT_BUCKETS = 64
# Upper bound on the per-query doc-space fan-out in IndexReader.topk /
# phrase_topk. Tune to the cluster: ~2x cores locally, ~executor count on
# a real cluster. Must effectively be a power of two (rounded down).
# Tradeoff: higher G spreads a hot term over more tasks but replicates
# sub-G-sharded terms' (small) blobs to G/n_shards groups each.
DEFAULT_MAX_GROUPS = 64


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side twin of bucket_col — lets the query planner prune
    partitions without a Spark job."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def bucket_col(term: F.Column | str, n_buckets: int) -> F.Column:
    """Executor-side term->bucket (same value as bucket_of)."""
    c = F.col(term) if isinstance(term, str) else term
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets
    ).cast("int")


def shard_cols(shard_cap: int) -> list:
    """n_shards/shard columns splitting hot terms across the doc space.

    n_shards = next power of two >= ceil(df/shard_cap) and shard =
    doc_idx % n_shards (doc_idx is dense, so residues are balanced).
    Power-of-two counts nest across terms — the invariant the
    per-(query, group) distributed top-k relies on (module docstring)."""
    n_raw = F.greatest(F.lit(1), F.ceil(F.col("df") / F.lit(shard_cap)))
    exp = F.greatest(
        F.lit(0),
        F.ceil(F.log2(n_raw.cast("double")) - F.lit(1e-9)).cast("int"),
    )
    # 2^exp (exact in double up to 2^52 — far beyond any shard count)
    n_shards = F.pow(F.lit(2.0), exp.cast("double")).cast("int")
    return [
        n_shards.alias("n_shards"),
        F.pmod(F.col("doc_idx"), n_shards).cast("int").alias("shard"),
    ]


def write_encoded_index(
    index: IndexFrames,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    shard_cap: int = DEFAULT_SHARD_CAP,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> None:
    """Encode a `build_index` result's entries into `path` through the
    fused build's core (`_write_entries`), leaving them cached: they
    belong to `index`. A derived frame (no entries) raises ValueError."""
    _write_entries(index.require_entries(), path, n_buckets=n_buckets,
                   shard_cap=shard_cap, k1=k1, b=b)


def index_meta(n_docs: int, avgdl: float, k1: float, b: float,
               n_buckets: int, shard_cap: int, positions: bool) -> dict:
    """meta.json of a single-generation index."""
    return {"n_docs": n_docs, "avgdl": avgdl, "gen0_avgdl": avgdl, "k1": k1,
            "b": b, "n_buckets": n_buckets, "shard_cap": shard_cap,
            "deltas": [], "positions": positions}


def encode_rows(rows: DataFrame, n_parts: int, key: list[str],
                avgdl: float, k1: float, b: float,
                out_dir: str | None = None) -> DataFrame:
    """The one encode step of every index write: hash-distribute the
    encoder's input rows (see `attach_doc_idx`) on `key`, sort each
    partition by (term, shard, doc_idx) and stream it through the Arrow
    encoder. Full builds key on (term, shard); delta generations key on
    bucket, so each bucket is encoded by one task and its dir gets one
    file. Returns the encoded rows (ENCODED_POSTINGS_SCHEMA) — or, with
    `out_dir`, the manifest rows of the parquet files the tasks wrote
    under it themselves (make_encode_arrow_write_partition)."""
    sorted_rows = rows.repartition(n_parts, *key).sortWithinPartitions(
        "term", "shard", "doc_idx"
    )
    if out_dir is None:
        return sorted_rows.mapInArrow(
            make_encode_arrow_partition(avgdl, k1, b),
            schema=ENCODED_POSTINGS_SCHEMA,
        )
    return sorted_rows.mapInArrow(
        make_encode_arrow_write_partition(avgdl, k1, b, out_dir),
        schema="bucket int, file string, rows long",
    )


def make_encode_arrow_partition(avgdl: float, k1: float, b: float):
    """Arrow-native streaming encoder for mapInArrow: group detection,
    varint encoding and output construction all operate on Arrow/NumPy
    buffers — no pandas round-trip, no per-group Python work. The binary
    output columns are built as ONE data buffer plus a fresh offsets
    array (pa.Array.from_buffers), and the block-metadata lists as one
    values array plus list offsets — the guide §4.2 re-slicing pattern,
    zero bytes copied per group. Input partitions are sorted by (term,
    shard, doc_idx); Arrow may split one run across batches, so the tail
    run of every batch is carried into the next. A non-null `positions`
    list column is encoded into `positions` / `block_pos_offsets`; without
    one both are null. Yields RecordBatches matching
    ENCODED_POSTINGS_SCHEMA."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from connectors_spark.functions.codec import encode_streams

    def encode_tbl(tbl: "pa.Table") -> "pa.RecordBatch":
        tbl = tbl.combine_chunks()
        m = tbl.num_rows
        term = tbl.column("term")
        shard = tbl.column("shard")
        if m == 1:
            gstarts = np.zeros(1, dtype=np.int64)
        else:
            neq = pc.or_(
                pc.not_equal(term.slice(1), term.slice(0, m - 1)),
                pc.not_equal(shard.slice(1), shard.slice(0, m - 1)),
            ).to_numpy(zero_copy_only=False)
            gstarts = np.flatnonzero(np.concatenate(([True], neq)))
        tf = tbl.column("tf").to_numpy()
        dl = tbl.column("dl").to_numpy()
        pos = (tbl.column("positions").chunk(0)
               if "positions" in tbl.column_names else None)
        if pos is not None and pos.null_count:
            pos = None  # NULL lists encode as no positions
        st = encode_streams(
            tbl.column("doc_idx").to_numpy(), tf, dl,
            tf_norm_np(tf, dl, avgdl, k1, b), gstarts,
            positions=None if pos is None else pos.flatten().to_numpy(),
        )
        ng = len(gstarts)
        take_idx = pa.array(gstarts)

        def bin_col(buf: bytes, off: np.ndarray) -> "pa.Array":
            offs = np.empty(ng + 1, dtype=np.int32)
            offs[:-1] = off[gstarts]
            offs[-1] = len(buf)
            return pa.Array.from_buffers(
                pa.binary(), ng,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)],
            )

        loffs = np.zeros(ng + 1, dtype=np.int32)
        np.cumsum(st["nblocks"], out=loffs[1:])
        loffs_pa = pa.array(loffs)

        def list_col(vals: np.ndarray) -> "pa.Array":
            return pa.ListArray.from_arrays(loffs_pa, pa.array(vals))

        chunk0 = lambda c: c.chunk(0) if isinstance(c, pa.ChunkedArray) else c
        arrays = [
            chunk0(pc.take(term, take_idx)),
            chunk0(pc.take(tbl.column("bucket"), take_idx)),
            chunk0(pc.take(shard, take_idx)),
            chunk0(pc.take(tbl.column("n_shards"), take_idx)),
            pa.array(st["glens"]),
            chunk0(pc.take(tbl.column("df"), take_idx)),
            bin_col(st["gap_buf"], st["gap_off"]),
            bin_col(st["tf_buf"], st["tf_off"]),
            bin_col(st["dl_buf"], st["dl_off"]),
            (pa.nulls(ng, pa.binary()) if pos is None
             else bin_col(st["pos_buf"], st["pos_off"])),
            list_col(st["block_last_doc"]),
            list_col(st["block_offsets"]),
            list_col(st["block_tf_offsets"]),
            list_col(st["block_dl_offsets"]),
            (pa.nulls(ng, pa.list_(pa.int64())) if pos is None
             else list_col(st["block_pos_offsets"])),
            list_col(st["block_max_w"]),
        ]
        names = [f.name for f in ENCODED_POSTINGS_SCHEMA.fields]
        return pa.RecordBatch.from_arrays(arrays, names=names)

    def run(batches):
        carry: "pa.Table | None" = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
                carry = None
            m = tbl.num_rows
            if m == 0:
                continue
            # the last (term, shard) run may continue in the next Arrow
            # batch — carry it (input sorted by term, shard, doc_idx)
            same = pc.and_(
                pc.equal(tbl.column("term"), tbl.column("term")[m - 1]),
                pc.equal(tbl.column("shard"), tbl.column("shard")[m - 1]),
            ).to_numpy(zero_copy_only=False)
            tail_start = m - int(same[::-1].argmin()) if not same.all() else 0
            carry = tbl.slice(tail_start)
            body = tbl.slice(0, tail_start)
            if body.num_rows:
                yield encode_tbl(body)
        if carry is not None and carry.num_rows:
            yield encode_tbl(carry)

    return run


def make_encode_arrow_write_partition(avgdl: float, k1: float, b: float,
                                      out_dir: str):
    """Task-side direct parquet writer (the table-format commit pattern):
    each encode task writes its own `bucket=<i>/part-p<pid>-a<att>.parquet`
    files with pyarrow and yields one tiny manifest row per file —
    there is NO Spark file committer, so the driver never serially
    renames O(files) outputs (that commit pass is a fixed driver cost
    that eats N->4N scaling, measured in tools/scaling_probe.py).

    File names are attempt-suffixed (Iceberg/table-format pattern), so
    concurrent attempts of the same partition (speculative execution,
    zombie tasks on a real cluster) never interleave writes into one
    file. Spark surfaces only the WINNING attempt's manifest rows to the
    driver, which persists them as `postings_manifest.json`; readers
    resolve files through that manifest (read_postings), so a loser
    attempt's orphan files are invisible even if they land after the
    build commits. Requires a task-visible filesystem (local dir here;
    an object store via pyarrow.fs in cluster deployments).

    The task buffers its encoded batches and writes ONE parquet table
    per bucket, so every file is a single row group. Min/max statistics
    cover the scalar columns only: the binary streams and block lists
    are always decoded whole and no read filters on them, so their
    statistics only grew every footer and page header (7.5 % of the
    postings bytes of a 3,200-doc index). Task output is bounded by the input partition
    size, so the buffer is too."""
    import pyarrow as pa

    enc = make_encode_arrow_partition(avgdl, k1, b)

    def run(batches):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        att = tc.attemptNumber()
        schema = _arrow_encoded_schema()
        got = list(enc(batches))
        out_b, out_f, out_r = [], [], []
        if got:
            tbl = pa.Table.from_batches(got).combine_chunks()
            buckets = tbl.column("bucket").to_numpy()
            order = np.argsort(buckets, kind="stable")
            tbl = tbl.take(pa.array(order)).combine_chunks()
            buckets = buckets[order]
            starts = np.flatnonzero(
                np.concatenate(([True], buckets[1:] != buckets[:-1]))
            )
            ends = np.append(starts[1:], len(buckets))
            body = tbl.drop_columns(["bucket"]).select(
                [f.name for f in schema]
            )
            for a, e in zip(starts.tolist(), ends.tolist()):
                b_ = int(buckets[a])
                d = os.path.join(out_dir, f"bucket={b_}")
                os.makedirs(d, exist_ok=True)
                fp = os.path.join(d, f"part-p{pid:05d}-a{att}.parquet")
                sub = body.slice(a, e - a).combine_chunks()
                with pq.ParquetWriter(fp, schema, write_statistics=[
                        "term", "shard", "n_shards", "n_docs", "df"]) as w:
                    w.write_table(sub.cast(schema))
                out_b.append(b_)
                out_f.append(fp)
                out_r.append(e - a)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_b, type=pa.int32()),
             pa.array(out_f, type=pa.string()),
             pa.array(out_r, type=pa.int64())],
            names=["bucket", "file", "rows"],
        )

    return run


def _arrow_encoded_schema():
    """pyarrow twin of ENCODED_POSTINGS_SCHEMA minus the bucket column
    (hive dir-encoded) — pinned explicitly so task-side parquet files
    read back with exactly the Spark types."""
    import pyarrow as pa
    return pa.schema([
        ("term", pa.string()),
        ("shard", pa.int32()),
        ("n_shards", pa.int32()),
        ("n_docs", pa.int64()),
        ("df", pa.int64()),
        ("doc_gaps", pa.binary()),
        ("tfs", pa.binary()),
        ("dls", pa.binary()),
        ("positions", pa.binary()),
        ("block_last_doc", pa.list_(pa.int64())),
        ("block_offsets", pa.list_(pa.int64())),
        ("block_tf_offsets", pa.list_(pa.int64())),
        ("block_dl_offsets", pa.list_(pa.int64())),
        ("block_pos_offsets", pa.list_(pa.int64())),
        ("block_max_w", pa.list_(pa.float64())),
    ])


@contextmanager
def posting_rows(ent: DataFrame, docmap_dir: str, *, n_buckets: int,
                 shard_cap: int, start_idx: int = 0):
    """The write core of every index writer: token entries
    (`_token_entries`: *id_cols, dl, _entries) -> docmap written to
    `docmap_dir` ‖ lexicon -> encoder input rows (`attach_doc_idx`).

    Yields (rows, n_docs, sum_dl): df counts the docs of `ent` only;
    n_docs and sum_dl come from an Observation on the docmap write, so
    corpus stats cost no extra pass. doc_idx starts at `start_idx`. The
    id columns (doc_id [+ ts]) ride into the docmap, the index manifest
    of the sync diff. `ent` must be persisted — the barrier the explode
    needs (see _token_entries) — and its cache belongs to the caller;
    the lexicon stays pinned until the caller's encode job inside the
    `with` body has run.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.util import inheritable_thread_target

    spark = ent.sparkSession
    # corpus stats ride the docmap WRITE job via Observation — no
    # separate count/sum pass over the written parquet
    obs = Observation("docmap_stats")
    docmap = assign_doc_indices(
        ent.drop("_entries"), start_idx=start_idx
    ).observe(obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
    # lexicon df needs no doc_idx (it counts (term, doc) pairs straight
    # off the cached entries), so its aggregation job runs CONCURRENTLY
    # with the docmap write — the scheduler back-fills the docmap job's
    # tail with lexicon tasks (guide §2.6 overlap of independent jobs);
    # both only read the ent cache (per-partition cache locks keep the
    # first materialization single-computed)
    lexicon = (
        ent.select(F.explode("_entries").alias("_e"))
        .select(F.col("_e.term").alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .persist()
    )
    try:
        # inheritable targets: the pool threads' jobs keep the caller's
        # job group and description
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_map = pool.submit(inherit(
                lambda: docmap.write.mode("overwrite").parquet(docmap_dir)))
            f_lex = pool.submit(inherit(lexicon.count))
            f_map.result()
            f_lex.result()
        docmap = spark.read.schema(docmap.schema).parquet(docmap_dir)
        n_docs = int(obs.get["n"])
        sum_dl = int(obs.get["s"] or 0)
        yield (attach_doc_idx(ent, docmap, lexicon, n_docs,
                              n_buckets=n_buckets, shard_cap=shard_cap),
               n_docs, sum_dl)
    finally:
        lexicon.unpersist()


def attach_doc_idx(ent: DataFrame, docmap: DataFrame, lexicon: DataFrame,
                   n_docs: int, *, n_buckets: int,
                   shard_cap: int) -> DataFrame:
    """Persisted token entries + their written docmap + lexicon -> the
    encoder's input rows (term, doc_idx, tf, dl, df[, positions],
    n_shards, shard, bucket), positions exactly when the entries have
    them. doc_idx attaches to the per-doc entries before the explode,
    so no postings-sized join is keyed on doc_id."""
    # explicit broadcast while the docmap is broadcastable (exact
    # decision — n_docs is known); beyond that a shuffle join of the
    # compact (doc_id, entries) rows
    dm = docmap.select("doc_id", "doc_idx")
    if n_docs <= BROADCAST_DOCS_MAX:
        dm = F.broadcast(dm)
    pos_cols = ["positions"] if entries_have_positions(ent) else []
    postings = (
        ent.join(dm, "doc_id")
        .select("doc_idx", "dl", F.explode("_entries").alias("_e"))
        .select("doc_idx", "dl", F.col("_e.term").alias("term"),
                F.col("_e.tf").cast("long").alias("tf"),
                *[F.col(f"_e.{c}").alias(c) for c in pos_cols])
    )
    return (
        postings.join(F.broadcast(lexicon), "term")
        .select("term", "doc_idx", "tf", "dl", "df", *pos_cols,
                *shard_cols(shard_cap))
        .withColumn("bucket", bucket_col("term", n_buckets))
    )


def write_empty_postings(spark: SparkSession, post_dir: str) -> None:
    """A schema-only postings dir, for a write with no postings at all
    (an empty or all-zero-token corpus or generation): any reader can
    open it, even one that infers the schema."""
    spark.createDataFrame([], ENCODED_POSTINGS_SCHEMA).write.mode(
        "overwrite").parquet(post_dir)


def write_index_postings(rows: DataFrame, path: str, avgdl: float,
                         k1: float, b: float,
                         num_partitions: int | None = None,
                         direct_write: bool | None = None,
                         key: list[str] | None = None) -> None:
    """Encode the encoder's input rows (see `attach_doc_idx`) into
    `path/postings` — the commit step of every generation: the fused
    build and compaction key the encode on (term, shard) (the default
    `key`), a delta generation on bucket, so each bucket is encoded by
    one task and its dir gets one file.

    With `direct_write` the encode tasks write their own parquet files
    (make_encode_arrow_write_partition) and the driver commits the
    winner manifest: no Spark committer, so no driver-side serial renames
    of O(files). Task-side pyarrow writes need the output path visible to
    every task as a plain local path, so None (auto) enables it only in
    local mode on a scheme-less path; cluster/URI deployments keep the
    committer (or opt in explicitly after wiring pyarrow.fs). An empty
    manifest (no postings at all) leaves a schema-only dir and no
    manifest."""
    spark = rows.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if direct_write is None:
        direct_write = (spark.sparkContext.master.startswith("local")
                        and "://" not in path)
    post_dir = f"{path}/postings"
    key = key or ["term", "shard"]
    if direct_write:
        import shutil

        shutil.rmtree(post_dir, ignore_errors=True)
        os.makedirs(post_dir, exist_ok=True)
        manifest = encode_rows(rows, num_partitions, key, avgdl, k1, b,
                               out_dir=post_dir).collect()
        if manifest:
            # Iceberg-style commit: persist the winner file list, then
            # best-effort-GC loser-attempt orphans
            write_postings_manifest(path, manifest)
            gc_unmanifested(path)
        else:
            # a manifest left by an earlier write names deleted files
            if os.path.exists(os.path.join(path, POSTINGS_MANIFEST)):
                os.remove(os.path.join(path, POSTINGS_MANIFEST))
            write_empty_postings(spark, post_dir)
        return
    # classic committer path: bucket pruning is directory-level, multiple
    # files per bucket dir (<= encode tasks) cost nothing at read time
    encode_rows(rows, num_partitions, key, avgdl, k1, b).write.mode(
        "overwrite").partitionBy("bucket").parquet(post_dir)


def build_and_write_index(
    transcripts: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    shard_cap: int = DEFAULT_SHARD_CAP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    num_partitions: int | None = None,
    direct_write: bool | None = None,
) -> dict:
    """Fused fast path: transcripts -> encoded index in minimal shuffles.

    Shuffle-volume design (the thing that matters at 10^12 turns):
    - ONE tokenize pass: per-doc (term, tf) entries and dl come from the
      sorted token array (`posting_rows` / `_token_entries`), so there is
      no groupBy(term, doc) over the token stream;
    - doc_idx assignment is ONE range shuffle + monotonic ids over the
      per-doc rows (no count collect, no window pass — see
      assign_doc_indices), attached to the cached entries by a broadcast
      join, so the encode shuffle keys on int64 doc_idx, not the
      'conv-…:…' string id;
    - lexicon df comes back via an explicit broadcast join;
    - total wide ops: docmap range-assign (docs only), df partial-agg,
      repartition(term, shard) of compact long-keyed postings
      (`encode_rows`). `write_encoded_index` writes a `build_index`
      result through the same core (`_write_entries`); this one skips
      the logical frames and is the throughput builder used by
      bench/scaling.
    Returns meta.
    """
    from connectors_spark.operators.build import with_doc_id

    base = with_doc_id(transcripts)
    id_cols = ["doc_id"] + (["ts"] if "ts" in base.columns else [])
    # ONE array-side tokenize pass, no token-stream shuffle; the persist
    # is the barrier posting_rows' explode needs (see _token_entries)
    ent = _token_entries(base, id_cols).persist()
    try:
        return _write_entries(ent, path, n_buckets=n_buckets,
                              shard_cap=shard_cap, k1=k1, b=b,
                              num_partitions=num_partitions,
                              direct_write=direct_write)
    finally:
        ent.unpersist()


def _write_entries(ent: DataFrame, path: str, *, n_buckets: int,
                   shard_cap: int, k1: float, b: float,
                   num_partitions: int | None = None,
                   direct_write: bool | None = None) -> dict:
    """Persisted token entries -> a single-generation index at `path`:
    `posting_rows`, the commit (`write_index_postings`) and meta.json,
    whose `positions` is whether the entries carry them. Returns meta."""
    with posting_rows(ent, f"{path}/docmap", n_buckets=n_buckets,
                      shard_cap=shard_cap) as (p, n_docs, sum_dl):
        avgdl = float(sum_dl) / n_docs if n_docs else 0.0
        write_index_postings(p, path, avgdl, k1, b,
                             num_partitions=num_partitions,
                             direct_write=direct_write)
    meta = index_meta(n_docs, avgdl, k1, b, n_buckets, shard_cap,
                      entries_have_positions(ent))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


POSTINGS_MANIFEST = "postings_manifest.json"


def write_postings_manifest(path: str, manifest_rows) -> list[str]:
    """Persist the winner-attempt file list (relative to postings/) —
    the Iceberg-style commit record. `manifest_rows` are the rows the
    driver collected from make_encode_arrow_write_partition: Spark only
    surfaces output from the attempt that WON each partition, so files a
    loser/zombie attempt wrote are absent here and stay invisible to
    readers forever (read_postings resolves through this file)."""
    post_dir = os.path.join(path, "postings")
    rel = sorted({os.path.relpath(r["file"], post_dir) for r in manifest_rows})
    # object-store-safe commit: one atomic PUT of the manifest (local:
    # tmp + rename via commitfs) AFTER every named part file is durable
    # — a reader resolves the previous manifest or this one, never a
    # mix, and attempt-suffixed loser files stay invisible either way.
    from connectors_spark import commitfs
    commitfs.put_json_atomic(
        os.path.join(path, POSTINGS_MANIFEST), {"files": rel})
    return rel


def gc_unmanifested(path: str) -> list[str]:
    """Best-effort cleanup of orphan posting files a loser attempt left
    behind (speculative execution / zombie tasks). Correctness never
    depends on this — manifest-resolved reads skip orphans regardless;
    this just reclaims space. A still-running zombie may recreate its
    file after GC; rerun later or lifecycle-expire on an object store."""
    post_dir = os.path.join(path, "postings")
    mf = os.path.join(path, POSTINGS_MANIFEST)
    if not os.path.isdir(post_dir) or not os.path.exists(mf):
        return []
    with open(mf) as f:
        keep = set(json.load(f)["files"])
    removed = []
    for root, _dirs, files in os.walk(post_dir):
        for fn in files:
            fp = os.path.join(root, fn)
            if os.path.relpath(fp, post_dir) not in keep:
                os.remove(fp)
                removed.append(fp)
    return removed


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    """Open the postings of one generation dir: an index's base, or a
    delta generation's `delta/<gen>`. When a direct-write manifest
    exists, read exactly the manifested files (basePath keeps the hive
    `bucket=` partition column) so loser-attempt orphans are invisible;
    committer-written generations (a cluster write, or a delta written
    before deltas took the direct write) fall back to directory listing
    (the committer already guarantees only winner output is visible).
    The schema is pinned (ENCODED_POSTINGS_SCHEMA), so opening runs no
    footer-inference job."""
    post_dir = f"{path}/postings"
    mf = os.path.join(path, POSTINGS_MANIFEST)
    if os.path.exists(mf):
        with open(mf) as f:
            files = json.load(f)["files"]
        if files:
            return spark.read.schema(ENCODED_POSTINGS_SCHEMA).option(
                "basePath", post_dir).parquet(
                *[os.path.join(post_dir, f) for f in files])
    return spark.read.schema(ENCODED_POSTINGS_SCHEMA).parquet(post_dir)


_SHARD_ROW_COLS = ("n_docs", "doc_gaps", "tfs", "dls", "block_last_doc",
                   "block_offsets", "block_tf_offsets", "block_dl_offsets",
                   "block_max_w")


TOMBSTONES_SCHEMA = "doc_idx long"
DEAD_DF_SCHEMA = "term string, dead long"


def _written_schema(spark: SparkSession, d: str):
    """The schema Spark wrote into a local parquet dir, read from one
    file's footer on the driver — no Spark job. A URI path, or a dir
    Spark did not write, falls back to Spark's inference job."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = ([] if "://" in d
             else sorted(glob.glob(os.path.join(d, "*.parquet"))))
    if files:
        js = (pq.read_schema(files[0]).metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata")
        if js:
            return StructType.fromJson(json.loads(js))
    return spark.read.parquet(d).schema


class Generations:
    """One open of an index's generation set — the base build plus every
    delta in `deltas` (operators/delta.py). Shared by IndexReader, the
    delta writer and compaction, so the per-generation layout is read in
    one place:

    - postings: base + delta encoded rows (ENCODED_POSTINGS_SCHEMA) plus
      `_gen`, the generation number. Every generation opens through
      `read_postings`, so a direct-written one resolves its files from
      its manifest;
    - docmap: every docmap row ever assigned, tombstoned docs included;
    - tombstones: the doc_idx of every delta's tombstones, in one read
      (`dead_ids`, `live_docmap`);
    - dead_df: the latest delta's cumulative per-term dead counts (None
      without deltas).

    Every read has a pinned schema. The docmap's columns and doc_id type
    depend on the source (doc_id [+ ts] + dl), so its schema is taken
    once from the base docmap's footer (`_written_schema`) and reused for
    every delta's."""

    def __init__(self, spark: SparkSession, path: str, deltas: list[dict]):
        self.spark, self.path = spark, path
        self.gens = [int(d["gen"]) for d in deltas]
        dm_schema = _written_schema(spark, f"{path}/docmap")
        self.postings = read_postings(spark, path).withColumn("_gen", F.lit(0))
        self.docmap = spark.read.schema(dm_schema).parquet(f"{path}/docmap")
        for d in deltas:
            if d.get("delete_only"):
                continue  # tombstones only — no postings/docmap dirs exist
            gdir = f"{path}/delta/{int(d['gen'])}"
            self.postings = self.postings.unionByName(
                read_postings(spark, gdir)
                .withColumn("_gen", F.lit(int(d["gen"]))))
            self.docmap = self.docmap.unionByName(
                spark.read.schema(dm_schema).parquet(f"{gdir}/docmap"))
        self.dead_df = (
            spark.read.schema(DEAD_DF_SCHEMA)
            .parquet(f"{path}/delta/{self.gens[-1]}/dead_df")
            if self.gens else None)

    def tombstones_of(self, gens: list[int]) -> DataFrame:
        """(doc_idx) of the tombstones of generations `gens`, one read."""
        return self.spark.read.schema(TOMBSTONES_SCHEMA).parquet(*[
            f"{self.path}/delta/{g}/tombstones" for g in gens])

    def dead_ids(self, gens: list[int] | None = None) -> np.ndarray:
        """Sorted tombstoned doc_idx of generations `gens` (default: the
        whole set) — one Spark job, none when there is nothing to read."""
        gens = self.gens if gens is None else gens
        if not gens:
            return np.zeros(0, dtype=np.int64)
        return np.sort(np.asarray(
            self.tombstones_of(gens).toArrow().column("doc_idx").to_numpy(),
            dtype=np.int64))

    def live_docmap(self) -> DataFrame:
        """The docmap minus every tombstoned doc."""
        if not self.gens:
            return self.docmap
        return self.docmap.join(self.tombstones_of(self.gens), "doc_idx",
                                "left_anti")


def _shard_dicts(grp: pd.DataFrame, avgdl: float,
                 gen_avgdl: dict) -> list[dict]:
    """Encoded shard rows of one term as plain dicts, extracted
    column-wise (one .to_numpy per column) — iterrows() built a pandas
    Series per row, which dominated kernel setup on multi-shard terms.
    The dicts carry exactly the fields the kernels touch: the encoded
    streams, `positions` when the frame has them, the row's generation
    `_gen` and its block-max bound scale `_ub_scale`."""
    m = len(grp)
    gen = (grp["_gen"].to_numpy() if "_gen" in grp.columns
           else np.zeros(m, dtype=np.int64))
    names = _SHARD_ROW_COLS + (
        ("positions",) if "positions" in grp.columns else ())
    cols = [grp[c].to_numpy(object) for c in names]
    rows = []
    for j in range(m):
        g = int(gen[j])
        d = {"_gen": g, "_ub_scale": max(1.0, avgdl / gen_avgdl.get(g, avgdl))}
        for name, arr in zip(names, cols):
            d[name] = arr[j]
        rows.append(d)
    return rows


class IndexReader:
    """Cached handle on an encoded index — reuse across queries so
    per-query latency is kernel time, not parquet listing/scan time.

    Understands incremental generations (operators/delta.py): postings =
    base union deltas; tombstoned doc_idx are masked in the kernels; per-
    term dead counts correct df for exact idf; stored block-max bounds are
    scaled by max(1, avgdl_live/avgdl_at_build).

    Opening goes through `Generations`: every frame is read with a pinned
    schema, so no read runs a footer-inference job, and the tombstones of
    every delta come back in ONE read — an open (cache=False) submits
    one Spark job when the index has deltas and none when it has not
    (plus Spark's own listing job for a read of more than
    `spark.sql.sources.parallelPartitionDiscovery.threshold` paths).

    The tombstone broadcast `_dead_bc` lives as long as the reader: its
    pickled driver-side temp file goes when the SparkContext stops (no
    reader method destroys it, since any later query ships it again)."""

    def __init__(self, spark: SparkSession, path: str, cache: bool = True,
                 pit_gen: int | None = None):
        """pit_gen: ES point-in-time analog. Delta generations are
        append-only and tombstones live in NEWER delta dirs, so a reader
        pinned to deltas <= pit_gen answers exactly as the index stood at
        that watermark (pit_gen=0 = the pristine base build) — no file
        copies, no frozen snapshot dirs; corpus stats are restored from
        the per-delta `n_docs_live`/`avgdl_live` records. The default
        (None) reads the full delta chain, and since meta is snapshotted
        here at open, an already-open reader keeps its own point in time
        while writers append deltas (ES PIT keep_alive semantics)."""
        self.spark = spark
        # a store root (CURRENT pointer file) resolves to its live
        # generation at open; the reader then pins that generation's
        # files for its lifetime — concurrent compactions promote a new
        # generation without touching these (operators/delta.py store)
        from connectors_spark.operators.delta import resolve_current
        path = resolve_current(path)
        self.path = path
        self.meta = read_meta(path)
        deltas = self.meta.get("deltas", [])
        if pit_gen is not None:
            deltas = [d for d in deltas if int(d["gen"]) <= int(pit_gen)]
            if deltas:
                last = deltas[-1]
                self.meta["n_docs"] = int(
                    last.get("n_docs_live", self.meta["n_docs"]))
                self.meta["avgdl"] = float(
                    last.get("avgdl_live", last["avgdl_at_build"]))
            else:
                self.meta["n_docs"] = int(
                    self.meta.get("gen0_n_docs", self.meta["n_docs"]))
                self.meta["avgdl"] = float(
                    self.meta.get("gen0_avgdl", self.meta["avgdl"]))
            self.meta["deltas"] = deltas
        self.pit_gen = pit_gen
        self.gen_avgdl = {0: self.meta.get("gen0_avgdl", self.meta["avgdl"])}
        for d in deltas:
            self.gen_avgdl[int(d["gen"])] = float(d["avgdl_at_build"])
        gens = Generations(spark, path, deltas)
        self.dead = gens.dead_ids()
        # kernels read tombstones via a Spark broadcast (one torrent ship
        # per reader, not per-task closure pickling); size is bounded by
        # the compaction policy (operators/delta.py should_compact)
        self._dead_bc = spark.sparkContext.broadcast(self.dead)
        self.dead_df = gens.dead_df
        self.postings = gens.postings
        self.docmap = gens.docmap.select("doc_idx", "doc_id")
        # WAND may pre-seed its threshold (wand._theta_seed) only on a
        # pristine single-generation index: tombstones could kill the
        # achieving doc, and a changed avgdl makes stored block maxima
        # bounds rather than achieved values
        self._pristine = len(self.dead) == 0 and not deltas
        self._terminfo_cache: dict[str, tuple[int, int, int]] = {}
        # topk_local's serving budgets and term shard-row LRU cache
        self.local_term_df_budget = 2_000_000
        self.term_cache_bytes = 256 << 20
        self._term_cache: OrderedDict[str, list] = OrderedDict()
        self._term_nbytes: dict[str, int] = {}
        self._term_cache_used = 0
        if cache:
            self.postings = self.postings.persist()
            self.docmap = self.docmap.persist()

    def unpersist(self):
        self.postings.unpersist()
        self.docmap.unpersist()

    def _term_info(self, terms: list[str]
                   ) -> dict[str, tuple[int, int, int]]:
        """term -> (max n_shards across generations, total df across
        generations, live df), LRU-cached on the reader. One Spark job:
        the exchange-free `_term_info_frame` is collected and the driver
        takes each generation's df once, sums it over generations and
        subtracts the term's cumulative dead count. Absent terms map to
        (0, 0, 0)."""
        missing = sorted(t for t in terms if t not in self._terminfo_cache)
        if missing:
            acc = {t: [0, 0, 0] for t in missing}  # n_shards, df, dead
            seen = set()
            for r in self._term_info_frame(missing).collect():
                a = acc[r["term"]]
                if r["dead"] is not None:
                    a[2] += r["dead"]
                    continue
                a[0] = max(a[0], r["n_shards"])
                # every shard row of a generation repeats its df
                if (r["term"], r["_gen"]) not in seen:
                    seen.add((r["term"], r["_gen"]))
                    a[1] += r["df"]
            for t, (n, df, dead) in acc.items():
                self._terminfo_cache[t] = (n, df, df - dead)
        return {t: self._terminfo_cache[t] for t in terms}

    def _term_info_frame(self, terms: list[str]) -> DataFrame:
        """The pre-pass plan, with no exchange: the terms' raw shard rows
        (term, _gen, n_shards, df) from the bucket- and column-pruned
        postings — the posting blobs are never read — unioned with their
        (term, dead) rows of the cumulative dead counts."""
        n_buckets = self.meta["n_buckets"]
        buckets = sorted({bucket_of(t, n_buckets) for t in terms})
        in_terms = sql_in("term", terms)
        rows = (
            self.postings.filter(F.col("bucket").isin(buckets))
            .filter(in_terms)
            .select("term", "_gen", "n_shards", "df")
        )
        if self.dead_df is None:
            return rows.withColumn("dead", F.lit(None).cast("long"))
        return rows.unionByName(self.dead_df.filter(in_terms),
                                allowMissingColumns=True)

    def _scoring_rows(self, qterms: DataFrame, buckets: list[int],
                      n_parts: int | None = None) -> DataFrame:
        """The grouped kernels' input: the query terms' bucket-pruned
        encoded rows, fanned out to the doc-space group(s) each covers.
        `qterms` carries each term's live df (`df_total`), so no dead
        count is joined here.

        Group of a doc = doc_idx % g_total; a term with n_shards = 2^j
        holds a doc in shard doc_idx % 2^j. Because power-of-two residues
        nest, shard s covers exactly the groups {g : g ≡ s (mod
        min(n, G))}: one group when n >= G, G/n replicated groups when
        n < G. Every doc's postings for EVERY query term land in its one
        home group, so per-group scoring is exact.

        The rows are then hash-partitioned on (query_id, grp) into
        `n_parts` partitions (default defaultParallelism) — the callers
        pass min(defaultParallelism, Σ_q g_q), the batch's (query, group)
        key count — the exchange the grouped scoring stage reuses: AQE
        never coalesces a numbered repartition, so the (query, group)
        kernels spread over the slots instead of landing in one task when
        the shuffled rows are small, and no task runs without a key."""
        hits = self.postings.filter(F.col("bucket").isin(buckets)).join(
            F.broadcast(qterms), "term")
        n, G = F.col("n_shards"), F.col("g_total")
        reps = F.greatest(F.lit(1), (G / n).cast("int"))
        dp = self.spark.sparkContext.defaultParallelism
        return (
            hits.withColumn("_t", F.explode(F.sequence(F.lit(0), reps - F.lit(1))))
            .withColumn(
                "grp",
                F.when(n >= G, F.pmod(F.col("shard"), G))
                .otherwise(F.col("shard") + F.col("_t") * n)
                .cast("int"),
            )
            .repartition(min(dp, n_parts or dp), "query_id", "grp")
        )

    def _merge_partials(self, partials: DataFrame) -> DataFrame:
        """(query_id, rank, doc_id, score) from the per-(query, group)
        partial rows: a broadcast join to the docmap, then a window rank
        per query ordered (score DESC, doc_id ASC) — the tie order of the
        oracle and of every DataFrame scorer. The kernels' doc_idx tie
        order follows doc_id only within one generation, so each partial
        holds its group's top k per generation (`wand.tie_cut`): at most
        G * k * (generations) rows per query, holding its top k by
        doc_id."""
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            self.docmap.join(F.broadcast(partials), "doc_idx")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score")
        )

    def _topk_partials(self, qterms: DataFrame, buckets: list[int],
                       kernel: str, mode: str = "or",
                       seed_theta: bool = True,
                       n_parts: int | None = None) -> DataFrame:
        """Per-(query, doc-space group) partial top-k — the pre-merge
        stage of `topk` and `phrase_topk`, factored out so distribution
        tests can count groups. `qterms`: (query_id, k, term, g_total,
        df_total[, n_terms | phrase]), df_total the term's live df,
        n_terms read by mode='and', the analyzed phrase by
        mode='phrase'. Output: (query_id, k, grp, doc_idx, score), each
        group's rows cut by `wand.tie_cut`."""
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["k1"], meta["b"]
        hits = self._scoring_rows(qterms, buckets, n_parts)
        kern = KERNELS[kernel]
        dead_bc, gen_avgdl = self._dead_bc, self.gen_avgdl
        pristine = seed_theta and self._pristine

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            first = pdf.iloc[0]
            g, gt, k = int(first["grp"]), int(first["g_total"]), int(first["k"])
            names, shards_by_term = [], []
            for term, grp in sorted(pdf.groupby("term"), key=lambda kv: kv[0]):
                # GLOBAL live df from the pre-pass (this task may hold
                # only a subset of the term's shards) — idf stays exact
                names.append(term)
                shards_by_term.append((
                    float(idf_np(n_docs, int(grp["df_total"].iloc[0]))),
                    _shard_dicts(grp, avgdl, gen_avgdl)))
            kw = {}
            if mode == "and":
                kw["require_all"] = int(first["n_terms"])
            elif mode == "phrase":
                kw["phrase"] = [names.index(t) if t in names else -1
                                for t in first["phrase"].split(" ")]
            doc_idx, scores = run_kernel(
                kern, shards_by_term, k, avgdl, k1, b, dead_bc.value,
                (gt, g) if gt > 1 else None, pristine=pristine, **kw)
            return pd.DataFrame({
                "query_id": first["query_id"],
                "k": np.full(len(doc_idx), k, dtype=np.int32),
                "grp": np.full(len(doc_idx), g, dtype=np.int32),
                "doc_idx": doc_idx,
                "score": scores,
            })

        return hits.groupBy("query_id", "grp").applyInPandas(
            score_group,
            schema="query_id string, k int, grp int, doc_idx long, score double",
        )

    def _plan(self, queries: list[dict], mode: str = "or",
              max_groups: int = DEFAULT_MAX_GROUPS) -> tuple[list, dict]:
        """The batch planner of every query path: ([(query_id, k, terms,
        live, G)], term info). `terms` are the analyzed query terms (in
        order for mode='phrase', else sorted distinct), `live` the sorted
        distinct ones with a live doc (`_term_info`, one Spark job for
        the batch's uncached terms). mode='and' and 'phrase' drop a query
        with a term without one (nothing can match). G = min(max n_shards
        of its terms, max_groups rounded down to a power of two), at
        least 1."""
        from connectors_spark.functions.analysis import tokenize_py

        g_cap = max(1, 1 << (int(max_groups).bit_length() - 1))
        per_q = []
        for q in queries:
            terms = tokenize_py(q["query_text"])
            per_q.append((q["query_id"], int(q.get("k", 10)),
                          terms if mode == "phrase" else sorted(set(terms))))
        info = self._term_info(sorted({t for *_, ts in per_q for t in ts}))
        plans = []
        for qid, k, terms in per_q:
            live = sorted({t for t in terms if info[t][2] > 0})
            if mode != "or" and (not live or len(live) < len(set(terms))):
                continue
            g = min(max((info[t][0] for t in terms), default=1), g_cap)
            plans.append((qid, k, terms, live, max(g, 1)))
        return plans, info

    def _ranked(self, plans: list, info: dict, kernel: str = "auto",
                mode: str = "or", seed_theta: bool = True) -> DataFrame:
        """(query_id, rank, doc_id, score) of planned queries: their live
        terms as an Arrow-built local relation (broadcast) -> the grouped
        kernels over Σ G partitions (`_topk_partials`) -> the merge."""
        rows = [(qid, k, t, g, info[t][2],
                 " ".join(terms) if mode == "phrase" else len(terms))
                for qid, k, terms, live, g in plans for t in live]
        if not rows:
            return arrow_frame(
                self.spark, [],
                "query_id string, rank int, doc_id string, score double")
        tag = "phrase string" if mode == "phrase" else "n_terms int"
        qterms = arrow_frame(
            self.spark, rows, "query_id string, k int, term string, "
            f"g_total int, df_total long, {tag}")
        n_buckets = self.meta["n_buckets"]
        buckets = sorted({bucket_of(r[2], n_buckets) for r in rows})
        return self._merge_partials(self._topk_partials(
            qterms, buckets, kernel, mode=mode, seed_theta=seed_theta,
            n_parts=sum(g for *_, live, g in plans if live)))

    def topk(self, queries: list[dict], kernel: str = "auto",
             max_groups: int = DEFAULT_MAX_GROUPS,
             mode: str = "or", seed_theta: bool = True) -> DataFrame:
        """(query_id, rank, doc_id, score) for the query batch, ranked
        (score DESC, doc_id ASC) on any generation set.

        mode='and': conjunctive retrieval (ES bool-must) — only docs
        matching EVERY analyzed query term score; a query containing an
        index-absent term returns nothing. The intersection itself is the
        pruning, so AND always runs the exact kernel with a matched-term
        count filter (posting intersection, Lucene's conjunction
        iterator) — same group fan-out, still rank-identical to the
        DataFrame scorer's mode='and'.

        Plan (`_plan`, `_ranked`): a one-job pre-pass for per-term
        (n_shards, live df) (`_term_info`) -> qterms, an Arrow-built
        local relation (broadcast) holding only terms with live postings
        -> bucket-pruned postings scan -> one (query_id, grp) exchange
        into min(defaultParallelism, Σ_q G_q) partitions -> per-(query,
        doc-space group) applyInPandas partial top-k -> broadcast join to
        the docmap -> window rank per query (score DESC, doc_id ASC).

        Hot-term safety: a query fans out over G = min(max n_shards of
        its terms, max_groups) disjoint doc-space groups (doc_idx % G),
        so a "the"-class posting list is scored by up to G tasks instead
        of one. Nested power-of-two sharding guarantees each doc is fully
        scored in exactly ONE group, with bit-identical per-doc scores
        (same term-sorted accumulation). Each group keeps its top k per
        generation (`wand.tie_cut`), so the merge sees every doc that the
        doc_id tie order can rank into the top k.
        """
        plans, info = self._plan(queries, mode, max_groups)
        return self._ranked(plans, info, kernel, mode, seed_theta)

    def topk_local(self, queries: list[dict], kernel: str = "auto") -> list[tuple]:
        """Low-latency serving path: ONE bucket-pruned collect pulls the
        query terms' shard rows to the driver, then the kernel runs
        in-process — no per-query Spark job. Term shard rows and dead
        counts are LRU-cached on the reader, so repeat-term queries skip
        the cluster entirely (the hot-query-set regime of a search tier).
        This is the ES-search-latency analog; `topk` is the
        bulk-throughput path. Returns [(query_id, rank, doc_id, score)],
        ranked (score DESC, doc_id ASC) after the doc_id lookup.

        Hot-term budget (VERDICT r4 #3): pulling a stop-word-class term
        driver-side is O(df) bytes — unbounded at 10^9+ docs.  A query
        containing any term whose total df exceeds
        ``self.local_term_df_budget`` (default 2,000,000 postings,
        ~tens of MB of shard blobs) is routed to the distributed `topk`
        kernels instead; the (term, df) pre-pass is the same cheap
        column-pruned lexicon job `topk` itself starts with, so the
        budget check adds no extra scan for routed queries.  Results
        are rank-identical either way (both paths share the planner,
        the kernel dispatch and the tie cut). The shard-row cache holds
        at most ``self.term_cache_bytes`` (default 256 MiB) beyond the
        current batch's terms."""
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, n_buckets = meta["k1"], meta["b"], meta["n_buckets"]
        kern = KERNELS[kernel]
        plans, info = self._plan(queries)
        hot, cold = [], []
        for p in plans:
            is_hot = any(info[t][1] > self.local_term_df_budget for t in p[2])
            (hot if is_hot else cold).append(p)
        routed = [(r["query_id"], int(r["rank"]), r["doc_id"], float(r["score"]))
                  for r in self._ranked(hot, info, kernel).collect()] \
            if hot else []

        cache = self._term_cache
        need = {t for p in cold for t in p[2]}
        missing = sorted(need - cache.keys())
        for t in need & cache.keys():  # LRU touch
            cache.move_to_end(t)
        if missing:
            buckets = sorted({bucket_of(t, n_buckets) for t in missing})
            rows = (
                self.postings.filter(F.col("bucket").isin(buckets))
                .filter(sql_in("term", missing))
                .drop("positions")
                .toPandas()
            )
            for t in missing:
                cache[t] = []
                self._term_nbytes[t] = 64
                self._term_cache_used += 64
            terms_np = rows["term"].to_numpy(object)
            for j, row in enumerate(_shard_dicts(rows, avgdl,
                                                 self.gen_avgdl)):
                t = terms_np[j]
                cache[t].append(row)
                nb = 256 + sum(
                    len(v) if isinstance(v, (bytes, bytearray, memoryview, str))
                    else 16
                    for v in row.values()
                )
                self._term_nbytes[t] += nb
                self._term_cache_used += nb
            # evict LRU terms past the byte budget — the cache must not
            # grow per distinct term forever (r2 VERDICT item 4); never
            # evict a term the current batch needs
            for t in list(cache):
                if self._term_cache_used <= self.term_cache_bytes:
                    break
                if t in need:
                    continue
                cache.pop(t)
                self._term_cache_used -= self._term_nbytes.pop(t, 0)
        interim = []
        for qid, k, _, live, _ in cold:
            shards = [(float(idf_np(n_docs, info[t][2])), cache[t])
                      for t in live]
            interim.append((qid, k, *run_kernel(
                kern, shards, k, avgdl, k1, b, self.dead,
                pristine=self._pristine)))
        # resolve doc_idx -> doc_id in one lookup per batch, then rank
        # on doc_id
        need_idx = sorted({int(i) for *_, doc_idx, _ in interim
                           for i in doc_idx})
        idmap = {r.doc_idx: r.doc_id for r in self.docmap.filter(
            sql_in("doc_idx", need_idx)).collect()} if need_idx else {}
        out = []
        for qid, k, doc_idx, scores in interim:
            ids = [idmap[int(d)] for d in doc_idx]
            for r, i in enumerate(tie_cut(np.array(ids), scores, k), start=1):
                out.append((qid, r, ids[i], float(scores[i])))
        return out + routed

    def phrase_topk(self, phrases: list[dict],
                    max_groups: int = DEFAULT_MAX_GROUPS) -> DataFrame:
        """Exact-phrase top-k over the compressed positional index as a
        DataFrame (query_id, rank, doc_id, score).

        Fully distributed — the planner, group fan-out, kernel dispatch
        and merge of `topk` (mode='phrase'); no posting row ever reaches
        the driver (the ES match_phrase analog has to survive "the fast"
        on a 10^11-posting "the"). Inside each group kernel
        (`wand.topk_phrase`), candidates are intersected starting from
        the smallest-posting-set term, adjacency is verified from the
        delta-encoded position streams, and matches are ranked by the
        phrase terms' BM25 sum (ties score DESC, doc_id ASC).
        Requires a positional index: `write_encoded_index` of a
        build_index(with_positions=True) (the fused
        `build_and_write_index` writes none). Delta generations carry
        positions whenever the base does: their `_token_entries` pass
        keeps them (operators/delta.py)."""
        if self.meta.get("positions") is False:
            raise ValueError(
                "index was built without positions; rebuild with "
                "with_positions=True for phrase queries"
            )
        plans, info = self._plan(phrases, "phrase", max_groups)
        return self._ranked(plans, info, mode="phrase")

    def phrase_prefix_topk(self, phrases: list[dict],
                           max_expansions: int = 50,
                           max_groups: int = DEFAULT_MAX_GROUPS) -> DataFrame:
        """ES match_phrase_prefix over the compressed positional index:
        the LAST whitespace part of query_text is a prefix; it expands to
        the `max_expansions` highest-df matching lexicon terms (Lucene
        MultiPhraseQuery's last-position term set, top-terms order), each
        variant runs through the distributed phrase kernel, and per
        (query, doc) the BEST variant score wins (score DESC, doc ASC).
        The expansion is one column-pruned scan of the term metadata —
        prefixes cannot bucket-prune (bucket = hash(term)), which is the
        same full-dictionary walk Lucene does for leading prefix terms.
        """
        from connectors_spark.functions.analysis import tokenize_py

        per_q = []
        for q in phrases:
            parts = (q["query_text"] or "").lower().split()
            if not parts:
                continue
            head = tokenize_py(" ".join(parts[:-1]))
            per_q.append((q["query_id"], int(q.get("k", 10)), head, parts[-1]))
        empty = arrow_frame(
            self.spark, [], "query_id string, rank int, doc_id string, score double")
        if not per_q:
            return empty
        from functools import reduce as _py_reduce

        prefixes = sorted({p for _, _, _, p in per_q})
        cond = _py_reduce(
            lambda a, b: a | b,
            [F.col("term").startswith(p) for p in prefixes],
        )
        # cap the expansion IN SPARK (window per prefix) so the driver
        # pull is bounded at |prefixes| * max_expansions rows even for a
        # one-letter prefix over a 10^9-term lexicon
        pref_df = arrow_frame(self.spark, [(p,) for p in prefixes],
                              "prefix string")
        ranked = (
            self.postings.select("term", "df")
            .filter(cond)
            .groupBy("term").agg(F.max("df").alias("df"))
            .join(F.broadcast(pref_df),
                  F.col("term").startswith(F.col("prefix")))
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy("prefix").orderBy(
                    F.desc("df"), F.asc("term"))))
            .filter(F.col("_rn") <= max_expansions)
            .select("prefix", "term")
            .collect()
        )
        by_prefix: dict[str, list[str]] = {}
        for r in ranked:
            by_prefix.setdefault(r.prefix, []).append(r.term)
        variants = []
        for qid, k, head, prefix in per_q:
            exp = by_prefix.get(prefix, [])
            for v_i, term in enumerate(exp):
                variants.append({
                    "query_id": f"{qid}\x00{v_i}",
                    "query_text": " ".join(head + [term]),
                    "k": k,
                })
        if not variants:
            return empty
        raw = self.phrase_topk(variants, max_groups=max_groups)
        base = raw.withColumn(
            "query_id", F.substring_index(F.col("query_id"), "\x00", 1)
        )
        best = base.groupBy("query_id", "doc_id").agg(
            F.max("score").alias("score")
        )
        kmap = arrow_frame(self.spark, [(qid, k) for qid, k, _, _ in per_q],
                           "query_id string, k int")
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            best.join(F.broadcast(kmap), "query_id")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score")
        )


def query_index(
    spark: SparkSession,
    path: str,
    queries: list[dict],
    kernel: str = "auto",
) -> DataFrame:
    """One-shot convenience wrapper (no caching) around IndexReader."""
    return IndexReader(spark, path, cache=False).topk(queries, kernel)


def reshard_index(spark: SparkSession, path: str, out_path: str,
                  n_buckets_new: int) -> None:
    """ES `_split` / `_shrink` analog: rewrite an encoded index at a
    different bucket (shard) count WITHOUT re-tokenizing or re-encoding.
    A shard row's bucket is a pure function of its term (bucket_col =
    md5(term) % n_buckets), so resharding is exactly one shuffle of the
    already-compressed shard blobs — no decode, no scoring math, no
    touch of the corpus. That is what makes it viable at 10^12 turns:
    cost is O(index bytes), not O(corpus tokens), and the shuffle key
    (bucket) is uniform by construction (md5), so no skew.

    Like ES's resize APIs (which demand a read-only source index), the
    source must be fully compacted: delta generations carry their own
    bucketed dirs and tombstone bookkeeping, so reshard-with-deltas
    would silently change scoring; compact first (delta.compact_index).

    Everything else (docmap, corpus stats, k1/b, shard_cap, positions)
    carries over unchanged — readers of the new dir produce
    rank-identical results, just with a different pruning fan-out
    (gate `reshard_search` pins 4x and 2x against the SQL oracle).
    """
    meta = read_meta(path)
    if meta.get("deltas"):
        raise ValueError(
            "reshard_index requires a compacted index (no delta "
            "generations) — run delta.compact_index first"
        )
    if n_buckets_new < 1:
        raise ValueError(f"n_buckets_new must be >= 1, got {n_buckets_new}")
    os.makedirs(out_path, exist_ok=True)
    spark.read.parquet(f"{path}/docmap").write.mode("overwrite").parquet(
        f"{out_path}/docmap"
    )
    posts = read_postings(spark, path).drop("bucket")
    posts = posts.withColumn("bucket", bucket_col("term", n_buckets_new))
    posts.repartition(int(n_buckets_new), "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{out_path}/postings")
    meta2 = dict(meta)
    meta2["n_buckets"] = int(n_buckets_new)
    with open(os.path.join(out_path, "meta.json"), "w") as f:
        json.dump(meta2, f)
