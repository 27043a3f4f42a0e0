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
  the Arrow group size per applyInPandas task (Zipf head safety, SURVEY
  §7.3#2) while keeping every shard sorted by doc_idx (WAND treats shards
  of one term as disjoint sorted lists). Power-of-two residue sharding
  NESTS (doc % 2^j == (doc % 2^m) % 2^j for j <= m), which is what lets
  the query side split one query across G disjoint doc-space groups with
  every doc's postings for EVERY query term landing in the same group —
  the hot-term-safe distributed top-k (IndexReader.topk).
- encoding itself is groupBy(term, shard).applyInPandas over Arrow batches
  — the only Python in the build, vectorized NumPy inside.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connectors_spark import BM25_B, BM25_K1
from connectors_spark.functions.codec import encode_shard
from connectors_spark.operators.build import IndexFrames, assign_doc_indices
from connectors_spark.operators.score import idf_np, tf_norm_np
from connectors_spark.operators.wand import topk_auto, topk_exact, topk_wand
from connectors_spark.schema import ENCODED_POSTINGS_SCHEMA

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


def make_encode_partition(avgdl: float, k1: float, b: float):
    """Streaming per-partition encoder for mapInPandas.

    Input partitions are hash-distributed by (term, shard) and sorted by
    (term, shard, doc_idx); Arrow may split one run across batches, so the
    tail run of every batch is carried into the next. Non-positional
    batches encode through `encode_shards_batch` — ONE vectorized NumPy
    pass over the whole Arrow batch instead of ~20 NumPy calls per
    (term, shard) group (the Zipf tail made per-group fixed cost the
    encode wall: measured ~5.5s -> ~1s on the sf0.1 bench build).
    Positional batches keep the per-group `encode_shard` path.
    """
    from connectors_spark.functions.codec import encode_shards_batch

    out_cols = [f.name for f in ENCODED_POSTINGS_SCHEMA.fields]

    def has_positions(pdf: pd.DataFrame) -> bool:
        if "positions" not in pdf.columns or not len(pdf):
            return False
        v = pdf["positions"].iloc[0]
        return not (v is None or isinstance(v, float))

    def encode_body(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized whole-batch encode (no positions)."""
        term = pdf["term"].to_numpy(object)
        shard = pdf["shard"].to_numpy()
        m = len(term)
        newg = np.empty(m, dtype=bool)
        newg[0] = True
        newg[1:] = (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])
        gstarts = np.flatnonzero(newg)
        tf = pdf["tf"].to_numpy(dtype=np.int64)
        dl = pdf["dl"].to_numpy(dtype=np.int64)
        enc = encode_shards_batch(
            pdf["doc_idx"].to_numpy(dtype=np.int64), tf, dl,
            tf_norm_np(tf, dl, avgdl, k1, b), gstarts,
        )
        ng = len(gstarts)
        cols = {
            "term": pd.Series(term[gstarts]),
            "bucket": pd.Series(pdf["bucket"].to_numpy()[gstarts]),
            "shard": pd.Series(shard[gstarts]),
            "n_shards": pd.Series(pdf["n_shards"].to_numpy()[gstarts]),
            "n_docs": pd.Series(enc["n_docs"]),
            "df": pd.Series(pdf["df"].to_numpy(dtype=np.int64)[gstarts]),
            "doc_gaps": pd.Series(enc["doc_gaps"], dtype=object),
            "tfs": pd.Series(enc["tfs"], dtype=object),
            "dls": pd.Series(enc["dls"], dtype=object),
            "positions": pd.Series([None] * ng, dtype=object),
            "block_last_doc": pd.Series(enc["block_last_doc"], dtype=object),
            "block_offsets": pd.Series(enc["block_offsets"], dtype=object),
            "block_tf_offsets": pd.Series(enc["block_tf_offsets"],
                                          dtype=object),
            "block_dl_offsets": pd.Series(enc["block_dl_offsets"],
                                          dtype=object),
            "block_pos_offsets": pd.Series([None] * ng, dtype=object),
            "block_max_w": pd.Series(enc["block_max_w"], dtype=object),
        }
        return pd.DataFrame(cols, columns=out_cols)

    def flush_group(g: pd.DataFrame, out: list[dict]):
        tf = g["tf"].to_numpy(dtype=np.int64)
        dl = g["dl"].to_numpy(dtype=np.int64)
        pos = list(g["positions"]) if "positions" in g.columns else None
        if pos is not None and (not len(pos) or pos[0] is None
                                or (isinstance(pos[0], float))):
            pos = None  # positions column present but null (disabled)
        enc = encode_shard(
            g["doc_idx"].to_numpy(dtype=np.int64), tf, dl,
            tf_norm_np(tf, dl, avgdl, k1, b), positions=pos,
        )
        out.append({
            "term": g["term"].iloc[0],
            "bucket": int(g["bucket"].iloc[0]),
            "shard": int(g["shard"].iloc[0]),
            "n_shards": int(g["n_shards"].iloc[0]),
            "df": int(g["df"].iloc[0]),
            **enc,
        })

    def encode_partition(batches):
        carry: pd.DataFrame | None = None
        out: list[dict] = []
        # accumulate encoded frames before yielding: each downstream
        # write_table/Arrow conversion per yield costs a parquet ROW
        # GROUP's worth of per-column metadata, and binary-column stats
        # made many tiny row groups 45% index-size overhead (measured)
        pend: list[pd.DataFrame] = []
        pend_rows = 0

        def drain():
            nonlocal pend, pend_rows
            if not pend:
                return None
            got = (pd.concat(pend, ignore_index=True) if len(pend) > 1
                   else pend[0])
            pend, pend_rows = [], 0
            return got

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # last (term, shard) run is carried into the next batch —
            # find its start by position (input sorted by term, shard)
            term = pdf["term"].to_numpy(object)
            shard = pdf["shard"].to_numpy()
            m = len(term)
            same = (term == term[m - 1]) & (shard == shard[m - 1])
            # run is contiguous at the end: first index of the tail run
            tail_start = m - int(same[::-1].argmin()) if not same.all() else 0
            carry = pdf.iloc[tail_start:]
            body = pdf.iloc[:tail_start]
            if len(body):
                if has_positions(body):
                    for _, g in body.groupby(["term", "shard"], sort=False):
                        flush_group(g, out)
                    if len(out) >= 2048:
                        yield pd.DataFrame(out, columns=out_cols)
                        out = []
                else:
                    pend.append(encode_body(body))
                    pend_rows += len(pend[-1])
                    if pend_rows >= 32768:
                        yield drain()
        if carry is not None and len(carry):
            if has_positions(carry):
                flush_group(carry, out)
            else:
                pend.append(encode_body(carry))
        tail = drain()
        if tail is not None:
            yield tail
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return encode_partition


def write_encoded_index(
    index: IndexFrames,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    shard_cap: int = DEFAULT_SHARD_CAP,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> None:
    spark = index.postings.sparkSession
    docmap = assign_doc_indices(index.docs)
    docmap.write.mode("overwrite").parquet(f"{path}/docmap")
    docmap = spark.read.parquet(f"{path}/docmap")

    avgdl, n_docs = index.avgdl, index.n_docs
    # postings feed both the lexicon agg and the encode shuffle — pin them
    # for the duration of the build (the resumable path materializes to
    # parquet instead, plans/checkpoint.py)
    postings = index.postings.persist()
    try:
        encoded = encode_postings(
            postings, docmap, index.lexicon, avgdl,
            n_buckets=n_buckets, shard_cap=shard_cap, k1=k1, b=b,
        )
        # partitionBy(bucket) straight from the encode tasks: bucket
        # pruning is directory-level, so multiple files per bucket dir
        # cost nothing at read time and the blob shuffle stage disappears
        encoded.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{path}/postings"
        )
    finally:
        postings.unpersist()

    meta = {
        "n_docs": n_docs, "avgdl": avgdl, "gen0_avgdl": avgdl, "k1": k1,
        "b": b, "n_buckets": n_buckets, "shard_cap": shard_cap, "deltas": [],
        "positions": "positions" in index.postings.columns,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def encode_postings(
    postings: DataFrame,
    docmap: DataFrame,
    lexicon: DataFrame,
    avgdl: float,
    n_buckets: int = DEFAULT_BUCKETS,
    shard_cap: int = DEFAULT_SHARD_CAP,
    k1: float = BM25_K1,
    b: float = BM25_B,
    num_partitions: int | None = None,
) -> DataFrame:
    """(uncompressed postings, docmap, lexicon) -> encoded shard rows.

    Shuffle plan: one repartition on (term, shard) + in-partition sort,
    then a single streaming mapInPandas pass. The lexicon join feeds df
    (shard fan-out for the Zipf head); AQE skew-join handles the join-side
    skew, sharding bounds the group size."""
    spark = postings.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    pos_cols = ["positions"] if "positions" in postings.columns else []
    p = (
        postings.select("term", "doc_id", "tf", *pos_cols)
        .join(docmap.select("doc_id", "doc_idx", "dl"), "doc_id")
        .join(lexicon, "term")
        .select("term", "doc_idx", "tf", "dl", "df", *pos_cols,
                *shard_cols(shard_cap))
        .withColumn("bucket", bucket_col("term", n_buckets))
    )
    sorted_p = p.repartition(num_partitions, "term", "shard").sortWithinPartitions(
        "term", "shard", "doc_idx"
    )
    return sorted_p.mapInPandas(
        make_encode_partition(avgdl, k1, b), schema=ENCODED_POSTINGS_SCHEMA
    )


def make_encode_arrow_partition(avgdl: float, k1: float, b: float):
    """Arrow-native streaming encoder for mapInArrow (the fused,
    non-positional build path): group detection, varint encoding and
    output construction all operate on Arrow/NumPy buffers — no pandas
    round-trip, no per-group Python work. The binary output columns are
    built as ONE data buffer plus a fresh offsets array
    (pa.Array.from_buffers), and the block-metadata lists as one values
    array plus list offsets — the guide §4.2 re-slicing pattern, zero
    bytes copied per group. Yields RecordBatches matching
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
        st = encode_streams(
            tbl.column("doc_idx").to_numpy(), tf, dl,
            tf_norm_np(tf, dl, avgdl, k1, b), gstarts,
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
            pa.nulls(ng, pa.binary()),
            list_col(st["block_last_doc"]),
            list_col(st["block_offsets"]),
            list_col(st["block_tf_offsets"]),
            list_col(st["block_dl_offsets"]),
            pa.nulls(ng, pa.list_(pa.int64())),
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
    per bucket, so every file is a single row group (binary-column stats
    per row group were measured at 45% size overhead with small groups).
    Task output is bounded by the input partition size, so the buffer is
    too."""
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
                with pq.ParquetWriter(fp, schema) as w:
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


def _token_entries(base: DataFrame, id_cols: list[str]) -> DataFrame:
    """(*id_cols, dl, _entries) — per-doc distinct (term, tf) entries and
    token count, computed ARRAY-SIDE in one tokenize pass.

    The sorted token array's run boundaries give the distinct terms and
    their counts: starts[i] marks where s[i] differs from s[i-1]; the
    run length (= tf) is the distance to the next start. Replaces
    explode + groupBy(term, doc) — i.e. removes a full token-stream
    shuffle — with per-row array expressions.

    Every intermediate (sorted array `_s`, its size `_n`, run starts
    `_starts`) is materialized as a BOUND column via a dedicated
    .select() stage. That staging is load-bearing: if the array-sort
    subtree were inlined into the filter/transform lambdas, Catalyst
    would re-evaluate it per array element (measured O(n^2)-per-doc
    blowup). CollapseProject keeps the stages because each intermediate
    is referenced more than once by non-cheap expressions. Callers that
    explode `_entries` must do so across a materialization barrier
    (persist/exchange), otherwise the generator's implicit
    size(..)>0 filter is pushed below the projections with the whole
    subtree inlined (same blowup).
    """
    from connectors_spark.functions.analysis import tokens_col

    # NULL text tokenizes to NULL: coalesce to [] so it is a zero-token
    # doc (dl = 0, no entries) like "" and punctuation-only text
    st0 = base.select(
        *id_cols,
        F.coalesce(F.array_sort(tokens_col(F.col("text"))),
                   F.array().cast("array<string>")).alias("_s"),
    )
    s = F.col("_s")
    st1 = st0.select(*id_cols, "_s", F.size("_s").alias("_n"))
    n = F.col("_n")
    # n = 0 guard: sequence(0, -1) is the DESCENDING [0, -1], and
    # element_at(s, 0) raises INVALID_INDEX_OF_ZERO
    starts = F.when(n > 0, F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0) | (F.element_at(s, i + 1) != F.element_at(s, i)),
    )).otherwise(F.array().cast("array<int>"))
    st2 = st1.select(*id_cols, "_s", "_n", starts.alias("_starts"))
    stc = F.col("_starts")
    ends = F.concat(
        F.slice(stc, 2, F.greatest(F.size(stc) - 1, F.lit(0))), F.array(n)
    )
    entries = F.when(
        n > 0,
        F.arrays_zip(
            F.transform(stc, lambda i: F.element_at(s, i + 1)).alias("term"),
            F.zip_with(stc, ends, lambda a, b: b - a).alias("tf"),
        ),
    ).otherwise(F.array().cast("array<struct<term:string,tf:int>>"))
    return st2.select(
        *id_cols, n.cast("long").alias("dl"), entries.alias("_entries")
    )


@contextmanager
def posting_rows(base: DataFrame, id_cols: list[str], docmap_dir: str, *,
                 n_buckets: int, shard_cap: int, start_idx: int = 0):
    """Shared write core of the fused build and the non-positional delta
    writer: (doc_id, text) rows -> docmap written to `docmap_dir` ->
    exploded posting rows ready for the encode shuffle.

    Yields (rows, n_docs, sum_dl): rows = (term, doc_idx, tf, dl, df,
    n_shards, shard, bucket), where df counts the docs of `base` only;
    n_docs and sum_dl come from an Observation on the docmap write, so
    corpus stats cost no extra pass. doc_idx starts at `start_idx`.
    `base` must carry doc_id; `id_cols` (doc_id [+ ts]) ride into the
    docmap, the index manifest of the sync diff. The cached entries and
    lexicon stay pinned until the caller's encode job inside the `with`
    body has run.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    spark = base.sparkSession
    # ONE tokenize pass (was two: dl on the base table + a re-tokenize
    # for the token stream): per-doc (term, tf) entries are computed
    # ARRAY-SIDE from the sorted token array — run boundaries of the
    # sorted array give the distinct terms and their counts — so the
    # groupBy(term, doc) aggregation (a full token-stream shuffle, ~1.7x
    # the posting count in rows) disappears from the plan entirely.
    # Staged .select()s are load-bearing (see _token_entries).
    ent = _token_entries(base, id_cols).persist()
    # corpus stats ride the docmap WRITE job via Observation — no
    # separate count/sum pass over the written parquet
    obs = Observation("docmap_stats")
    docmap = assign_doc_indices(
        ent.select(*id_cols, "dl"), start_idx=start_idx
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
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_map = pool.submit(
                lambda: docmap.write.mode("overwrite").parquet(docmap_dir))
            f_lex = pool.submit(lexicon.count)
            f_map.result()
            f_lex.result()
        docmap = spark.read.parquet(docmap_dir)
        n_docs = int(obs.get["n"])
        sum_dl = int(obs.get["s"] or 0)

        # attach doc_idx to the cached entries: explicit broadcast while
        # the docmap is broadcastable (exact decision — n_docs is known);
        # beyond that it degrades to a shuffle join of compact (doc_id,
        # entries) rows — same volume the old token-stream join shuffled,
        # minus the exploded duplication
        dm = docmap.select("doc_id", "doc_idx")
        if n_docs <= 2_000_000:
            dm = F.broadcast(dm)
        postings = (
            ent.join(dm, "doc_id")
            .select("doc_idx", "dl", F.explode("_entries").alias("_e"))
            .select("doc_idx", "dl", F.col("_e.term").alias("term"),
                    F.col("_e.tf").cast("long").alias("tf"))
        )
        rows = (
            postings.join(F.broadcast(lexicon), "term")
            .select("term", "doc_idx", "tf", "dl", "df",
                    *shard_cols(shard_cap))
            .withColumn("bucket", bucket_col("term", n_buckets))
        )
        yield rows, n_docs, sum_dl
    finally:
        ent.unpersist()
        lexicon.unpersist()


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
    - dl is computed as size(tokens) on the BASE table (no explode, no
      per-token shuffle, no join-back);
    - doc_idx assignment is ONE range shuffle + monotonic ids (no count
      collect, no window pass — see assign_doc_indices);
    - doc_idx is assigned BEFORE tokenization, so every downstream
      shuffle keys on int64 doc_idx instead of the 'conv-…:…' string id;
    - lexicon df comes back via an explicit broadcast join;
    - total wide ops: docmap range-assign (docs only), groupBy(term,
      doc_idx) on the token stream, df partial-agg, repartition(term,
      shard) of compact long-keyed postings. The generic
      write_encoded_index path keeps the (doc_id, text) API; this one is
      the throughput builder used by bench/scaling.
    Returns meta.
    """
    from connectors_spark.operators.build import with_doc_id

    spark = transcripts.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if direct_write is None:
        # task-side pyarrow writes need the output path visible to every
        # task as a plain local path — auto-enable only in local mode on
        # a scheme-less path; cluster/URI deployments keep the committer
        # (or opt in explicitly after wiring pyarrow.fs)
        direct_write = (
            spark.sparkContext.master.startswith("local")
            and "://" not in path
        )

    base = with_doc_id(transcripts)
    id_cols = ["doc_id"] + (["ts"] if "ts" in base.columns else [])
    with posting_rows(base, id_cols, f"{path}/docmap", n_buckets=n_buckets,
                      shard_cap=shard_cap) as (p, n_docs, sum_dl):
        avgdl = float(sum_dl) / n_docs if n_docs else 0.0
        sorted_p = p.repartition(
            num_partitions, "term", "shard"
        ).sortWithinPartitions("term", "shard", "doc_idx")
        post_dir = f"{path}/postings"
        if direct_write:
            # task-side pyarrow writes, no Spark committer: the commit
            # pass (driver-side serial renames of O(files)) is gone —
            # see make_encode_arrow_write_partition
            import shutil as _shutil
            _shutil.rmtree(post_dir, ignore_errors=True)
            os.makedirs(post_dir, exist_ok=True)
            manifest = sorted_p.mapInArrow(
                make_encode_arrow_write_partition(avgdl, k1, b, post_dir),
                schema="bucket int, file string, rows long",
            ).collect()
            if not manifest:  # empty corpus: still need a readable dir
                direct_write = False
            else:
                # Iceberg-style commit: persist the winner file list,
                # then best-effort-GC loser-attempt orphans
                write_postings_manifest(path, manifest)
                gc_unmanifested(path)
        if not direct_write:
            encoded = sorted_p.mapInArrow(
                make_encode_arrow_partition(avgdl, k1, b),
                schema=ENCODED_POSTINGS_SCHEMA,
            )
            # classic committer path: bucket pruning is directory-level,
            # multiple files per bucket dir (<= encode tasks) cost
            # nothing at read time
            encoded.write.mode("overwrite").partitionBy("bucket").parquet(
                post_dir
            )

    meta = {
        "n_docs": n_docs, "avgdl": avgdl, "gen0_avgdl": avgdl, "k1": k1,
        "b": b, "n_buckets": n_buckets, "shard_cap": shard_cap, "deltas": [],
        "positions": False,  # fused builder tokenizes without positions
    }
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
    """Open the base postings of an index dir. When a direct-write
    manifest exists, read exactly the manifested files (basePath keeps
    the hive `bucket=` partition column) so loser-attempt orphans are
    invisible; committer-written indexes fall back to directory listing
    (the committer already guarantees only winner output is visible)."""
    post_dir = f"{path}/postings"
    mf = os.path.join(path, POSTINGS_MANIFEST)
    if os.path.exists(mf):
        with open(mf) as f:
            files = json.load(f)["files"]
        if files:
            return spark.read.option("basePath", post_dir).parquet(
                *[os.path.join(post_dir, f) for f in files]
            )
    return spark.read.parquet(post_dir)


_SHARD_ROW_COLS = ("doc_gaps", "tfs", "dls", "block_last_doc",
                   "block_offsets", "block_tf_offsets", "block_dl_offsets",
                   "block_max_w")


def _shard_dicts(grp: pd.DataFrame, avgdl: float,
                 gen_avgdl: dict) -> list[dict]:
    """Encoded shard rows of one term as plain dicts, extracted
    column-wise (one .to_numpy per column) — iterrows() built a pandas
    Series per row, which dominated kernel setup on multi-shard terms.
    The dicts carry exactly the fields the scoring kernels touch."""
    m = len(grp)
    nd = grp["n_docs"].to_numpy()
    gen = (grp["_gen"].to_numpy() if "_gen" in grp.columns
           else np.zeros(m, dtype=np.int64))
    cols = [grp[c].to_numpy(object) for c in _SHARD_ROW_COLS]
    rows = []
    for j in range(m):
        d = {"n_docs": nd[j],
             "_ub_scale": max(1.0, avgdl / gen_avgdl.get(int(gen[j]), avgdl))}
        for name, arr in zip(_SHARD_ROW_COLS, cols):
            d[name] = arr[j]
        rows.append(d)
    return rows


class IndexReader:
    """Cached handle on an encoded index — reuse across queries so
    per-query latency is kernel time, not parquet listing/scan time.

    Understands incremental generations (operators/delta.py): postings =
    base union deltas; tombstoned doc_idx are masked in the kernels; per-
    term dead counts correct df for exact idf; stored block-max bounds are
    scaled by max(1, avgdl_live/avgdl_at_build)."""

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
        import numpy as _np

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
        postings = read_postings(spark, path).withColumn("_gen", F.lit(0))
        docmap = spark.read.parquet(f"{path}/docmap").select("doc_idx", "doc_id")
        dead_df = None
        tombs = []
        for d in deltas:
            g = int(d["gen"])
            self.gen_avgdl[g] = float(d["avgdl_at_build"])
            gdir = f"{path}/delta/{g}"
            t = spark.read.parquet(f"{gdir}/tombstones")
            tombs.append(_np.array(
                [r.doc_idx for r in t.collect()], dtype=_np.int64))
            if d.get("delete_only"):
                continue  # tombstones only — no postings/docmap dirs exist
            postings = postings.unionByName(
                spark.read.parquet(f"{gdir}/postings").withColumn("_gen", F.lit(g))
            )
            docmap = docmap.unionByName(
                spark.read.parquet(f"{gdir}/docmap").select("doc_idx", "doc_id")
            )
        if deltas:
            # latest generation carries the cumulative per-term dead counts
            last = f"{path}/delta/{int(deltas[-1]['gen'])}"
            dead_df = spark.read.parquet(f"{last}/dead_df")
        self.dead = (
            _np.sort(_np.concatenate(tombs)) if tombs
            else _np.zeros(0, dtype=_np.int64)
        )
        # kernels read tombstones via a Spark broadcast (one torrent ship
        # per reader, not per-task closure pickling); size is bounded by
        # the compaction policy (operators/delta.py should_compact)
        self._dead_bc = spark.sparkContext.broadcast(self.dead)
        self.dead_df = dead_df
        self.postings, self.docmap = postings, docmap
        if cache:
            self.postings = self.postings.persist()
            self.docmap = self.docmap.persist()

    def unpersist(self):
        self.postings.unpersist()
        self.docmap.unpersist()

    def _term_info(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term -> (max n_shards across generations, total df across
        generations), LRU-cached on the reader. One cheap pre-pass job
        reading ONLY the (term, n_shards, df) columns of the pruned
        buckets — parquet column pruning never touches the posting blobs.
        Absent terms map to (0, 0)."""
        if not hasattr(self, "_terminfo_cache"):
            self._terminfo_cache: dict[str, tuple[int, int]] = {}
        missing = sorted(t for t in terms if t not in self._terminfo_cache)
        if missing:
            rows = self._term_info_frame(missing).collect()
            for t in missing:
                self._terminfo_cache[t] = (0, 0)  # absent from index
            for r in rows:
                self._terminfo_cache[r["term"]] = (int(r["m"]), int(r["df"]))
        return {t: self._terminfo_cache[t] for t in terms}

    def _term_info_frame(self, terms: list[str]) -> DataFrame:
        """The pre-pass plan: bucket-pruned, column-pruned (term,
        n_shards, df, _gen only — the posting blobs are never read)."""
        n_buckets = self.meta["n_buckets"]
        buckets = sorted({bucket_of(t, n_buckets) for t in terms})
        src = self.postings
        if "n_shards" not in src.columns:  # pre-n_shards index layout
            src = src.withColumn("n_shards", F.lit(1))
        return (
            src.filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .groupBy("term", "_gen")
            .agg(F.max("n_shards").alias("m"), F.first("df").alias("df"))
            .groupBy("term")
            .agg(F.max("m").alias("m"), F.sum("df").alias("df"))
        )

    @staticmethod
    def _group_cols(hits: DataFrame) -> DataFrame:
        """Fan each encoded row out to the doc-space group(s) it covers.

        Group of a doc = doc_idx % g_total; a term with n_shards = 2^j
        holds a doc in shard doc_idx % 2^j. Because power-of-two residues
        nest, shard s covers exactly the groups {g : g ≡ s (mod
        min(n, G))}: one group when n >= G, G/n replicated groups when
        n < G. Every doc's postings for EVERY query term land in its one
        home group, so per-group scoring is exact."""
        n, G = F.col("n_shards"), F.col("g_total")
        reps = F.greatest(F.lit(1), (G / n).cast("int"))
        return (
            hits.withColumn("_t", F.explode(F.sequence(F.lit(0), reps - F.lit(1))))
            .withColumn(
                "grp",
                F.when(n >= G, F.pmod(F.col("shard"), G))
                .otherwise(F.col("shard") + F.col("_t") * n)
                .cast("int"),
            )
        )

    def _topk_partials(self, qterms: DataFrame, buckets: list[int],
                       kernel: str, mode: str = "or",
                       seed_theta: bool = True) -> DataFrame:
        """Per-(query, doc-space group) partial top-k — the pre-merge
        stage of `topk`, factored out so distribution tests can count
        groups. Output: (query_id, k, grp, doc_idx, score), <= k rows per
        (query, group)."""
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["k1"], meta["b"]
        src = self.postings
        if "n_shards" not in src.columns:
            src = src.withColumn("n_shards", F.lit(1))
        hits = src.filter(F.col("bucket").isin(buckets)).join(
            F.broadcast(qterms), "term"
        )
        if self.dead_df is not None:
            hits = hits.join(F.broadcast(
                self.dead_df.withColumnRenamed("dead", "_dead")), "term", "left")
        else:
            hits = hits.withColumn("_dead", F.lit(0))
        hits = self._group_cols(hits)

        kern = {"auto": topk_auto, "exact": topk_exact, "wand": topk_wand}[kernel]
        dead_bc = self._dead_bc
        gen_avgdl = self.gen_avgdl
        # WAND threshold pre-seed (wand._theta_seed): only valid on a
        # pristine single-generation index — tombstones could kill the
        # achieving doc, and a changed avgdl makes stored block maxima
        # bounds rather than achieved values
        seed_ok = (seed_theta and len(self.dead) == 0
                   and not self.meta.get("deltas"))

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            dead_ids = dead_bc.value
            qid = pdf["query_id"].iloc[0]
            g = int(pdf["grp"].iloc[0])
            gt = int(pdf["g_total"].iloc[0])
            k = int(pdf["k"].iloc[0])
            shards_by_term: list[tuple[float, list]] = []
            for term, grp in sorted(pdf.groupby("term"), key=lambda kv: kv[0]):
                _d = grp["_dead"].iloc[0]
                dead_n = 0 if pd.isna(_d) else int(_d)
                # GLOBAL live df from the pre-pass (this task may hold
                # only a subset of the term's shards) — idf stays exact
                df_live = int(grp["df_total"].iloc[0]) - dead_n
                if df_live <= 0:
                    continue
                idf = float(idf_np(n_docs, df_live))
                # column-wise extraction into plain dicts: one
                # .to_numpy(object) per column instead of a pd.Series
                # per shard row (iterrows) — the phrase_group :to_numpy
                # pattern applied to the hottest query kernel
                shards_by_term.append((idf, _shard_dicts(
                    grp, avgdl, gen_avgdl)))
            gf = (gt, g) if gt > 1 else None
            if mode == "and":
                req = int(pdf["n_terms"].iloc[0])
                doc_idx, scores = topk_exact(
                    shards_by_term, k, avgdl, k1, b, dead_ids,
                    group_filter=gf, require_all=req,
                )
            else:
                from connectors_spark.operators.wand import _theta_seed
                kw = {}
                if kern is not topk_exact and seed_ok:
                    kw["theta_seed"] = _theta_seed(shards_by_term, k)
                doc_idx, scores = kern(
                    shards_by_term, k, avgdl, k1, b, dead_ids,
                    group_filter=gf, **kw,
                )
            return pd.DataFrame({
                "query_id": qid,
                "k": np.full(len(doc_idx), k, dtype=np.int32),
                "grp": np.full(len(doc_idx), g, dtype=np.int32),
                "doc_idx": doc_idx,
                "score": scores,
            })

        return hits.groupBy("query_id", "grp").applyInPandas(
            score_group,
            schema="query_id string, k int, grp int, doc_idx long, score double",
        )

    def topk(self, queries: list[dict], kernel: str = "auto",
             max_groups: int = DEFAULT_MAX_GROUPS,
             mode: str = "or", seed_theta: bool = True) -> DataFrame:
        """(query_id, rank, doc_id, score) for the query batch.

        mode='and': conjunctive retrieval (ES bool-must) — only docs
        matching EVERY analyzed query term score; a query containing an
        index-absent term returns nothing. The intersection itself is the
        pruning, so AND always runs the exact kernel with a matched-term
        count filter (posting intersection, Lucene's conjunction
        iterator) — same group fan-out, still rank-identical to the
        DataFrame scorer's mode='and'.

        Plan: tiny pre-pass for per-term (n_shards, df) -> qterms
        (broadcast) -> bucket-pruned postings scan -> per-(query,
        doc-space group) applyInPandas partial top-k -> window merge over
        <= G*k rows per query -> broadcast join back to the docmap.

        Hot-term safety: a query fans out over G = min(max n_shards of
        its terms, max_groups) disjoint doc-space groups (doc_idx % G),
        so a "the"-class posting list is scored by up to G tasks instead
        of one. Nested power-of-two sharding guarantees each doc is fully
        scored in exactly ONE group; the merge is rank-identical to a
        single-task evaluation because per-doc scores are bit-identical
        (same term-sorted accumulation) and the tie order (score DESC,
        doc ASC) matches the kernels'.
        """
        from connectors_spark.functions.analysis import tokenize_py

        n_buckets = self.meta["n_buckets"]
        g_cap = max(1, 1 << (int(max_groups).bit_length() - 1))

        per_q, all_terms = [], set()
        for q in queries:
            terms = sorted(set(tokenize_py(q["query_text"])))
            per_q.append((q["query_id"], int(q.get("k", 10)), terms))
            all_terms.update(terms)
        empty = self.spark.createDataFrame(
            [], "query_id string, rank int, doc_id string, score double"
        )
        if not all_terms:
            return empty
        info = self._term_info(sorted(all_terms))
        qrows, buckets = [], set()
        for qid, k, terms in per_q:
            if mode == "and" and any(info[t][1] <= 0 for t in terms):
                continue  # a must-term is absent: the query matches nothing
            gq = min(max((info[t][0] for t in terms), default=1), g_cap)
            gq = max(gq, 1)
            for t in terms:
                if info[t][1] <= 0:
                    continue  # absent term: no postings to score
                qrows.append((qid, k, t, gq, info[t][1], len(terms)))
                buckets.add(bucket_of(t, n_buckets))
        if not qrows:
            return empty
        qterms = self.spark.createDataFrame(
            qrows,
            "query_id string, k int, term string, g_total int, "
            "df_total long, n_terms int",
        )
        partials = self._topk_partials(qterms, sorted(buckets), kernel,
                                       mode=mode, seed_theta=seed_theta)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_idx")
        )
        ranked = (
            partials.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_idx", "score")
        )
        return (
            self.docmap.join(F.broadcast(ranked), "doc_idx")
            .select("query_id", "rank", "doc_id", "score")
        )


    def topk_local(self, queries: list[dict], kernel: str = "auto") -> list[tuple]:
        """Low-latency serving path: ONE bucket-pruned collect pulls the
        query terms' shard rows to the driver, then the kernel runs
        in-process — no per-query Spark job. Term shard rows and dead
        counts are LRU-cached on the reader, so repeat-term queries skip
        the cluster entirely (the hot-query-set regime of a search tier).
        This is the ES-search-latency analog; `topk` is the
        bulk-throughput path. Returns [(query_id, rank, doc_id, score)].

        Hot-term budget (VERDICT r4 #3): pulling a stop-word-class term
        driver-side is O(df) bytes — unbounded at 10^9+ docs.  A query
        containing any term whose total df exceeds
        ``self.local_term_df_budget`` (default 2,000,000 postings,
        ~tens of MB of shard blobs) is routed to the distributed `topk`
        kernel instead; the (term, df) pre-pass is the same cheap
        column-pruned lexicon job `topk` itself starts with, so the
        budget check adds no extra scan for routed queries.  Results
        are rank-identical either way (both paths share the scoring
        kernels and tie order)."""
        from connectors_spark.functions.analysis import tokenize_py

        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, n_buckets = meta["k1"], meta["b"], meta["n_buckets"]
        kern = {"auto": topk_auto, "exact": topk_exact, "wand": topk_wand}[kernel]
        if not hasattr(self, "_term_cache"):
            from collections import OrderedDict
            self._term_cache: "OrderedDict[str, list]" = OrderedDict()
            self._dead_cache: dict[str, int] = {}
            self._term_nbytes: dict[str, int] = {}
            self._term_cache_used = 0

        per_q = []
        all_terms = set()
        for q in queries:
            terms = sorted(set(tokenize_py(q["query_text"])))
            per_q.append((q["query_id"], int(q.get("k", 10)), terms))
            all_terms.update(terms)
        if not all_terms:
            return []

        df_budget = int(getattr(self, "local_term_df_budget", 2_000_000))
        tinfo = self._term_info(sorted(all_terms))
        hot_terms = {t for t in all_terms if tinfo[t][1] > df_budget}
        if hot_terms:
            hot_q = [q for q, (_, _, terms) in zip(queries, per_q)
                     if any(t in hot_terms for t in terms)]
            cold = [(q, pq) for q, pq in zip(queries, per_q)
                    if not any(t in hot_terms for t in pq[2])]
            queries = [q for q, _ in cold]
            per_q = [pq for _, pq in cold]
            routed = [
                (r["query_id"], int(r["rank"]), r["doc_id"],
                 float(r["score"]))
                for r in self.topk(hot_q, kernel=kernel).collect()
            ]
            all_terms = set().union(*(pq[2] for pq in per_q)) \
                if per_q else set()
            if not all_terms:
                return routed
        else:
            routed = []
        missing = sorted(t for t in all_terms if t not in self._term_cache)
        for t in all_terms:
            if t in self._term_cache:   # LRU touch
                self._term_cache.move_to_end(t)
        if missing:
            buckets = sorted({bucket_of(t, n_buckets) for t in missing})
            rows = (
                self.postings.filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(missing))
                .toPandas()
            )
            for t in missing:
                self._term_cache[t] = []
                self._dead_cache[t] = 0
                self._term_nbytes[t] = 64
                self._term_cache_used += 64
            terms_np = rows["term"].to_numpy(object)
            for j, row in enumerate(_shard_dicts(rows, avgdl,
                                                 self.gen_avgdl)):
                t = terms_np[j]
                self._term_cache[t].append(row)
                nb = 256 + sum(
                    len(v) if isinstance(v, (bytes, bytearray, memoryview, str))
                    else 16
                    for v in row.values()
                )
                self._term_nbytes[t] += nb
                self._term_cache_used += nb
            if self.dead_df is not None:
                dd = self.dead_df.filter(F.col("term").isin(missing)).collect()
                for r in dd:
                    self._dead_cache[r.term] = int(r.dead)
            # evict LRU terms past the byte budget — the cache must not
            # grow per distinct term forever (r2 VERDICT item 4); never
            # evict a term the current batch needs
            budget = getattr(self, "term_cache_bytes", 256 << 20)
            for t in list(self._term_cache):
                if self._term_cache_used <= budget:
                    break
                if t in all_terms:
                    continue
                self._term_cache.pop(t)
                self._dead_cache.pop(t, None)
                self._term_cache_used -= self._term_nbytes.pop(t, 0)
        by_term = self._term_cache
        dead_by_term = self._dead_cache
        # resolve doc_idx -> doc_id lazily, one lookup per result batch
        out, need_idx = [], set()
        interim = []
        for qid, k, terms in per_q:
            shards = []
            for t in terms:
                trs = by_term.get(t)
                if not trs:
                    continue
                df_live = sum(int(r["n_docs"]) for r in trs) - dead_by_term.get(t, 0)
                if df_live <= 0:
                    continue
                shards.append((float(idf_np(n_docs, df_live)), trs))
            kw = {}
            if kern is not topk_exact and len(self.dead) == 0 \
                    and not meta.get("deltas"):
                from connectors_spark.operators.wand import _theta_seed
                kw["theta_seed"] = _theta_seed(shards, k)
            doc_idx, scores = kern(shards, k, avgdl, k1, b, self.dead, **kw)
            interim.append((qid, doc_idx, scores))
            need_idx.update(int(i) for i in doc_idx)
        if need_idx:
            id_rows = self.docmap.filter(
                F.col("doc_idx").isin(sorted(need_idx))
            ).collect()
            idmap = {r.doc_idx: r.doc_id for r in id_rows}
        else:
            idmap = {}
        for qid, doc_idx, scores in interim:
            for r, (di, s) in enumerate(zip(doc_idx, scores), start=1):
                out.append((qid, r, idmap[int(di)], float(s)))
        return out + routed


    def phrase_topk(self, phrases: list[dict],
                    max_groups: int = DEFAULT_MAX_GROUPS) -> DataFrame:
        """Exact-phrase top-k over the compressed positional index as a
        DataFrame (query_id, rank, doc_id, score).

        Fully distributed — same per-(query, doc-space group) fan-out as
        `topk`; no posting row ever reaches the driver (the ES
        match_phrase analog has to survive "the fast" on a 10^11-posting
        "the"). Inside each group kernel, candidates are intersected
        starting from the smallest-posting-set term, adjacency is
        verified from the delta-encoded position streams, and matches are
        ranked by the phrase terms' BM25 sum (ties score DESC, doc ASC).
        Requires a positional index (build_index(with_positions=True));
        delta generations inherit the positional setting
        (operators/delta.py)."""
        from connectors_spark.functions.analysis import tokenize_py
        from connectors_spark.functions.codec import (
            decode_shard, decode_shard_positions,
        )
        from connectors_spark.operators.score import tf_norm_np

        meta = self.meta
        if meta.get("positions") is False:
            raise ValueError(
                "index was built without positions; rebuild with "
                "with_positions=True for phrase queries"
            )
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, n_buckets = meta["k1"], meta["b"], meta["n_buckets"]
        g_cap = max(1, 1 << (int(max_groups).bit_length() - 1))

        per_q, all_terms = [], set()
        for q in phrases:
            terms = tokenize_py(q["query_text"])
            per_q.append((q["query_id"], int(q.get("k", 10)), terms))
            all_terms.update(terms)
        empty = self.spark.createDataFrame(
            [], "query_id string, rank int, doc_id string, score double"
        )
        if not all_terms:
            return empty
        info = self._term_info(sorted(all_terms))
        qrows, buckets = [], set()
        for qid, k, terms in per_q:
            if not terms or any(info[t][1] <= 0 for t in terms):
                continue  # a term is absent: the phrase cannot match
            gq = min(max(info[t][0] for t in terms), g_cap)
            gq = max(gq, 1)
            phrase = " ".join(terms)
            for t in sorted(set(terms)):
                qrows.append((qid, k, t, gq, info[t][1], phrase))
                buckets.add(bucket_of(t, n_buckets))
        if not qrows:
            return empty
        qterms = self.spark.createDataFrame(
            qrows,
            "query_id string, k int, term string, g_total int, "
            "df_total long, phrase string",
        )
        src = self.postings
        if "n_shards" not in src.columns:
            src = src.withColumn("n_shards", F.lit(1))
        hits = src.filter(F.col("bucket").isin(sorted(buckets))).join(
            F.broadcast(qterms), "term"
        )
        if self.dead_df is not None:
            hits = hits.join(F.broadcast(
                self.dead_df.withColumnRenamed("dead", "_dead")), "term", "left")
        else:
            hits = hits.withColumn("_dead", F.lit(0))
        hits = self._group_cols(hits)
        dead_bc = self._dead_bc

        def phrase_group(pdf: pd.DataFrame) -> pd.DataFrame:
            dead_ids = dead_bc.value
            qid = pdf["query_id"].iloc[0]
            g = int(pdf["grp"].iloc[0])
            gt = int(pdf["g_total"].iloc[0])
            k = int(pdf["k"].iloc[0])
            terms = pdf["phrase"].iloc[0].split(" ")
            # per term: doc_idx -> (tf, dl, positions), this group's slice
            term_docs: dict[str, dict[int, tuple]] = {}
            term_df: dict[str, int] = {}
            for term, grp in pdf.groupby("term"):
                m = term_docs.setdefault(term, {})
                _d = grp["_dead"].iloc[0]
                dead_n = 0 if pd.isna(_d) else int(_d)
                # live df (dead-corrected, same as topk) => exact idf on
                # incrementally-updated indexes
                term_df[term] = int(grp["df_total"].iloc[0]) - dead_n
                # column-wise extraction: one .to_numpy(object) per
                # column instead of a pd.Series per shard row
                # (iterrows) — VERDICT r4 #8
                _nd = grp["n_docs"].to_numpy()
                _gap = grp["doc_gaps"].to_numpy(object)
                _tfs = grp["tfs"].to_numpy(object)
                _dls = grp["dls"].to_numpy(object)
                _pos = (grp["positions"].to_numpy(object)
                        if "positions" in grp.columns
                        else np.full(len(grp), None, dtype=object))
                for j in range(len(grp)):
                    row = {"n_docs": _nd[j], "doc_gaps": _gap[j],
                           "tfs": _tfs[j], "dls": _dls[j],
                           "positions": _pos[j]}
                    d, tf, dl = decode_shard(row)
                    pos = decode_shard_positions(row, tf=tf)
                    if pos is None:
                        raise ValueError(
                            "index was built without positions; rebuild "
                            "with with_positions=True for phrase queries"
                        )
                    keep = (d % gt) == g
                    if len(dead_ids):
                        p_ = np.minimum(
                            np.searchsorted(dead_ids, d), len(dead_ids) - 1
                        )
                        keep &= dead_ids[p_] != d
                    for i in np.nonzero(keep)[0]:
                        m[int(d[i])] = (int(tf[i]), int(dl[i]), pos[i])
            out_docs: list[int] = []
            out_scores: list[float] = []
            if all(term_docs.get(t) for t in terms):
                # intersect from the smallest posting set
                order = sorted(set(terms), key=lambda t: len(term_docs[t]))
                cand = set(term_docs[order[0]])
                for t in order[1:]:
                    cand &= term_docs[t].keys()
                matched = []
                t0 = terms[0]
                for doc in cand:
                    # vectorized adjacency check: positions are sorted
                    # unique int arrays, so the candidate start set is a
                    # C-side sorted intersection per phrase term (was
                    # Python sets per doc — VERDICT r3 #8)
                    starts = term_docs[t0][doc][2]
                    for i, t in enumerate(terms[1:], start=1):
                        starts = np.intersect1d(
                            starts, term_docs[t][doc][2] - i,
                            assume_unique=True,
                        )
                        if starts.size == 0:
                            break
                    else:
                        matched.append(doc)
                scored = []
                for doc in matched:
                    s = 0.0
                    for t in sorted(set(terms)):
                        tf_, dl_, _ = term_docs[t][doc]
                        idf = float(idf_np(n_docs, term_df[t]))
                        s += idf * float(tf_norm_np(tf_, dl_, avgdl, k1, b))
                    scored.append((doc, s))
                scored.sort(key=lambda it: (-it[1], it[0]))
                out_docs = [int(d) for d, _ in scored[:k]]
                out_scores = [float(s) for _, s in scored[:k]]
            return pd.DataFrame({
                "query_id": [qid] * len(out_docs),
                "k": np.full(len(out_docs), k, dtype=np.int32),
                "doc_idx": np.array(out_docs, dtype=np.int64),
                "score": np.array(out_scores, dtype=np.float64),
            })

        partials = hits.groupBy("query_id", "grp").applyInPandas(
            phrase_group,
            schema="query_id string, k int, doc_idx long, score double",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_idx")
        )
        ranked = (
            partials.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_idx", "score")
        )
        return (
            self.docmap.join(F.broadcast(ranked), "doc_idx")
            .select("query_id", "rank", "doc_id", "score")
        )

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
        empty = self.spark.createDataFrame(
            [], "query_id string, rank int, doc_id string, score double"
        )
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
        pref_df = self.spark.createDataFrame(
            [(p,) for p in prefixes], "prefix string")
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
        kmap = self.spark.createDataFrame(
            [(qid, k) for qid, k, _, _ in per_q], "query_id string, k int"
        )
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
