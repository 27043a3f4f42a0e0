"""Incremental index update: delete + update + insert, then rank identity
vs an oracle built directly on the new snapshot; compaction equivalence."""

import pytest
from pyspark.sql import functions as F

from connectors_spark.operators.build import build_index_transcripts, with_doc_id
from connectors_spark.operators.delta import compact_index, incremental_update
from connectors_spark.operators.index import IndexReader, read_meta, write_encoded_index
from connectors_spark.oracle import OracleIndex
from connectors_spark.synth import synth_queries, synth_transcripts

N0, N1 = 60, 70  # conversations before / after (appends 10 new convs)


def _snapshots(spark):
    s0 = synth_transcripts(spark, N0, seed=42).cache()
    grown = synth_transcripts(spark, N1, seed=42)
    h = F.pmod(F.xxhash64(F.concat_ws(":", "conv_id", "turn_idx")), F.lit(50))
    # 2% deleted, 2% text-updated (ts bumped), plus 10 brand-new convs
    s1 = (
        grown.filter(~((F.col("conv_id") < f"conv-{N0:08d}") & (h == 0)))
        .withColumn(
            "text",
            F.when((h == 1) & (F.col("conv_id") < f"conv-{N0:08d}"),
                   F.concat(F.col("text"), F.lit(" freshterm")))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "ts",
            F.when((h == 1) & (F.col("conv_id") < f"conv-{N0:08d}"),
                   F.col("ts") + F.expr("INTERVAL 1 HOUR"))
            .otherwise(F.col("ts")),
        )
    ).cache()
    return s0, s1


@pytest.fixture(scope="module")
def updated(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("delta_idx"))
    s0, s1 = _snapshots(spark)
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    rec = incremental_update(spark, path, s1)
    assert rec is not None and rec["gen"] == 1 and rec["n_changed"] > 0
    rows = with_doc_id(s1).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    return path, s1, oracle


def _check_rank_identity(spark, path, oracle, kernel):
    queries = synth_queries(30, seed=5) + [
        {"query_id": "fresh", "query_text": "freshterm", "k": 10},
        {"query_id": "hot", "query_text": "t00001 t00002", "k": 10},
    ]
    reader = IndexReader(spark, path, cache=False)
    got = sorted(reader.topk(queries, kernel=kernel).collect(),
                 key=lambda r: (r.query_id, r.rank))
    exp = sorted(oracle.score_queryset(queries), key=lambda e: (e[0], e[1]))
    assert [(g.query_id, g.rank, g.doc_id) for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g.score == pytest.approx(e[3], rel=1e-9)


@pytest.mark.parametrize("kernel", ["exact", "wand"])
def test_incremental_rank_identity(spark, updated, kernel):
    path, s1, oracle = updated
    _check_rank_identity(spark, path, oracle, kernel)


def test_live_stats_match_oracle(spark, updated):
    path, s1, oracle = updated
    meta = read_meta(path)
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)


def test_noop_update_returns_none(spark, updated):
    path, s1, _ = updated
    assert incremental_update(spark, path, s1) is None


def test_compaction_equivalence(spark, updated, tmp_path):
    path, s1, oracle = updated
    out = str(tmp_path / "compacted")
    compact_index(spark, path, out)
    meta = read_meta(out)
    assert meta["deltas"] == [] and meta["n_docs"] == oracle.n_docs
    _check_rank_identity(spark, out, oracle, "wand")
    reader = IndexReader(spark, out, cache=False)
    assert len(reader.dead) == 0


def test_incremental_positional_phrase(spark, tmp_path):
    """Delta generations inherit with_positions (meta.json), so phrase
    retrieval keeps working — and stays oracle-identical — after an
    incremental update (round-1 ADVICE: hardcoded with_positions=False
    broke phrases whose terms had delta postings)."""
    path = str(tmp_path / "pidx_delta")
    s0, s1 = _snapshots(spark)
    write_encoded_index(
        build_index_transcripts(s0, with_positions=True), path,
        n_buckets=8, shard_cap=300,
    )
    assert read_meta(path)["positions"] is True
    rec = incremental_update(spark, path, s1)
    assert rec is not None

    rows = with_doc_id(s1).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    # 'freshterm' only exists in delta postings: the round-1 bug raised here
    sample = next(r.text for r in rows if r.text.endswith("freshterm"))
    phrase = " ".join(sample.split()[-2:])
    reader = IndexReader(spark, path, cache=False)
    got = sorted(
        reader.phrase_topk(
            [{"query_id": "p", "query_text": phrase, "k": 10}]
        ).collect(),
        key=lambda r: r.rank,
    )
    exp = oracle.phrase_query(phrase, 10)
    assert [g.doc_id for g in got] == [d for d, _ in exp]
    for g, (_, s) in zip(got, exp):
        assert g.score == pytest.approx(s, rel=1e-9)


def test_auto_compaction_policy_roundtrip(spark, tmp_path):
    """maybe_compact triggers on dead-ratio, swaps the merged index in
    place, and the result stays rank-identical to the oracle with zero
    tombstones (bounded broadcast dead set)."""
    from connectors_spark.operators.delta import (
        dead_ratio, maybe_compact, should_compact, total_tombstones,
    )

    path = str(tmp_path / "auto_idx")
    s0, s1 = _snapshots(spark)
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    assert maybe_compact(spark, path) is False  # nothing dead yet

    rec = incremental_update(spark, path, s1)
    assert rec is not None and rec["n_tombstones"] > 0
    meta = read_meta(path)
    assert total_tombstones(meta) == rec["n_tombstones"]
    assert 0.0 < dead_ratio(meta) < 0.2
    # default thresholds: not yet worth merging
    assert should_compact(meta) is False
    # tight threshold: policy fires and compacts IN PLACE
    assert maybe_compact(spark, path, max_dead_ratio=0.001) is True

    meta = read_meta(path)
    assert meta["deltas"] == [] and total_tombstones(meta) == 0
    reader = IndexReader(spark, path, cache=False)
    assert len(reader.dead) == 0
    rows = with_doc_id(s1).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    _check_rank_identity(spark, path, oracle, "wand")


def test_store_pointer_compaction_zero_downtime(spark, tmp_path):
    """Serving store (VERDICT r2 item 5): an IndexReader opened BEFORE a
    concurrent compaction keeps answering rank-identically from its
    pinned generation (grace window), while readers opened AFTER resolve
    the new generation — CURRENT flips atomically, no in-place rename of
    a live directory."""
    import os

    from connectors_spark.operators.delta import (
        gc_store, init_store, maybe_compact_store, resolve_current,
    )

    store = str(tmp_path / "store")
    scratch = str(tmp_path / "scratch_idx")
    s0, s1 = _snapshots(spark)
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), scratch,
        n_buckets=8, shard_cap=300,
    )
    gen1 = init_store(store, from_index=scratch)
    assert resolve_current(store) == gen1
    rec = incremental_update(spark, store, s1)  # store path resolves
    assert rec is not None and rec["n_tombstones"] > 0

    queries = synth_queries(15, seed=9) + [
        {"query_id": "fresh", "query_text": "freshterm", "k": 10}
    ]
    old_reader = IndexReader(spark, store, cache=False)
    before = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in old_reader.topk(queries, kernel="wand").collect()
    )

    # concurrent compaction: promotes a new generation, keeps gen1 (grace)
    assert maybe_compact_store(spark, store, max_dead_ratio=0.001) is True
    assert resolve_current(store) != gen1
    assert os.path.isdir(gen1), "grace window must keep the old generation"

    # the pre-compaction reader still answers identically from gen1
    after_old = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in old_reader.topk(queries, kernel="wand").collect()
    )
    assert after_old == before

    # a fresh reader sees the compacted generation: same ranking, no dead
    new_reader = IndexReader(spark, store, cache=False)
    assert len(new_reader.dead) == 0
    after_new = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in new_reader.topk(queries, kernel="wand").collect()
    )
    assert after_new == before

    # grace expiry: a zero-grace GC removes the old generation
    removed = gc_store(store, keep_previous=0)
    assert os.path.basename(gen1) in removed and not os.path.isdir(gen1)


def test_upsert_docs_never_deletes_absent_docs(spark, tmp_path):
    path = str(tmp_path / "ups_idx")
    s0 = synth_transcripts(spark, 30, seed=9).cache()
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), path,
        n_buckets=8, shard_cap=300)
    from connectors_spark.operators.delta import upsert_docs

    # a micro-batch touching ONE conversation: bump its ts + text
    batch = (s0.filter(F.col("conv_id") == "conv-00000003")
             .withColumn("text", F.concat("text", F.lit(" upserted")))
             .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")))
    rec = upsert_docs(spark, path, batch)
    assert rec is not None
    reader = IndexReader(spark, path, cache=False)
    # untouched docs still retrievable; updated doc carries the new term
    hits = reader.topk([{"query_id": "q", "query_text": "upserted",
                         "k": 5}], kernel="exact").collect()
    assert len(hits) > 0
    meta = read_meta(path)
    from connectors_spark.operators.delta import _live_docmap
    n_live = _live_docmap(spark, path, meta).count()
    assert n_live == s0.count()  # upsert replaced, never deleted
    # replaying the identical batch is a no-op (idempotent foreachBatch)
    assert upsert_docs(spark, path, batch) is None


def test_streaming_index_maintenance_end_to_end(spark, tmp_path):
    from connectors_spark.operators.delta import (
        streaming_index_maintenance)

    path = str(tmp_path / "stream_idx")
    s0 = synth_transcripts(spark, 25, seed=11).cache()
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), path,
        n_buckets=8, shard_cap=300)
    # stage a micro-batch source dir: updates to one conv + a new conv
    upd = (s0.filter(F.col("conv_id") == "conv-00000001")
           .withColumn("text", F.concat("text", F.lit(" streamterm")))
           .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")))
    src = str(tmp_path / "batches")
    upd.write.parquet(src)
    stream = (spark.readStream.schema(upd.schema).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    q = streaming_index_maintenance(
        spark, path, stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    reader = IndexReader(spark, path, cache=False)
    hits = reader.topk([{"query_id": "q", "query_text": "streamterm",
                         "k": 10}], kernel="exact").collect()
    assert len(hits) > 0


def _dead_counts_per_row(rows, tombs):
    """Reference for the vectorized dead scan: the per-row decode loop
    the delta writer used before it counted per Arrow batch."""
    import numpy as np

    from connectors_spark.functions.codec import varint_decode

    out = {}
    for row in rows:
        d = np.cumsum(varint_decode(row["doc_gaps"], 0, int(row["n_docs"]))
                      .astype(np.int64))
        pos = np.minimum(np.searchsorted(tombs, d), max(0, len(tombs) - 1))
        n_dead = int((tombs[pos] == d).sum()) if len(tombs) else 0
        if n_dead:
            out[row["term"]] = out.get(row["term"], 0) + n_dead
    return out


def _decoded(row):
    from connectors_spark.functions.codec import decode_shard

    return decode_shard(row)[0]


def test_vectorized_dead_count_matches_per_row_loop():
    import numpy as np
    import pyarrow as pa

    from connectors_spark.functions.codec import encode_shard
    from connectors_spark.operators.delta import _dead_counts

    rng = np.random.RandomState(3)
    rows = []
    for i, n in enumerate([1, 5, 1, 300, 129, 2, 1, 64]):
        doc = np.sort(rng.choice(4000, size=n, replace=False)).astype(np.int64)
        tf = rng.randint(1, 9, size=n)
        enc = encode_shard(doc, tf, tf + 10, tf / (tf + 1.0))
        # two shards per term: the scan sums them per term
        rows.append({"term": f"t{i // 2}", **enc})
    all_docs = np.unique(np.concatenate([_decoded(r) for r in rows]))
    tomb_sets = {
        "empty": np.zeros(0, dtype=np.int64),
        "out_of_range": np.array([-5, 10_000, 10_001], dtype=np.int64),
        "all_dead": all_docs,
        "some": np.sort(rng.choice(all_docs, size=200, replace=False)),
        "one": all_docs[:1],
    }
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r["term"] for r in rows]),
         pa.array([r["n_docs"] for r in rows], pa.int64()),
         pa.array([r["doc_gaps"] for r in rows], pa.binary())],
        names=["term", "n_docs", "doc_gaps"])
    for name, tombs in tomb_sets.items():
        exp = _dead_counts_per_row(rows, tombs)
        for split in (1, 3, len(rows)):
            got = {}
            parts = [batch.slice(a, split) for a in range(0, len(rows), split)]
            for out in _dead_counts(iter(parts), tombs):
                for t, d in zip(out.column("term").to_pylist(),
                                out.column("dead").to_pylist()):
                    got[t] = got.get(t, 0) + d
            assert got == exp, (name, split)
    assert _dead_counts_per_row(rows, tomb_sets["all_dead"]) == {
        f"t{i}": sum(r["n_docs"] for r in rows[2 * i:2 * i + 2])
        for i in range(4)}


def test_fused_delta_generation_layout_and_content(spark, tmp_path):
    """A generation written by incremental_update over a fused-built
    (non-positional) base: one parquet file per bucket dir, decoded
    (term, doc_id, tf, dl) equal to an independent recount of the changed
    docs, block_max_w at avgdl_live, and exact/WAND rank identity."""
    import os
    from collections import Counter

    import numpy as np

    from connectors_spark.functions.analysis import tokenize_py
    from connectors_spark.functions.codec import BLOCK_SIZE, decode_shard
    from connectors_spark.operators.index import build_and_write_index
    from connectors_spark.operators.score import tf_norm_np

    path = str(tmp_path / "fused_delta")
    s0, s1 = _snapshots(spark)
    meta0 = build_and_write_index(s0, path, n_buckets=8, shard_cap=300)
    assert meta0["positions"] is False
    rec = incremental_update(spark, path, s1)
    assert rec is not None and rec["gen"] == 1

    before = {r.doc_id: r.ts for r in with_doc_id(s0).collect()}
    after = {r.doc_id: (r.ts, r.text) for r in with_doc_id(s1).collect()}
    created = [d for d in after if d not in before]
    updated = [d for d in after if d in before and after[d][0] != before[d]]
    deleted = [d for d in before if d not in after]
    assert created and updated and deleted
    assert (rec["created"], rec["updated"], rec["deleted"], rec["skipped"]) \
        == (len(created), len(updated), len(deleted),
            len(after) - len(created) - len(updated))
    assert rec["n_changed"] == len(created) + len(updated) + len(deleted)
    assert rec["n_tombstones"] == len(updated) + len(deleted)

    gdir = os.path.join(path, "delta", "1")
    bucket_dirs = [d for d in os.listdir(os.path.join(gdir, "postings"))
                   if d.startswith("bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(gdir, "postings", d))
                 if f.endswith(".parquet") and not f.startswith(".")]
        assert len(files) == 1, (d, files)

    exp = {}
    for doc_id in created + updated:
        toks = tokenize_py(after[doc_id][1])
        for term, tf in Counter(toks).items():
            exp[(term, doc_id)] = (tf, len(toks))
    dm = {r.doc_idx: r.doc_id
          for r in spark.read.parquet(f"{gdir}/docmap").collect()}
    assert sorted(dm.values()) == sorted(created + updated)
    meta = read_meta(path)
    avgdl_live = rec["avgdl_live"]
    assert avgdl_live != meta0["avgdl"]
    got = {}
    for row in spark.read.parquet(f"{gdir}/postings").toPandas() \
            .to_dict("records"):
        d, tf, dl = decode_shard(row)
        for i, t, n in zip(d.tolist(), tf.tolist(), dl.tolist()):
            got[(row["term"], dm[i])] = (t, n)
        w = tf_norm_np(tf, dl, avgdl_live, meta["k1"], meta["b"])
        bmax = np.maximum.reduceat(w, np.arange(0, len(w), BLOCK_SIZE))
        assert np.allclose(row["block_max_w"], bmax, rtol=1e-12, atol=0)
        assert row["df"] == sum(1 for k in exp if k[0] == row["term"])
    assert got == exp

    oracle = OracleIndex([(d, t) for d, (_, t) in after.items()])
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    for kernel in ("exact", "wand"):
        _check_rank_identity(spark, path, oracle, kernel)
