"""Query-driven index maintenance: delete_by_query / update_by_query
(ES `_delete_by_query` / `_update_by_query` analogs) and point-in-time
readers (`IndexReader(pit_gen=...)`), each rank-identical to a
from-scratch oracle over the corresponding corpus snapshot."""

import pytest
from pyspark.sql import functions as F

from connectors_spark.operators.build import build_index_transcripts, with_doc_id
from connectors_spark.operators.delta import (
    compact_index,
    delete_by_query,
    update_by_query,
)
from connectors_spark.operators.index import IndexReader, read_meta, write_encoded_index
from connectors_spark.oracle import OracleIndex
from connectors_spark.synth import synth_queries, synth_transcripts

N_CONVS = 50


def _corpus(spark):
    t = synth_transcripts(spark, N_CONVS, seed=7).cache()
    return t, with_doc_id(t).cache()


def _oracle_for(rows):
    return OracleIndex([(r.doc_id, r.text) for r in rows])


def _queries():
    return synth_queries(20, seed=11) + [
        {"query_id": "hot", "query_text": "t00001 t00002", "k": 10},
    ]


def _assert_identical(reader, oracle, kernel="wand"):
    qs = _queries()
    got = sorted(reader.topk(qs, kernel=kernel).collect(),
                 key=lambda r: (r.query_id, r.rank))
    exp = sorted(oracle.score_queryset(qs), key=lambda e: (e[0], e[1]))
    assert [(g.query_id, g.rank, g.doc_id) for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g.score == pytest.approx(e[3], rel=1e-9)


@pytest.fixture(scope="module")
def maint(spark, tmp_path_factory):
    """One shared index with a delete-only gen 1 and an update gen 2,
    plus oracles for every snapshot along the chain."""
    path = str(tmp_path_factory.mktemp("maint_idx"))
    t, docs = _corpus(spark)
    write_encoded_index(
        build_index_transcripts(t, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    pred = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    dead = docs.filter(pred == 0).select("doc_id")
    upd_ids = docs.filter(pred == 1).select("doc_id")

    oracle0 = _oracle_for(docs.select("doc_id", "text").collect())

    rec1 = delete_by_query(spark, path, dead)
    assert rec1 is not None and rec1["gen"] == 1 and rec1["delete_only"]
    assert rec1["n_tombstones"] == dead.count() > 0
    survivors = docs.join(dead, "doc_id", "left_anti")
    oracle1 = _oracle_for(survivors.select("doc_id", "text").collect())

    updated = (docs.join(upd_ids, "doc_id", "left_semi")
               .withColumn("text", F.concat("text", F.lit(" refreshedterm"))))
    rec2 = update_by_query(spark, path, updated)
    assert rec2 is not None and rec2["gen"] == 2
    assert "delete_only" not in rec2
    snap2 = survivors.join(upd_ids, "doc_id", "left_anti").select(
        "doc_id", "text"
    ).unionByName(updated.select("doc_id", "text"))
    oracle2 = _oracle_for(snap2.collect())
    return path, oracle0, oracle1, oracle2


@pytest.mark.parametrize("kernel", ["exact", "wand"])
def test_delete_then_update_rank_identity(spark, maint, kernel):
    path, _, _, oracle2 = maint
    _assert_identical(IndexReader(spark, path, cache=False), oracle2, kernel)


def test_live_stats_track_chain(spark, maint):
    path, _, _, oracle2 = maint
    meta = read_meta(path)
    assert meta["n_docs"] == oracle2.n_docs
    assert meta["avgdl"] == pytest.approx(oracle2.avgdl, rel=1e-12)


def test_delete_by_query_no_match_returns_none(spark, maint):
    path = maint[0]
    nomatch = spark.createDataFrame([("no-such-doc",)], "doc_id string")
    assert delete_by_query(spark, path, nomatch) is None


def test_update_by_query_ignores_unknown_ids(spark, maint):
    path = maint[0]
    ghost = spark.createDataFrame(
        [("no-such-doc", "some text")], "doc_id string, text string"
    )
    assert update_by_query(spark, path, ghost) is None


def test_pit_gen_time_travel(spark, maint):
    """pit_gen pins the delta chain: 0 = pristine build, 1 = post-delete,
    None = live head — each rank-identical to its snapshot oracle."""
    path, oracle0, oracle1, oracle2 = maint
    _assert_identical(IndexReader(spark, path, cache=False, pit_gen=0), oracle0)
    _assert_identical(IndexReader(spark, path, cache=False, pit_gen=1), oracle1)
    _assert_identical(IndexReader(spark, path, cache=False), oracle2)


def test_pit_stats_restored(spark, maint):
    path, oracle0, oracle1, _ = maint
    r0 = IndexReader(spark, path, cache=False, pit_gen=0)
    assert r0.meta["n_docs"] == oracle0.n_docs
    assert r0.meta["avgdl"] == pytest.approx(oracle0.avgdl, rel=1e-12)
    r1 = IndexReader(spark, path, cache=False, pit_gen=1)
    assert r1.meta["n_docs"] == oracle1.n_docs
    assert r1.meta["avgdl"] == pytest.approx(oracle1.avgdl, rel=1e-12)


def test_no_doc_idx_recycling_after_delete_heavy_gen(spark, tmp_path):
    """Regression: fresh doc_idx must start past every idx EVER assigned,
    not past max(live) — a delete-heavy generation shrinks the live max,
    and a later create/update that recycled a tombstoned idx was silently
    masked by the cumulative dead set (unsearchable new docs)."""
    t = synth_transcripts(spark, 30, seed=3).cache()
    path = str(tmp_path / "recycle_idx")
    write_encoded_index(
        build_index_transcripts(t, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    docs = with_doc_id(t).cache()
    dead = docs.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0
    ).select("doc_id")
    assert delete_by_query(spark, path, dead) is not None
    ids = [r.doc_id for r in
           docs.select("doc_id").orderBy("doc_id").limit(4).collect()]
    upd = (docs.filter(F.col("doc_id").isin(ids))
           .select("doc_id",
                   F.concat("text", F.lit(" recycleprobe")).alias("text")))
    rec = update_by_query(spark, path, upd)
    live_ids = sorted(r.doc_id for r in
                      upd.join(dead, "doc_id", "left_anti")
                      .select("doc_id").collect())
    assert rec["n_changed"] == len(live_ids)
    reader = IndexReader(spark, path, cache=False)
    for kernel in ("exact", "wand"):
        hits = reader.topk(
            [{"query_id": "m", "query_text": "recycleprobe", "k": 10}],
            kernel=kernel,
        ).collect()
        assert sorted(r.doc_id for r in hits) == live_ids, kernel


def test_tombstones_equal_ledger_rows_along_chain(spark, tmp_path):
    """Each generation's `tombstones/` holds exactly the doc_idx its
    ledger deletes or updates — the live docmap's idx of those docs just
    before the generation — along an update -> delete_by_query -> update
    chain; the generation set's dead ids are their union. Tier-1 cost:
    one build and three generations, ~15 s."""
    from connectors_spark.operators.delta import incremental_update
    from connectors_spark.operators.index import Generations

    t0 = synth_transcripts(spark, 20, seed=13).cache()
    path = str(tmp_path / "tomb_idx")
    write_encoded_index(build_index_transcripts(t0, with_positions=False),
                        path, n_buckets=8, shard_cap=300)
    h = F.pmod(F.xxhash64(F.concat_ws(":", "conv_id", "turn_idx")),
               F.lit(7))

    def bump(df, cond):
        return (df.withColumn("text", F.when(
                    cond, F.concat("text", F.lit(" tombprobe")))
                    .otherwise(F.col("text")))
                .withColumn("ts", F.when(
                    cond, F.col("ts") + F.expr("INTERVAL 1 HOUR"))
                    .otherwise(F.col("ts"))))

    def ids(cond):
        return {r.doc_id for r in
                with_doc_id(t0.filter(cond)).select("doc_id").collect()}

    def live_idx():
        gens = Generations(spark, path, read_meta(path)["deltas"])
        return {r.doc_id: r.doc_idx for r in
                gens.live_docmap().select("doc_id", "doc_idx").collect()}

    s1 = bump(t0.filter(h != 0), h == 1)
    steps = [
        # gen 1: drop h == 0, update h == 1
        (lambda: incremental_update(spark, path, s1), ids(h.isin(0, 1))),
        # gen 2: delete h == 2 plus already-deleted h == 0 (not live)
        (lambda: delete_by_query(
            spark, path, with_doc_id(t0.filter(h.isin(0, 2)))), ids(h == 2)),
        # gen 3: drop the deleted h == 2 again, update h == 3
        (lambda: incremental_update(
            spark, path, bump(s1.filter(h != 2), h == 3)), ids(h == 3)),
    ]
    union = set()
    for gen, (step, touched) in enumerate(steps, start=1):
        assert touched
        before = live_idx()
        exp = sorted(before[d] for d in touched)
        rec = step()
        assert rec["gen"] == gen and rec["n_tombstones"] == len(exp)
        got = sorted(r.doc_idx for r in spark.read.parquet(
            f"{path}/delta/{gen}/tombstones").collect())
        assert got == exp, gen
        union |= set(exp)
    gens = Generations(spark, path, read_meta(path)["deltas"])
    assert gens.dead_ids().tolist() == sorted(union)


def test_compaction_after_maintenance(spark, maint, tmp_path):
    """compact_index folds delete-only + update generations into a fresh
    single-gen index that still matches the head-snapshot oracle."""
    path, _, _, oracle2 = maint
    out = str(tmp_path / "compacted")
    compact_index(spark, path, out)
    meta = read_meta(out)
    assert meta["deltas"] == [] and meta["n_docs"] == oracle2.n_docs
    _assert_identical(IndexReader(spark, out, cache=False), oracle2)


def test_reshard_rank_identity_and_guards(spark, tmp_path):
    """reshard_index (ES _split/_shrink): resized indexes answer
    rank-identically at any bucket count; deltas are rejected."""
    from connectors_spark.operators.index import (
        read_meta as _rm,
        reshard_index,
        write_encoded_index,
    )

    t = synth_transcripts(spark, 25, seed=5).cache()
    path = str(tmp_path / "src")
    write_encoded_index(
        build_index_transcripts(t, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    docs = with_doc_id(t)
    oracle = _oracle_for(docs.select("doc_id", "text").collect())
    for nb in (1, 3, 32):
        out = str(tmp_path / f"resized_{nb}")
        reshard_index(spark, path, out, nb)
        assert _rm(out)["n_buckets"] == nb
        _assert_identical(IndexReader(spark, out, cache=False), oracle)
        _assert_identical(IndexReader(spark, out, cache=False), oracle,
                          kernel="exact")
    # delta generations must be compacted away first
    dead = docs.limit(0).select("doc_id")  # no-op delete returns None
    assert delete_by_query(spark, path, dead) is None
    real_dead = docs.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(7)) == 0).select("doc_id")
    assert delete_by_query(spark, path, real_dead) is not None
    with pytest.raises(ValueError, match="compacted"):
        reshard_index(spark, path, str(tmp_path / "bad"), 4)
