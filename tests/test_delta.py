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
def updated_run(spark, tmp_path_factory):
    """(path, s1, oracle, jobs, temp_files): the module's updated index,
    the Spark jobs its incremental_update submitted and how many files
    that update left in the driver's temp dir."""
    import os

    path = str(tmp_path_factory.mktemp("delta_idx"))
    s0, s1 = _snapshots(spark)
    write_encoded_index(
        build_index_transcripts(s0, with_positions=False), path,
        n_buckets=8, shard_cap=300,
    )
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    recs = []
    jobs = _jobs_in(spark,
                    lambda: recs.append(incremental_update(spark, path, s1)))
    temp_files = len(os.listdir(temp_dir)) - before
    rec = recs[0]
    assert rec is not None and rec["gen"] == 1 and rec["n_changed"] > 0
    rows = with_doc_id(s1).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    return path, s1, oracle, jobs, temp_files


@pytest.fixture(scope="module")
def updated(updated_run):
    return updated_run[:3]


_RANK_QUERIES = synth_queries(30, seed=5) + [
    {"query_id": "fresh", "query_text": "freshterm", "k": 10},
    {"query_id": "hot", "query_text": "t00001 t00002", "k": 10},
]


def _check_rank_identity(spark, path, oracle, kernel):
    queries = _RANK_QUERIES
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


def _assert_one_file_per_bucket(post_dir: str) -> None:
    import os

    bucket_dirs = [d for d in os.listdir(post_dir) if d.startswith("bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(post_dir, d))
                 if f.endswith(".parquet") and not f.startswith(".")]
        assert len(files) == 1, (d, files)


def test_nonpositional_base_writes_nonpositional_deltas(spark, updated):
    """A with_positions=False build records positions: False, so its
    delta generation takes the non-positional writer: one file per
    bucket dir and no positions in the encoded rows."""
    path, _, _ = updated
    assert read_meta(path)["positions"] is False
    post = f"{path}/delta/1/postings"
    _assert_one_file_per_bucket(post)
    assert spark.read.parquet(post).filter(
        F.col("positions").isNotNull()).count() == 0


def _index_copy(path: str, dst) -> str:
    import shutil

    out = str(dst / "copy")
    shutil.copytree(path, out)
    return out


def test_delta_manifest_hides_zombie_attempt_files(spark, updated, tmp_path):
    """A delta generation commits through the direct write: its files
    are resolved from `delta/<gen>/postings_manifest.json`, so a file a
    losing task attempt leaves in a delta bucket dir is invisible to the
    reader and to compaction. Tier-1 cost: one top-k, one compaction,
    ~8 s."""
    import glob
    import json
    import os
    import shutil

    path, _, oracle = updated
    path = _index_copy(path, tmp_path)
    gdir = os.path.join(path, "delta", "1")
    with open(os.path.join(gdir, "postings_manifest.json")) as f:
        files = json.load(f)["files"]
    assert sorted(files) == sorted(
        os.path.relpath(p, os.path.join(gdir, "postings"))
        for p in glob.glob(f"{gdir}/postings/bucket=*/*.parquet"))
    victim = os.path.join(gdir, "postings", files[0])
    zombie = victim.replace("-a0.parquet", "-a1.parquet")
    assert zombie != victim
    # a duplicate of the winner: read, it would double every posting
    shutil.copyfile(victim, zombie)
    _check_rank_identity(spark, path, oracle, "exact")
    out = str(tmp_path / "compacted")
    compact_index(spark, path, out)
    _check_rank_identity(spark, out, oracle, "wand")


def test_committer_written_delta_still_opens(spark, updated, tmp_path):
    """A delta generation written by Spark's committer (partitionBy
    bucket, no manifest — a cluster write, or a delta from before deltas
    took the direct write) opens through the directory read in one
    job and ranks as the direct-written one does. Tier-1 cost: ~5 s."""
    import os
    import shutil

    from connectors_spark.operators.index import read_postings

    path, _, oracle = updated
    path = _index_copy(path, tmp_path)
    gdir = os.path.join(path, "delta", "1")
    legacy = str(tmp_path / "legacy_postings")
    read_postings(spark, gdir).write.partitionBy("bucket").parquet(legacy)
    shutil.rmtree(os.path.join(gdir, "postings"))
    os.remove(os.path.join(gdir, "postings_manifest.json"))
    shutil.move(legacy, os.path.join(gdir, "postings"))
    assert _jobs_in(spark, lambda: IndexReader(spark, path, cache=False)) == 1
    _check_rank_identity(spark, path, oracle, "wand")


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
    broke phrases whose terms had delta postings) and after compacting
    the generations back into one (compaction carries positions)."""
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
    exp = oracle.phrase_query(phrase, 10)
    assert exp

    def check(index_path):
        reader = IndexReader(spark, index_path, cache=False)
        got = sorted(
            reader.phrase_topk(
                [{"query_id": "p", "query_text": phrase, "k": 10}]
            ).collect(),
            key=lambda r: r.rank,
        )
        assert [g.doc_id for g in got] == [d for d, _ in exp]
        for g, (_, s) in zip(got, exp):
            assert g.score == pytest.approx(s, rel=1e-9)

    check(path)
    out = str(tmp_path / "pidx_compacted")
    compact_index(spark, path, out)
    assert read_meta(out)["positions"] is True
    check(out)


@pytest.fixture(scope="module")
def live_df_index(spark, tmp_path_factory):
    """A positional base + one delta where 'gonezz' loses every posting
    (two of its docs deleted, the third rewritten without it), 'deltazz'
    exists only in the delta, and 'nowherezz' is nowhere. Returns (path,
    oracle on the new snapshot, Spark jobs of the update)."""
    from datetime import datetime, timedelta

    from connectors_spark.schema import TRANSCRIPTS_SCHEMA

    t0 = datetime(2024, 1, 1)
    base = synth_transcripts(spark, 20, seed=17)

    def conv(conv_id, turns, ts):
        return spark.createDataFrame(
            [(conv_id, i, "user", text, None, ts) for i, text in turns],
            TRANSCRIPTS_SCHEMA)

    s0 = base.unionByName(conv("conv-gone", [
        (0, "gonezz alphazz t00001"), (1, "gonezz alphazz"),
        (2, "gonezz t00002")], t0))
    s1 = (base.unionByName(conv("conv-gone", [(2, "rewritten t00002")],
                                t0 + timedelta(hours=1)))
          .unionByName(conv("conv-new", [(0, "deltazz betazz t00001"),
                                         (1, "deltazz betazz")], t0)))
    path = str(tmp_path_factory.mktemp("live_df_idx"))
    write_encoded_index(build_index_transcripts(s0, with_positions=True),
                        path, n_buckets=8, shard_cap=300)
    recs = []
    jobs = _jobs_in(spark,
                    lambda: recs.append(incremental_update(spark, path, s1)))
    rec = recs[0]
    assert (rec["created"], rec["updated"], rec["deleted"]) == (2, 1, 2)
    rows = with_doc_id(s1).select("doc_id", "text").collect()
    return path, OracleIndex([(r.doc_id, r.text) for r in rows]), jobs


_LIVE_DF_QUERIES = [
    {"query_id": "gone", "query_text": "gonezz", "k": 10},
    {"query_id": "gone_or", "query_text": "gonezz t00001", "k": 10},
    {"query_id": "delta", "query_text": "deltazz", "k": 10},
    {"query_id": "delta_or", "query_text": "deltazz t00002", "k": 10},
    {"query_id": "absent", "query_text": "nowherezz", "k": 10},
    {"query_id": "absent_or", "query_text": "nowherezz t00001", "k": 10},
]


def _ranked(rows) -> list[tuple]:
    return sorted((r[0], r[1], r[2], r[3]) for r in rows)


def _assert_same_ranking(got: list[tuple], exp: list[tuple]) -> None:
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-9)


@pytest.mark.parametrize("kernel", ["exact", "wand"])
def test_live_df_terms_match_oracle(spark, live_df_index, kernel):
    """The reader scores with the live df of the one-job term pre-pass:
    a fully tombstoned term drops out of OR queries and empties AND
    queries, a delta-only term and an absent term score as in an oracle
    built on the new snapshot, and topk_local equals topk."""
    path, oracle, _ = live_df_index
    reader = IndexReader(spark, path, cache=False)
    info = reader._term_info(["gonezz", "deltazz", "nowherezz"])
    assert info["gonezz"][1] == 3 and info["gonezz"][2] == 0
    assert info["deltazz"][1:] == (2, 2)
    assert info["nowherezz"] == (0, 0, 0)

    exp = _ranked(oracle.score_queryset(_LIVE_DF_QUERIES))
    assert not [e for e in exp if e[0] in ("gone", "absent")]
    got = _ranked(reader.topk(_LIVE_DF_QUERIES, kernel=kernel).collect())
    _assert_same_ranking(got, exp)
    _assert_same_ranking(
        _ranked(reader.topk_local(_LIVE_DF_QUERIES, kernel=kernel)), got)

    and_q = [{"query_id": "and", "query_text": "gonezz alphazz", "k": 10},
             {"query_id": "and_delta", "query_text": "deltazz betazz",
              "k": 10}]
    got = _ranked(reader.topk(and_q, kernel=kernel, mode="and").collect())
    exp = _ranked((q["query_id"], r, d, sc) for q in and_q for r, (d, sc)
                  in enumerate(oracle.score_query(q["query_text"], 10,
                                                  mode="and"), start=1))
    assert exp and not [e for e in exp if e[0] == "and"]
    _assert_same_ranking(got, exp)


def test_live_df_phrases_match_oracle(spark, live_df_index):
    """phrase_topk on the live df: a phrase over a fully tombstoned term
    or an absent term returns nothing; a delta-only phrase scores as in
    the oracle."""
    path, oracle, _ = live_df_index
    reader = IndexReader(spark, path, cache=False)
    phrases = {"gone": "gonezz alphazz", "delta": "deltazz betazz",
               "absent": "nowherezz t00001"}
    got = reader.phrase_topk([{"query_id": q, "query_text": t, "k": 10}
                              for q, t in phrases.items()]).collect()
    exp = [(q, r, d, sc) for q, t in phrases.items()
           for r, (d, sc) in enumerate(oracle.phrase_query(t, 10), start=1)]
    assert {e[0] for e in exp} == {"delta"}
    _assert_same_ranking(_ranked(got), _ranked(exp))


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    """A positional base holding `conv-base:0` = "alpha beta" and
    `conv-other:0`, plus one delta adding `conv-a000:0` ... `conv-a015:0`,
    all "alpha beta", and `conv-z:0` = "beta". Every alpha doc ties on
    score, and the delta's docs sort before `conv-base:0` by doc_id but
    get larger doc_idx. For "beta", `conv-z:0` (the shortest doc, so the
    best score) gets the delta's last doc_idx: a WAND heap already full
    of tied docs pushes one out for it. shard_cap=8 gives the delta's
    "alpha" 2 shards and its "beta" 4, so the ties split over G = 2 and
    G = 4 doc-space groups in `topk`. Returns (path, oracle on the new
    snapshot)."""
    from datetime import datetime

    from connectors_spark.schema import TRANSCRIPTS_SCHEMA

    ts = datetime(2024, 1, 1)

    def convs(texts):
        return spark.createDataFrame(
            [(c, 0, "user", text, None, ts) for c, text in texts],
            TRANSCRIPTS_SCHEMA)

    base = [("conv-base", "alpha beta"), ("conv-other", "gamma delta")]
    s1 = convs(base + [(f"conv-a{i:03d}", "alpha beta") for i in range(16)]
               + [("conv-z", "beta")])
    path = str(tmp_path_factory.mktemp("tie_idx"))
    write_encoded_index(build_index_transcripts(convs(base),
                                                with_positions=True),
                        path, n_buckets=4, shard_cap=8)
    assert incremental_update(spark, path, s1)["created"] == 17
    rows = with_doc_id(s1).select("doc_id", "text").collect()
    return path, OracleIndex([(r.doc_id, r.text) for r in rows])


_TIE_PATHS = {
    "topk-exact": lambda r, q: r.topk(q, kernel="exact").collect(),
    "topk-wand": lambda r, q: r.topk(q, kernel="wand").collect(),
    "topk_local-exact": lambda r, q: r.topk_local(q, kernel="exact"),
    "topk_local-wand": lambda r, q: r.topk_local(q, kernel="wand"),
    "phrase_topk": lambda r, q: r.phrase_topk(q).collect(),
}


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.parametrize("reader_path", sorted(_TIE_PATHS))
def test_cross_generation_ties_rank_by_doc_id(spark, tie_index,
                                               reader_path, k):
    """Docs tied on score rank doc_id ASC even when they sit in different
    generations, on every reader path: at k=1 "alpha" answers the delta's
    `conv-a000:0`, not the base's `conv-base:0` (whose doc_idx is
    smaller). "beta" puts `conv-z:0` above the tie: at k=1 it raises the
    k-th score past every tied doc, at k=3 it pushes a tied doc out of a
    full heap, which must still reach the merge. Tier-1 cost: one tiny
    base build and update, then one query batch per case, ~1-2 s each."""
    path, oracle = tie_index
    phrase = reader_path == "phrase_topk"
    texts = {"qa": "alpha beta"} if phrase else {"qa": "alpha", "qb": "beta"}
    got = _ranked(_TIE_PATHS[reader_path](
        IndexReader(spark, path, cache=False),
        [{"query_id": q, "query_text": t, "k": k} for q, t in texts.items()]))
    exp = []
    for q, text in texts.items():
        hits = (oracle.phrase_query(text, k) if phrase
                else oracle.score_query(text, k))
        exp += [(q, r, d, s) for r, (d, s) in enumerate(hits, start=1)]
    ties = [f"conv-a{i:03d}:0" for i in range(k)]
    assert [e[2] for e in exp if e[0] == "qa"] == ties
    if not phrase:
        assert [e[2] for e in exp if e[0] == "qb"] == ["conv-z:0"] + ties[:-1]
    _assert_same_ranking(got, exp)


# incremental_update on the positional `live_df_index` fixture: 24 jobs
# with the one delta writer (positions from `_token_entries`), 30 with the
# separate build_index-based positional writer it replaced
POSITIONAL_UPDATE_MAX_JOBS = 24


def test_positional_generation_content_and_jobs(spark, live_df_index):
    """A positional generation goes through the one delta writer: its
    decoded (term, doc_id, tf, positions) equal an oracle built on the
    changed docs alone, and the update's Spark jobs stay pinned.
    Tier-1 cost: ~2 s (reads the module fixture)."""
    import os

    from connectors_spark.functions.codec import (
        decode_shard, decode_shard_positions)

    path, _, jobs = live_df_index
    assert jobs <= POSITIONAL_UPDATE_MAX_JOBS
    changed = OracleIndex([("conv-gone:2", "rewritten t00002"),
                           ("conv-new:0", "deltazz betazz t00001"),
                           ("conv-new:1", "deltazz betazz")])
    gdir = os.path.join(path, "delta", "1")
    dm = {r.doc_idx: r.doc_id
          for r in spark.read.parquet(f"{gdir}/docmap").collect()}
    got = {}
    for row in spark.read.parquet(f"{gdir}/postings").toPandas() \
            .to_dict("records"):
        d, tf, _ = decode_shard(row)
        pos = decode_shard_positions(row, tf=tf)
        for i, t, p in zip(d.tolist(), tf.tolist(), pos):
            got[(row["term"], dm[i])] = (t, p.tolist())
    exp = {(term, d): (tf, changed.positions[term][d])
           for term, docs in changed.postings.items()
           for d, tf in docs.items()}
    assert got == exp


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
    from connectors_spark.operators.index import Generations
    n_live = Generations(spark, path, meta["deltas"]).live_docmap().count()
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
    _assert_one_file_per_bucket(os.path.join(gdir, "postings"))

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


def _jobs_in(spark, fn) -> int:
    """Spark jobs `fn` submits, counted by a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# compact_index on the `updated` fixture submitted 13 jobs when this pin
# was set (tombstone read, docmap write, remap + encode stages of the
# direct write); the rebuild it replaced submitted 27-28
COMPACT_MAX_JOBS = 13
# incremental_update on the `updated` fixture: 24 jobs with the sync
# ledger (one persisted classify join; one aggregation for every counter;
# tombstones a filter of it; one tombstone read); 29 with the separate
# op-count collect, tombstone semi-join write, survivor-stats join and
# two tombstone reads it replaced
UPDATE_MAX_JOBS = 24
# IndexReader.topk of the rank-identity batch on a fresh reader: 6 jobs
# with the one-job term pre-pass and the Arrow-built qterms; 9 before
TOPK_MAX_JOBS = 6


def test_sync_job_counts(spark, updated_run, tmp_path):
    """Opening a reader reads every generation with pinned schemas and
    all tombstones in one read: base + 1 delta costs exactly one Spark
    job. The update's counters come from one ledger aggregation, the
    term pre-pass is one exchange-free job, and compaction stays a remap.
    The update and the compaction destroy their tombstone broadcasts,
    so neither leaves a pickled tombstone set in the driver's temp dir.
    Tier-1 cost: one compaction and one 32-query top-k, ~9 s; the
    update's numbers are taken in the module fixture, at no extra cost."""
    import os

    path, _, _, update_jobs, update_temp_files = updated_run
    assert update_jobs <= UPDATE_MAX_JOBS
    assert update_temp_files <= 0
    assert _jobs_in(spark, lambda: IndexReader(spark, path, cache=False)) == 1
    reader = IndexReader(spark, path, cache=False)
    assert _jobs_in(spark, lambda: reader._term_info(
        ["freshterm", "t00001", "t00002", "nowhere"])) == 1
    reader = IndexReader(spark, path, cache=False)
    assert _jobs_in(spark, lambda: reader.topk(_RANK_QUERIES).collect()) \
        <= TOPK_MAX_JOBS
    out = str(tmp_path / "compacted")
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    assert _jobs_in(spark, lambda: compact_index(spark, path, out)) \
        <= COMPACT_MAX_JOBS
    assert len(os.listdir(temp_dir)) <= before
