"""M3/M4: compressed index + WAND — rank identity vs oracle and vs the
DataFrame scorer, with hot-term sharding forced on (tiny shard_cap)."""

import os

import numpy as np
import pytest

from connectors_spark.functions.codec import decode_shard
from connectors_spark.operators.build import build_index_transcripts, with_doc_id
from connectors_spark.operators.index import query_index, write_encoded_index
from connectors_spark.oracle import OracleIndex
from connectors_spark.synth import synth_queries, synth_transcripts

N_CONVS = 120
N_QUERIES = 50


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index"))
    t = synth_transcripts(spark, N_CONVS, seed=42).cache()
    idx = build_index_transcripts(t, with_positions=False)
    # shard_cap=200 forces multi-shard encoding for the Zipf head
    write_encoded_index(idx, path, n_buckets=8, shard_cap=200)
    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    return path, oracle


def _assert_rank_identical(got_rows, exp, check_scores=True):
    got = sorted(got_rows, key=lambda r: (r.query_id, r.rank))
    assert len(got) == len(exp), (len(got), len(exp))
    for g, e in zip(got, exp):
        assert (g.query_id, g.rank, g.doc_id) == (e[0], e[1], e[2]), (g, e)
        if check_scores:
            assert g.score == pytest.approx(e[3], rel=1e-9)


@pytest.mark.parametrize("kernel", ["exact", "wand", "auto"])
def test_kernels_rank_identical_to_oracle(spark, built, kernel):
    path, oracle = built
    queries = synth_queries(N_QUERIES, seed=42)
    got = query_index(spark, path, queries, kernel=kernel).collect()
    exp = oracle.score_queryset(queries)
    _assert_rank_identical(got, exp)


def test_sharding_actually_happened(spark, built):
    path, _ = built
    enc = spark.read.parquet(f"{path}/postings")
    multi = enc.groupBy("term").count().filter("count > 1").count()
    assert multi > 0, "expected hot terms split into multiple shards"
    # shards of one term are disjoint and union to df
    import pyspark.sql.functions as F
    bad = (
        enc.groupBy("term")
        .agg(F.sum("n_docs").alias("s"), F.first("df").alias("d"))
        .filter("s <> d")
        .count()
    )
    assert bad == 0


def test_roundtrip_postings_equal_uncompressed(spark, built):
    path, oracle = built
    enc = spark.read.parquet(f"{path}/postings").filter("term = 't00001'")
    rows = enc.collect()
    docmap = {r.doc_idx: r.doc_id for r in
              spark.read.parquet(f"{path}/docmap").collect()}
    got = {}
    for r in rows:
        d, tf, dl = decode_shard(r.asDict())
        for di, t in zip(d, tf):
            got[docmap[int(di)]] = int(t)
    assert got == oracle.postings["t00001"]


def test_wand_on_hot_only_query(spark, built):
    """All-stopword-class query: WAND pruning path with full-corpus lists."""
    path, oracle = built
    queries = [{"query_id": "hot", "query_text": "t00001 t00002 t00003", "k": 10}]
    got = query_index(spark, path, queries, kernel="wand").collect()
    exp = oracle.score_queryset(queries)
    _assert_rank_identical(got, exp)


def test_k_larger_than_matches(spark, built):
    path, oracle = built
    q = [{"query_id": "rare", "query_text": "t49999 t49998", "k": 100}]
    got = query_index(spark, path, q, kernel="wand").collect()
    exp = oracle.score_queryset(q)
    _assert_rank_identical(got, exp)


def test_topk_local_serving_path(spark, built):
    from connectors_spark.operators.index import IndexReader

    path, oracle = built
    queries = synth_queries(20, seed=11)
    reader = IndexReader(spark, path, cache=False)
    got = sorted(reader.topk_local(queries, kernel="auto"),
                 key=lambda t: (t[0], t[1]))
    exp = sorted(oracle.score_queryset(queries), key=lambda e: (e[0], e[1]))
    assert [(g[0], g[1], g[2]) for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-9)


def test_fast_builder_rank_identical(spark, tmp_path):
    """build_and_write_index (fused fast path) == oracle, including
    hot-term sharding."""
    from connectors_spark.operators.index import IndexReader, build_and_write_index

    path = str(tmp_path / "fastidx")
    t = synth_transcripts(spark, 80, seed=13).cache()
    meta = build_and_write_index(t, path, n_buckets=8, shard_cap=200)
    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    queries = synth_queries(25, seed=21)
    got = sorted(
        IndexReader(spark, path, cache=False).topk(queries, kernel="auto").collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    exp = sorted(oracle.score_queryset(queries), key=lambda e: (e[0], e[1]))
    _assert_rank_identical(got, exp)


def _decoded(spark, path):
    """{(term, doc_id, tf, dl, df, n_shards)} of an encoded index. The
    shard is left out: it is doc_idx mod n_shards, and doc_idx differs
    between any two builds."""
    from connectors_spark.operators.index import read_postings

    dm = {r.doc_idx: r.doc_id
          for r in spark.read.parquet(f"{path}/docmap").collect()}
    got = set()
    for r in read_postings(spark, path).collect():
        d, tf, dl = decode_shard(r.asDict())
        got |= {(r.term, dm[int(i)], int(f), int(n), r.df, r.n_shards)
                for i, f, n in zip(d, tf, dl)}
    return got


def test_fused_build_equals_write_encoded_index(spark, tmp_path):
    """The two writers of a non-positional index agree on the same
    input: build_and_write_index and write_encoded_index of
    build_index_transcripts give equal meta.json, docmap (doc_id, dl)
    and decoded postings, hot-term shards included. Tier-1 cost: two
    40-conv writes, ~6 s."""
    from connectors_spark.operators.index import (
        build_and_write_index, read_meta,
    )

    t = synth_transcripts(spark, 40, seed=19).cache()
    d1, d2 = str(tmp_path / "fused"), str(tmp_path / "frames")
    build_and_write_index(t, d1, n_buckets=8, shard_cap=100)
    write_encoded_index(build_index_transcripts(t, with_positions=False),
                        d2, n_buckets=8, shard_cap=100)
    assert read_meta(d1) == read_meta(d2)

    def docmap(path):
        return sorted((r.doc_id, r.dl) for r in spark.read.parquet(
            f"{path}/docmap").collect())

    assert docmap(d1) == docmap(d2)
    got = _decoded(spark, d1)
    assert any(p[5] > 1 for p in got)
    assert got == _decoded(spark, d2)


def test_write_encoded_index_leaves_caller_cache(spark, tmp_path):
    """write_encoded_index neither persists nor releases anything of its
    own: the index's cached entries and lexicon stay as they were (the
    gates reuse one cached index across writes), and a second write of
    the same index decodes equal to the first. Tier-1 cost: two 30-conv
    writes, ~5 s."""
    idx = build_index_transcripts(synth_transcripts(spark, 30, seed=23),
                                  with_positions=False)
    idx.lexicon.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_encoded_index(idx, d1, n_buckets=8, shard_cap=100)
    assert jsc.getPersistentRDDs().size() == before
    write_encoded_index(idx, d2, n_buckets=8, shard_cap=100)
    assert jsc.getPersistentRDDs().size() == before
    got = _decoded(spark, d1)
    assert got and got == _decoded(spark, d2)
    idx.unpersist()


def test_write_encoded_index_rejects_derived_frames(spark, tmp_path):
    """Frames derived from another index carry no token entries, and
    encoding their source's entries would silently undo the derivation:
    write_encoded_index raises ValueError naming the cause and writes
    nothing. Tier-1 cost: one 10-conv build, ~2 s."""
    from connectors_spark.operators.build import static_prune_postings
    from connectors_spark.operators.query import with_lossy_norms

    idx = build_index_transcripts(synth_transcripts(spark, 10, seed=29),
                                  with_positions=False)
    for derived in (static_prune_postings(idx, keep_n=5),
                    with_lossy_norms(idx)):
        path = str(tmp_path / "derived")
        with pytest.raises(ValueError, match="no token entries"):
            write_encoded_index(derived, path, n_buckets=4)
        assert not os.path.exists(path)
    idx.unpersist()


def test_phrase_topk_compressed_vs_oracle(spark, tmp_path):
    """Exact-phrase retrieval through the positional compressed index."""
    from connectors_spark.operators.build import build_index
    from connectors_spark.operators.index import IndexReader, write_encoded_index

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown dogs and a brown fox"),
            (3, "the fox is quick and brown but never a brown fox"),
            (4, "brown the fox quick"),  # words present, phrase absent
            (5, "a quick brown fox a quick brown fox"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "pidx")
    idx = build_index(docs.withColumn("doc_id", docs.doc_id.cast("string")),
                      with_positions=True)
    write_encoded_index(idx, path, n_buckets=4, shard_cap=100)
    reader = IndexReader(spark, path, cache=False)

    from connectors_spark.oracle import OracleIndex
    oracle = OracleIndex([(str(r.doc_id), r.text) for r in docs.collect()])

    for phrase in ["quick brown fox", "brown fox", "lazy dog", "fox the"]:
        got = sorted(
            reader.phrase_topk(
                [{"query_id": "p", "query_text": phrase, "k": 10}]
            ).collect(),
            key=lambda r: r.rank,
        )
        exp = oracle.phrase_query(phrase, 10)
        assert [g.doc_id for g in got] == [d for d, _ in exp], phrase
        for g, (_, s) in zip(got, exp):
            assert g.score == pytest.approx(s, rel=1e-9)
    # phrase with words present but never adjacent
    got = reader.phrase_topk(
        [{"query_id": "p", "query_text": "dog quick", "k": 5}]
    ).collect()
    assert got == []


@pytest.mark.parametrize("kernel", ["exact", "wand"])
def test_hot_term_query_spreads_over_groups(spark, tmp_path, kernel):
    """The distributed top-k must split a hot-term query across >1
    doc-space group (no single-task concentration of a Zipf-head posting
    list) while staying rank-identical to the oracle."""
    from connectors_spark.operators.index import (
        IndexReader, bucket_of, build_and_write_index,
    )

    path = str(tmp_path / "hotidx")
    t = synth_transcripts(spark, N_CONVS, seed=3).cache()
    build_and_write_index(t, path, n_buckets=8, shard_cap=64)
    reader = IndexReader(spark, path, cache=False)

    terms = ["t00001", "t00002"]
    info = reader._term_info(terms)
    assert info["t00001"][0] > 1, "hot term must be sharded for this test"

    # partial stage: more than one group actually produces output
    gq = max(i[0] for i in info.values())
    qrows = [("hot", 10, tm, gq, info[tm][1]) for tm in terms if info[tm][1] > 0]
    qterms = spark.createDataFrame(
        qrows, "query_id string, k int, term string, g_total int, df_total long"
    )
    buckets = sorted({bucket_of(tm, reader.meta["n_buckets"]) for tm in terms})
    partials = reader._topk_partials(qterms, buckets, kernel)
    assert partials.select("grp").distinct().count() > 1

    # merged result rank-identical (scores bit-equal) to the oracle
    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    queries = [{"query_id": "hot", "query_text": "t00001 t00002", "k": 10}]
    got = reader.topk(queries, kernel=kernel).collect()
    _assert_rank_identical(got, oracle.score_queryset(queries))


def test_phrase_topk_distributed_on_sharded_index(spark, tmp_path):
    """Phrase retrieval through a hot-term-sharded positional index:
    distributed group kernels must agree with the oracle."""
    from connectors_spark.operators.build import build_index
    from connectors_spark.operators.index import IndexReader, write_encoded_index

    t = synth_transcripts(spark, N_CONVS, seed=9).cache()
    docs = with_doc_id(t).select("doc_id", "text")
    path = str(tmp_path / "pidx2")
    write_encoded_index(
        build_index(docs, with_positions=True), path, n_buckets=8, shard_cap=64
    )
    reader = IndexReader(spark, path, cache=False)
    rows = docs.collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    # pick a phrase that actually occurs: first two tokens of some doc
    sample = next(r.text for r in rows if len(r.text.split()) >= 2)
    phrase = " ".join(sample.split()[:2])
    got = sorted(
        reader.phrase_topk([{"query_id": "p", "query_text": phrase, "k": 10}]).collect(),
        key=lambda r: r.rank,
    )
    exp = oracle.phrase_query(phrase, 10)
    assert [g.doc_id for g in got] == [d for d, _ in exp]
    for g, (_, s) in zip(got, exp):
        assert g.score == pytest.approx(s, rel=1e-9)


@pytest.mark.parametrize("kernel", ["exact", "wand"])
def test_group_cap_below_shard_count(spark, tmp_path, kernel):
    """max_groups below the hot term's shard count exercises the
    shard%G routing branch (several shards of one term per group) —
    must stay rank-identical to the oracle."""
    from connectors_spark.operators.index import IndexReader, build_and_write_index

    path = str(tmp_path / "capidx")
    t = synth_transcripts(spark, N_CONVS, seed=3).cache()
    build_and_write_index(t, path, n_buckets=8, shard_cap=64)
    reader = IndexReader(spark, path, cache=False)
    info = reader._term_info(["t00001"])
    assert info["t00001"][0] > 2, "need >2 shards to cap below"

    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    queries = [{"query_id": "hot", "query_text": "t00001 t00002", "k": 10}]
    got = reader.topk(queries, kernel=kernel, max_groups=2).collect()
    _assert_rank_identical(got, oracle.score_queryset(queries))


def test_conjunctive_mode_through_compressed_index(spark, built):
    """mode='and' on the compressed path == oracle conjunctive scoring;
    queries with an absent must-term return nothing."""
    from connectors_spark.operators.index import IndexReader

    path, oracle = built
    reader = IndexReader(spark, path, cache=False)
    queries = synth_queries(20, seed=31) + [
        {"query_id": "hot", "query_text": "t00001 t00002", "k": 10},
        {"query_id": "none", "query_text": "t00001 zznope", "k": 10},
    ]
    got = sorted(reader.topk(queries, mode="and").collect(),
                 key=lambda r: (r.query_id, r.rank))
    exp = sorted(
        (it for q in queries
         for it in [(q["query_id"], r + 1, d, s) for r, (d, s) in enumerate(
             oracle.score_query(q["query_text"], q["k"], mode="and"))]),
        key=lambda e: (e[0], e[1]),
    )
    assert [(g.query_id, g.rank, g.doc_id) for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g.score == pytest.approx(e[3], rel=1e-9)
    assert not any(g.query_id == "none" for g in got)


def test_topk_local_term_cache_lru_bounded(spark, tmp_path):
    """The serving-tier term cache must not grow per distinct term
    forever (VERDICT r2 item 4): with a tiny byte budget, driving many
    distinct terms keeps the cache bounded, evicts LRU-first, and
    answers stay identical to a fresh (uncached) reader."""
    from connectors_spark.operators.build import build_index_transcripts
    from connectors_spark.operators.index import IndexReader, write_encoded_index
    from connectors_spark.synth import synth_transcripts

    path = str(tmp_path / "lruidx")
    t = synth_transcripts(spark, 40, seed=7)
    write_encoded_index(build_index_transcripts(t, with_positions=False),
                        path, n_buckets=16, shard_cap=1000)
    reader = IndexReader(spark, path)
    reader.term_cache_bytes = 4096  # tiny budget: force eviction

    # pull the real vocabulary so every query matches something
    vocab = sorted(
        r.term for r in reader.postings.select("term").distinct().collect()
    )[:30]
    assert len(vocab) >= 10
    results = {}
    for i, term in enumerate(vocab):
        got = reader.topk_local([{"query_id": f"q{i}", "query_text": term,
                                  "k": 5}])
        results[term] = [(r[2], round(r[3], 9)) for r in got]
    # bounded: far fewer cached terms than driven terms
    assert len(reader._term_cache) < len(vocab)
    assert reader._term_cache_used <= reader.term_cache_bytes + 8192
    # eviction did not corrupt answers: a fresh reader agrees on every term
    fresh = IndexReader(spark, path)
    for i, term in enumerate(vocab):
        got = fresh.topk_local([{"query_id": f"f{i}", "query_text": term,
                                 "k": 5}])
        assert [(r[2], round(r[3], 9)) for r in got] == results[term], term


def test_wand_theta_seed_skips_blocks_rank_identical(spark, tmp_path):
    """Two-level WAND merge (VERDICT r2 item 7): seeding the threshold
    from per-term block maxima must decode fewer (or equal) blocks and
    return IDENTICAL ranks — the seed is a proven lower bound on the
    global k-th best score, so pruning below it is loss-free."""
    import numpy as np

    from connectors_spark.operators import wand
    from connectors_spark.operators.build import build_index
    from connectors_spark.operators.index import IndexReader, write_encoded_index
    from connectors_spark.operators.score import idf_np

    # skewed corpus: every doc holds "common" once (varying dl), but a
    # scattered few hold it with huge tf — the global top-k lives in a
    # handful of blocks, the rest is prunable ONLY with a seeded theta
    # (an unseeded kernel must decode low blocks until its heap fills
    # with high scorers)
    rows = []
    for i in range(5000):
        if i % 1000 == 0:          # 5 high-tf docs, ~8 blocks apart
            text = " ".join(["common"] * 60)
        else:
            # low docs get SHORTER later in doc order, so low-block
            # maxima rise monotonically: an unseeded kernel's threshold
            # (filled from early, weak lows) can't prune later blocks,
            # while the seed (from the high-tf achievers) prunes them all
            filler = 41 - (i // 128)
            text = "common " + " ".join(f"f{i}x{j}" for j in range(filler))
        rows.append((f"d{i:05d}", text))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    path = str(tmp_path / "seedidx")
    write_encoded_index(build_index(docs, with_positions=False), path,
                        n_buckets=8, shard_cap=1 << 14)
    reader = IndexReader(spark, path, cache=False)
    meta = reader.meta
    pdf = reader.postings.toPandas()
    grp = pdf[pdf["term"] == "common"]
    df = int(grp["df"].iloc[0])
    shards = [(float(idf_np(meta["n_docs"], df)),
               [row for _, row in grp.iterrows()])]
    k = 3  # fewer winners than high-tf docs: the seed is a high bar
    args = (shards, k, meta["avgdl"], meta["k1"], meta["b"])

    wand.BLOCKS_DECODED = 0
    base = wand.topk_wand(*args)
    base_blocks = wand.BLOCKS_DECODED

    seed = wand._theta_seed(shards, k)
    assert seed > 0
    wand.BLOCKS_DECODED = 0
    seeded = wand.topk_wand(*args, theta_seed=seed)
    seeded_blocks = wand.BLOCKS_DECODED

    assert list(base[0]) == list(seeded[0])
    assert np.allclose(base[1], seeded[1])
    assert seeded_blocks <= base_blocks
    # the seed must actually buy skips on a hot-term corpus
    assert seeded_blocks < base_blocks, (seeded_blocks, base_blocks)


def test_direct_write_equals_committer_path(spark, tmp_path):
    """Task-side pyarrow writes (no Spark committer) must produce a
    byte-compatible index: same schema, same rows, rank-identical top-k
    as the classic partitionBy write (VERDICT r2 item 9 — the commit
    pass is a fixed driver cost that eats N->4N scaling)."""
    from connectors_spark.operators.index import (
        IndexReader, build_and_write_index,
    )
    from connectors_spark.synth import synth_queries, synth_transcripts

    t = synth_transcripts(spark, 80, seed=3)
    d1, d2 = str(tmp_path / "direct"), str(tmp_path / "classic")
    build_and_write_index(t, d1, n_buckets=16, shard_cap=1000,
                          direct_write=True)
    build_and_write_index(t, d2, n_buckets=16, shard_cap=1000,
                          direct_write=False)
    r1 = IndexReader(spark, d1, cache=False)
    r2 = IndexReader(spark, d2, cache=False)
    assert r1.postings.schema == r2.postings.schema
    assert r1.postings.count() == r2.postings.count()
    qs = synth_queries(20, seed=4)
    a = sorted((x.query_id, x.rank, x.doc_id, round(x.score, 9))
               for x in r1.topk(qs).collect())
    b = sorted((x.query_id, x.rank, x.doc_id, round(x.score, 9))
               for x in r2.topk(qs).collect())
    assert a == b and a


def test_direct_write_statistics_only_on_scalar_columns(spark, tmp_path):
    """Direct-written postings files carry min/max statistics on the
    scalar columns only (no read filters on the encoded streams): `term`
    has them, `doc_gaps` and the block lists do not. Decoded postings
    and a `term IN (...)` read equal the committer path's, whose files
    carry statistics on every column. Tier-1 cost: two 40-conv builds,
    ~6 s."""
    import glob as _glob

    import pyarrow.parquet as pq

    from connectors_spark.operators.index import (
        build_and_write_index, read_postings,
    )
    from connectors_spark.schema import sql_in

    t = synth_transcripts(spark, 40, seed=9)
    d1, d2 = str(tmp_path / "direct"), str(tmp_path / "classic")
    build_and_write_index(t, d1, n_buckets=8, shard_cap=100,
                          direct_write=True)
    build_and_write_index(t, d2, n_buckets=8, shard_cap=100,
                          direct_write=False)
    files = _glob.glob(f"{d1}/postings/bucket=*/part-*.parquet")
    assert files
    for fp in files:
        rg = pq.ParquetFile(fp).metadata.row_group(0)
        cols = {rg.column(i).path_in_schema: rg.column(i)
                for i in range(rg.num_columns)}
        assert cols["term"].is_stats_set and cols["term"].statistics.has_min_max
        assert not cols["doc_gaps"].is_stats_set
        assert not cols["block_last_doc.list.element"].is_stats_set

    def decoded(path, terms=None):
        dm = {r.doc_idx: r.doc_id
              for r in spark.read.parquet(f"{path}/docmap").collect()}
        post = read_postings(spark, path)
        if terms is not None:
            post = post.filter(sql_in("term", terms))
        got = set()
        for r in post.collect():
            d, tf, dl = decode_shard(r.asDict())
            got |= {(r.term, dm[int(i)], int(f), int(n))
                    for i, f, n in zip(d, tf, dl)}
        return got

    full = decoded(d1)
    assert full and full == decoded(d2)
    terms = ["t00001", "t00007", "nowhere"]
    some = decoded(d1, terms)
    assert some and some == decoded(d2, terms)
    assert some == {p for p in full if p[0] in terms}


def test_manifest_reads_hide_zombie_attempt_files(spark, tmp_path):
    """Direct writes are attempt-suffixed and readers resolve files
    through postings_manifest.json, so an orphan file a zombie/loser
    attempt leaves in a bucket dir is invisible: query results are
    identical before and after the orphan lands, and gc_unmanifested
    removes exactly the orphan (round-3 roadmap: Iceberg-style commit)."""
    import glob as _glob
    import shutil

    from connectors_spark.operators.index import (
        IndexReader, build_and_write_index, gc_unmanifested,
    )
    from connectors_spark.synth import synth_queries, synth_transcripts

    t = synth_transcripts(spark, 60, seed=7)
    path = str(tmp_path / "zidx")
    build_and_write_index(t, path, n_buckets=8, shard_cap=500,
                          direct_write=True)
    files = _glob.glob(f"{path}/postings/bucket=*/part-*.parquet")
    assert files and all("-a" in os.path.basename(f) for f in files)

    qs = synth_queries(10, seed=8)
    before = sorted((x.query_id, x.rank, x.doc_id, round(x.score, 9))
                    for x in IndexReader(spark, path, cache=False)
                    .topk(qs).collect())
    assert before

    # simulate a zombie attempt: a duplicate of a winner file under a
    # different attempt suffix (same schema, duplicate postings — would
    # double-count every score if it were read)
    victim = files[0]
    zombie = victim.replace("-a0.parquet", "-a1.parquet")
    assert zombie != victim
    shutil.copyfile(victim, zombie)

    after = sorted((x.query_id, x.rank, x.doc_id, round(x.score, 9))
                   for x in IndexReader(spark, path, cache=False)
                   .topk(qs).collect())
    assert after == before

    removed = gc_unmanifested(path)
    assert removed == [zombie]
    assert os.path.exists(victim) and not os.path.exists(zombie)


def test_phrase_prefix_topk_matches_position_join(spark, tmp_path):
    """ES match_phrase_prefix through the compressed positional index:
    the matched doc set must equal the brute-force position-join analog
    (any expansion of the last-prefix completes the phrase), ranks are
    deterministic and k-bounded, no-expansion prefixes return nothing."""
    from pyspark.sql import functions as F

    from connectors_spark.functions.analysis import tokenize
    from connectors_spark.operators.build import build_index_transcripts, with_doc_id
    from connectors_spark.operators.index import IndexReader, write_encoded_index
    from connectors_spark.synth import synth_transcripts

    path = str(tmp_path / "ppidx")
    t = synth_transcripts(spark, 40, seed=5)
    write_encoded_index(build_index_transcripts(t, with_positions=True),
                        path, n_buckets=16, shard_cap=1000)
    reader = IndexReader(spark, path, cache=False)

    # pick a real adjacent pair from the corpus to guarantee matches
    toks = tokenize(with_doc_id(t), "text", "doc_id").cache()
    pair = (
        toks.alias("a").join(
            toks.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        ).select(F.col("a.term").alias("t0"), F.col("b.term").alias("t1"))
        .groupBy("t0", "t1").count().orderBy(F.desc("count")).first()
    )
    head, nxt = pair.t0, pair.t1
    # synth vocab is t%05d — a 5-char prefix expands to ~10 terms, well
    # under max_expansions, so brute force and capped expansion agree
    prefix = nxt[:5]
    qs = [
        {"query_id": "pp", "query_text": f"{head} {prefix}", "k": 1000},
        {"query_id": "none", "query_text": f"{head} zzzzzz", "k": 10},
    ]
    got = reader.phrase_prefix_topk(qs, max_expansions=50).collect()
    assert not [r for r in got if r.query_id == "none"]
    got_docs = {r.doc_id for r in got if r.query_id == "pp"}

    # brute force: docs with (head, any term starting with prefix) adjacent
    a, b = toks.alias("a"), toks.alias("b")
    exp_docs = {
        r.doc_id for r in a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        ).filter(
            (F.col("a.term") == head) & F.col("b.term").startswith(prefix)
        ).select(F.col("a.doc_id").alias("doc_id")).distinct().collect()
    }
    assert got_docs == exp_docs and got_docs
    # deterministic ranking: rerun identical
    again = reader.phrase_prefix_topk(qs, max_expansions=50).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
                              for r in rows)
    assert key(got) == key(again)


def test_topk_local_hot_term_budget_routes_to_distributed(spark, built):
    """Serving-path hot-term budget (VERDICT r4 #3): a query containing
    a term whose df exceeds local_term_df_budget must NOT pull that
    term's postings driver-side — it is routed to the distributed topk
    kernel — and ranks/scores stay identical to the unbudgeted path."""
    from connectors_spark.operators.index import IndexReader

    path, oracle = built
    # t00001 is the Zipf head (full-corpus df); t4xxxx are tail terms
    queries = [
        {"query_id": "hot", "query_text": "t00001 t00002", "k": 10},
        {"query_id": "cold", "query_text": "t49999 t49998", "k": 10},
    ]
    unlimited = IndexReader(spark, path, cache=False)
    exp = sorted(unlimited.topk_local(queries), key=lambda t: (t[0], t[1]))

    budgeted = IndexReader(spark, path, cache=False)
    budgeted.local_term_df_budget = 20  # head terms exceed, tail stays
    got = sorted(budgeted.topk_local(queries), key=lambda t: (t[0], t[1]))

    assert [(g[0], g[1], g[2]) for g in got] == [(e[0], e[1], e[2])
                                                 for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-9)
    # the hot term's shard blobs never reached the driver cache
    assert "t00001" not in budgeted._term_cache
    assert "t49999" in budgeted._term_cache  # cold path still local
    # oracle agreement for the routed query
    oexp = sorted(oracle.score_queryset([queries[0]]),
                  key=lambda e: (e[0], e[1]))
    hot_got = [g for g in got if g[0] == "hot"]
    assert [(g[0], g[1], g[2]) for g in hot_got] == [e[:3] for e in oexp]


def test_topk_local_all_queries_hot(spark, built):
    """Every query over budget: the local path collapses entirely to
    the distributed kernel and still answers correctly."""
    from connectors_spark.operators.index import IndexReader

    path, oracle = built
    queries = [{"query_id": "h1", "query_text": "t00001", "k": 5},
               {"query_id": "h2", "query_text": "t00002 t00003", "k": 5}]
    reader = IndexReader(spark, path, cache=False)
    reader.local_term_df_budget = 1
    got = sorted(reader.topk_local(queries), key=lambda t: (t[0], t[1]))
    exp = sorted(oracle.score_queryset(queries), key=lambda e: (e[0], e[1]))
    assert [(g[0], g[1], g[2]) for g in got] == [e[:3] for e in exp]
    assert len(reader._term_cache) == 0
