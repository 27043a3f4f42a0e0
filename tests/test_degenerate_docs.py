"""Zero-token documents ("" / punctuation-only / NULL text) through the
fused build and the delta writer: each counts toward n_docs with dl = 0
and contributes no postings, like any doc in the oracle. Then every
DataFrame scorer on degenerate input: empty and all-zero-token indexes,
zero-token and absent-term queries score to no rows."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from connectors_spark.operators.build import build_index, with_doc_id
from connectors_spark.operators.delta import incremental_update
from connectors_spark.operators import query as Q
from connectors_spark.operators import query_string as QS
from connectors_spark.operators.index import (
    IndexReader,
    build_and_write_index,
    read_meta,
)
from connectors_spark.oracle import OracleIndex

SCHEMA = "conv_id string, turn_idx int, ts timestamp, text string"
T0 = dt.datetime(2025, 1, 1)
LATER = T0 + dt.timedelta(hours=1)
QUERIES = [
    {"query_id": "a", "query_text": "alpha beta", "k": 10},
    {"query_id": "g", "query_text": "gamma", "k": 10},
    {"query_id": "n", "query_text": "newterm alpha", "k": 10},
    {"query_id": "p", "query_text": "!!!", "k": 10},
]

BASE = [
    ("c1", 0, T0, "alpha beta gamma"),
    ("c1", 1, T0, ""),
    ("c1", 2, T0, "!!! ... ???"),
    ("c1", 3, T0, None),
    ("c2", 0, T0, "alpha alpha delta"),
    ("c2", 1, T0, "beta gamma gamma epsilon"),
    ("c2", 2, T0, "gamma"),
]
# one generation: new empty / punctuation / NULL docs, a real doc whose
# new text is NULL, an empty doc that gains text, a deleted empty doc
NEXT = [
    ("c1", 0, T0, "alpha beta gamma"),
    ("c1", 1, LATER, "newterm alpha"),
    ("c1", 2, T0, "!!! ... ???"),
    ("c2", 0, LATER, None),
    ("c2", 1, T0, "beta gamma gamma epsilon"),
    ("c2", 2, T0, "gamma"),
    ("c3", 0, T0, ""),
    ("c3", 1, T0, "--- !!!"),
    ("c3", 2, T0, None),
    ("c3", 3, T0, "delta newterm"),
]
# a generation whose changed docs are ALL zero-token
ONLY_EMPTY = NEXT + [("c4", 0, T0, ""), ("c4", 1, T0, None)]


def _oracle(spark, rows):
    docs = with_doc_id(spark.createDataFrame(rows, SCHEMA)).collect()
    return OracleIndex([(r.doc_id, r.text) for r in docs])


def _check(spark, path, oracle):
    meta = read_meta(path)
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    exp = sorted(oracle.score_queryset(QUERIES), key=lambda e: (e[0], e[1]))
    reader = IndexReader(spark, path, cache=False)
    for kernel in ("exact", "wand"):
        got = sorted(reader.topk(QUERIES, kernel=kernel).collect(),
                     key=lambda r: (r.query_id, r.rank))
        assert [(g.query_id, g.rank, g.doc_id) for g in got] == \
            [e[:3] for e in exp]
        for g, e in zip(got, exp):
            assert g.score == pytest.approx(e[3], rel=1e-9)


def test_zero_token_docs_build_and_delta(spark, tmp_path):
    path = str(tmp_path / "idx")
    meta = build_and_write_index(spark.createDataFrame(BASE, SCHEMA), path,
                                 n_buckets=4)
    oracle = _oracle(spark, BASE)
    assert meta["n_docs"] == len(BASE) == oracle.n_docs
    _check(spark, path, oracle)
    dls = {r.doc_id: r.dl
           for r in spark.read.parquet(f"{path}/docmap").collect()}
    assert [dls[f"c1:{i}"] for i in (1, 2, 3)] == [0, 0, 0]

    rec = incremental_update(spark, path, spark.createDataFrame(NEXT, SCHEMA))
    assert (rec["created"], rec["updated"], rec["deleted"]) == (4, 2, 1)
    _check(spark, path, _oracle(spark, NEXT))
    dls = {r.doc_id: r.dl
           for r in spark.read.parquet(f"{path}/delta/1/docmap").collect()}
    assert dls == {"c1:1": 2, "c2:0": 0, "c3:0": 0, "c3:1": 0, "c3:2": 0,
                   "c3:3": 2}

    rec = incremental_update(spark, path,
                             spark.createDataFrame(ONLY_EMPTY, SCHEMA))
    assert rec["created"] == 2 and rec["n_docs_live"] == len(ONLY_EMPTY)
    _check(spark, path, _oracle(spark, ONLY_EMPTY))


def test_positional_zero_token_corpus_through_both_writers(spark, tmp_path):
    """A positional build over only zero-token docs is a positional index
    through write_encoded_index and the resumable writer: meta.json's
    `positions` is read off the entries' type (the rule compaction
    follows), not off whether any posting has positions. The index opens,
    scores like the oracle (no rows) and phrase_topk returns no rows.
    Tier-1 cost: two 3-doc writes, ~6 s."""
    from connectors_spark.operators.index import write_encoded_index
    from connectors_spark.plans.checkpoint import resumable_write_encoded_index

    rows = [r for r in BASE if not any(c.isalnum() for c in r[3] or "")]
    assert len(rows) == 3
    idx = build_index(with_doc_id(spark.createDataFrame(rows, SCHEMA)),
                      with_positions=True)
    oracle = _oracle(spark, rows)
    for name, write in (
            ("frames", lambda p: write_encoded_index(idx, p, n_buckets=4)),
            ("resumable", lambda p: resumable_write_encoded_index(
                idx, p, n_buckets=4, n_groups=2))):
        path = str(tmp_path / name)
        write(path)
        assert read_meta(path)["positions"] is True
        _check(spark, path, oracle)
        reader = IndexReader(spark, path, cache=False)
        assert reader.phrase_topk(
            [{"query_id": "p", "query_text": "alpha beta", "k": 5}]
        ).collect() == []
    idx.unpersist()


def test_compaction_of_degenerate_generations(spark, tmp_path):
    """compact_index on (1) an index whose last generation changed only
    zero-token docs and (2) an index whose every doc was deleted: both
    give a readable single-generation index with the oracle's n_docs and
    top-k — empty for (2), whose postings dir holds only a schema.
    Tier-1 cost: one tiny build, two generations, two compactions, ~25 s."""
    import os

    from connectors_spark.operators.delta import compact_index

    path = str(tmp_path / "idx")
    build_and_write_index(spark.createDataFrame(BASE, SCHEMA), path,
                          n_buckets=4)
    zero_adds = BASE + [("c4", 0, T0, ""), ("c4", 1, T0, "!!")]
    rec = incremental_update(spark, path,
                             spark.createDataFrame(zero_adds, SCHEMA))
    assert rec["created"] == 2 and rec["n_changed"] == 2
    out = str(tmp_path / "compacted")
    compact_index(spark, path, out)
    assert read_meta(out)["deltas"] == []
    _check(spark, out, _oracle(spark, zero_adds))

    rec = incremental_update(spark, out, spark.createDataFrame([], SCHEMA))
    assert rec["deleted"] == len(zero_adds) and rec["n_docs_live"] == 0
    empty = str(tmp_path / "empty")
    compact_index(spark, out, empty)
    meta = read_meta(empty)
    assert (meta["n_docs"], meta["avgdl"], meta["deltas"]) == (0, 0.0, [])
    assert not os.path.exists(os.path.join(empty, "postings_manifest.json"))
    post = spark.read.parquet(f"{empty}/postings")
    assert post.count() == 0 and "doc_gaps" in post.columns
    reader = IndexReader(spark, empty, cache=False)
    for kernel in ("exact", "wand"):
        assert reader.topk(QUERIES, kernel=kernel).collect() == []


# ---------------------------------------------------------------------------
# Every (query_id, rank, doc_id, score) DataFrame scorer on degenerate input


CORPUS = [
    (1, "alpha beta gamma alpha", "alpha title"),
    (2, "beta delta", "gamma beta"),
    (3, "alpha gamma gamma epsilon beta", "delta"),
]
ALL_ZERO_TOKEN = [(1, "", "!!"), (2, "!!", ""), (3, "", "")]
LIVE = ("live", "alpha beta")
DEAD = [("zero", "!!"), ("absent", "zzz")]


def _qdf(spark, queries, k=10):
    return Q.queries_df(spark, [{"query_id": qid, "query_text": text, "k": k}
                                for qid, text in queries])


def _qs(queries):
    return [{"query_id": qid, "query_string": text, "k": 10}
            for qid, text in queries]


def _decayed(spark, ix, docs, queries):
    ts = docs.select("doc_id", F.date_add(F.lit("2025-01-01").cast("date"),
                                          F.col("doc_id").cast("int"))
                     .alias("ts"))
    return Q.with_recency_decay(Q.score_topk_dataframe(ix[0], _qdf(spark, queries)),
                                ts, "2025-01-10", 3.0, k=2)


def _paged(spark, ix, docs, queries):
    after = spark.createDataFrame(
        [(qid, 0.5, 1) for qid, _ in queries],
        "query_id string, after_score double, after_doc long")
    return Q.paginate_after(Q.score_topk_dataframe(ix[0], _qdf(spark, queries)),
                            after, page_size=2)


# name -> f(spark, (text index, title index), docs, [(query_id, text)])
SCORERS = {
    "topk_dataframe": lambda s, ix, d, q: Q.score_topk_dataframe(
        ix[0], _qdf(s, q), round_scores=6),
    "topk_dataframe_and": lambda s, ix, d, q: Q.score_topk_dataframe(
        ix[0], _qdf(s, q), mode="and"),
    "bool_topk": lambda s, ix, d, q: Q.score_bool_topk(
        ix[0], Q.bool_clauses_df(s, [
            {"query_id": qid, "k": 10, "should": text, "must_not": "delta"}
            for qid, text in q])),
    "multi_match_most": lambda s, ix, d, q: Q.score_multi_match(
        [(ix[0], 1.0), (ix[1], 2.0)], _qdf(s, q)),
    "multi_match_best": lambda s, ix, d, q: Q.score_multi_match(
        [(ix[0], 1.0), (ix[1], 2.0)], _qdf(s, q), match_type="best_fields",
        tie_breaker=0.3),
    "combined_fields": lambda s, ix, d, q: Q.score_combined_fields(
        d, [("text", 1.0), ("title", 2.0)], _qdf(s, q)),
    "rescore_window": lambda s, ix, d, q: Q.rescore_window(
        ix[0], _qdf(s, q, k=2), _qdf(s, [(qid, "gamma") for qid, _ in q]),
        window_size=3, rescore_query_weight=2.0),
    "cross_fields": lambda s, ix, d, q: Q.score_cross_fields(
        [(ix[0], 1.0), (ix[1], 2.0)], _qdf(s, q), tie_breaker=0.2),
    "topk_graph": lambda s, ix, d, q: Q.score_topk_graph(
        ix[0], s, q, [("beta", "delta")], k=10),
    "paginate_after": _paged,
    "recency_decay": _decayed,
    "search_indexes": lambda s, ix, d, q: Q.search_indexes(
        [("text", ix[0]), ("title", ix[1])], _qdf(s, q)),
    "prf_requery": lambda s, ix, d, q: Q.prf_requery_topk(
        ix[0], _qdf(s, q), fb_docs=2, fb_terms=2),
    "lm_dirichlet": lambda s, ix, d, q: Q.score_topk_lm(
        ix[0], _qdf(s, q), mu=3.0),
    "lm_jm": lambda s, ix, d, q: Q.score_topk_lm(
        ix[0], _qdf(s, q), similarity="jm", lam=0.3),
    "dfi": lambda s, ix, d, q: Q.score_topk_dfi(ix[0], _qdf(s, q)),
    "dfr": lambda s, ix, d, q: Q.score_topk_dfr(
        ix[0], _qdf(s, q), basic_model="in", after_effect="b"),
    "ib": lambda s, ix, d, q: Q.score_topk_ib(ix[0], _qdf(s, q)),
    "boolean": lambda s, ix, d, q: Q.score_topk_boolean(ix[0], _qdf(s, q)),
    "scripted": lambda s, ix, d, q: Q.score_topk_scripted(
        ix[0], _qdf(s, q), lambda c: c["tf"] * c["n_docs"] / (c["dl"] + 1.0)),
    "query_string": lambda s, ix, d, q: QS.score_query_string(
        ix[0], _qs(q), field_indexes={"title": ix[1]}),
    "simple_query_string": lambda s, ix, d, q: QS.score_simple_query_string(
        ix[0], _qs(q)),
}


def _indexes(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string, title string")
    return (build_index(docs), build_index(docs, text_col="title")), docs


@pytest.fixture(scope="module")
def scorer_inputs(spark):
    return {name: _indexes(spark, rows) for name, rows in
            (("corpus", CORPUS), ("empty", []), ("zero", ALL_ZERO_TOKEN))}


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 6))
                  for r in df.select("query_id", "rank", "doc_id",
                                     "score").collect())


# rows of the live query on CORPUS, pinned from the per-scorer tails the
# shared tail replaced
PINNED = {
    "topk_dataframe": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
        ("live", 3, 2, 0.074561),
    ],
    "topk_dataframe_and": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
    ],
    "bool_topk": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
    ],
    "multi_match_most": [
        ("live", 1, 1, 1.169175),
        ("live", 2, 2, 0.898787),
        ("live", 3, 3, 0.238809),
    ],
    "multi_match_best": [
        ("live", 1, 1, 0.927711),
        ("live", 2, 2, 0.846594),
        ("live", 3, 3, 0.238809),
    ],
    "combined_fields": [
        ("live", 1, 1, 0.410163),
        ("live", 2, 3, 0.274334),
        ("live", 3, 2, 0.098392),
    ],
    "rescore_window": [
        ("live", 1, 3, 0.771803),
        ("live", 2, 1, 0.756904),
    ],
    "cross_fields": [
        ("live", 1, 1, 0.510767),
        ("live", 2, 3, 0.238809),
        ("live", 3, 2, 0.127123),
    ],
    "topk_graph": [
        ("live", 1, 1, 0.631378),
        ("live", 2, 2, 0.622232),
        ("live", 3, 3, 0.424782),
    ],
    "paginate_after": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
    ],
    "recency_decay": [
        ("live", 1, 3, 0.059702),
        ("live", 2, 1, 0.054326),
    ],
    "search_indexes": [
        ("live", 1, 1, 0.412113),
        ("live", 2, 2, 0.412113),
        ("live", 3, 1, 0.344949),
        ("live", 4, 3, 0.238809),
        ("live", 5, 2, 0.074561),
    ],
    "prf_requery": [
        ("live", 1, 3, 0.205603),
        ("live", 2, 1, 0.167795),
        ("live", 3, 2, 0.01864),
    ],
    "lm_dirichlet": [
        ("live", 1, 1, 0.389465),
        ("live", 2, 2, 0.287682),
        ("live", 3, 3, 0.0),
    ],
    "lm_jm": [
        ("live", 1, 1, 2.807374),
        ("live", 2, 3, 1.994718),
        ("live", 3, 2, 1.663505),
    ],
    "dfi": [
        ("live", 1, 1, 0.903338),
        ("live", 2, 2, 0.691943),
        ("live", 3, 3, 0.0),
    ],
    "dfr": [
        ("live", 1, 1, 1.009164),
        ("live", 2, 3, 0.713668),
        ("live", 3, 2, 0.154219),
    ],
    "ib": [
        ("live", 1, 1, 2.763578),
        ("live", 2, 3, 1.884106),
        ("live", 3, 2, 1.32337),
    ],
    "boolean": [
        ("live", 1, 1, 2.0),
        ("live", 2, 3, 2.0),
        ("live", 3, 2, 1.0),
    ],
    "scripted": [
        ("live", 1, 1, 1.8),
        ("live", 2, 2, 1.0),
        ("live", 3, 3, 1.0),
    ],
    "query_string": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
        ("live", 3, 2, 0.074561),
    ],
    "simple_query_string": [
        ("live", 1, 1, 0.344949),
        ("live", 2, 3, 0.238809),
        ("live", 3, 2, 0.074561),
    ],
}


@pytest.mark.parametrize("name", sorted(SCORERS))
def test_scorer_degenerate_inputs_and_pinned_rows(spark, scorer_inputs, name):
    """An empty index, an index of zero-token docs, a zero-token query
    and an absent-term query each score to no rows without raising; the
    live query's rows on the 3-doc corpus stay as pinned."""
    fn = SCORERS[name]
    ix, docs = scorer_inputs["corpus"]
    assert _rows(fn(spark, ix, docs, [LIVE] + DEAD)) == PINNED[name]
    for corpus in ("empty", "zero"):
        ix, docs = scorer_inputs[corpus]
        assert _rows(fn(spark, ix, docs, [LIVE])) == [], corpus
