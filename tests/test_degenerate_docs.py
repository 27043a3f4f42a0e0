"""Zero-token documents ("" / punctuation-only / NULL text) through the
fused build and the delta writer: each counts toward n_docs with dl = 0
and contributes no postings, like any doc in the oracle."""

import datetime as dt

import pytest

from connectors_spark.operators.build import with_doc_id
from connectors_spark.operators.delta import incremental_update
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
