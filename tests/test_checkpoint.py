"""M5: kill-and-resume — a build killed mid-flight resumes from the
manifest and produces a byte-identical query surface (no duplicate or
missing postings). Mirrors the reference's suspended-job semantics
(reference: app/connectors_service/connectors/sync_job_runner.py:197-204).
"""

import pytest

from connectors_spark.operators.build import build_index_transcripts, with_doc_id
from connectors_spark.operators.index import query_index
from connectors_spark.oracle import OracleIndex
from connectors_spark.plans.checkpoint import BuildManifest, resumable_write_encoded_index
from connectors_spark.synth import synth_queries, synth_transcripts


class Boom(RuntimeError):
    pass


def test_kill_and_resume_identical(spark, tmp_path):
    path = str(tmp_path / "idx")
    t = synth_transcripts(spark, 80, seed=42).cache()
    idx = build_index_transcripts(t, with_positions=False)

    # kill after the 2nd encode group
    state = {"encodes": 0}

    def killer(unit):
        if unit.startswith("encode:"):
            state["encodes"] += 1
            if state["encodes"] == 2:
                raise Boom(unit)

    with pytest.raises(Boom):
        resumable_write_encoded_index(
            idx, path, n_buckets=8, n_groups=4, shard_cap=500, on_unit_done=killer
        )
    done_before = BuildManifest(path).done_units()
    assert "docmap" in done_before and "postings_raw" in done_before
    assert sum(u.startswith("encode:") for u in done_before) == 2
    assert "meta" not in done_before

    # resume: must not redo completed units
    redone = []
    resumable_write_encoded_index(
        idx, path, n_buckets=8, n_groups=4, shard_cap=500,
        on_unit_done=redone.append,
    )
    assert all(u not in done_before for u in redone)
    recs = {r["unit"]: r for r in BuildManifest(path).records()}
    assert all(r["status"] == "completed" for r in recs.values())
    assert recs["encode:0"]["wall_ms"] >= 0 and recs["encode:0"]["rows"] > 0

    # resumed index is rank/score-identical to the oracle
    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    queries = synth_queries(25, seed=3)
    got = sorted(
        query_index(spark, path, queries, kernel="auto").collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    exp = oracle.score_queryset(queries)
    assert [(g.query_id, g.rank, g.doc_id) for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g.score == pytest.approx(e[3], rel=1e-9)

    # idempotence: a third run is a no-op
    n_manifest = len(BuildManifest(path).records())
    resumable_write_encoded_index(idx, path, n_buckets=8, n_groups=4, shard_cap=500)
    assert len(BuildManifest(path).records()) == n_manifest


def test_resumable_positional_build_phrase(spark, tmp_path):
    """A positional resumable build records positions: true from its
    encode writes and answers exact-phrase queries oracle-identically
    (the phrase check of test_delta.py::test_incremental_positional_phrase).
    Tier-1 cost: one 60-conversation build plus one phrase query, ~15 s."""
    from connectors_spark.operators.index import IndexReader, read_meta

    path = str(tmp_path / "pidx")
    t = synth_transcripts(spark, 60, seed=42).cache()
    resumable_write_encoded_index(
        build_index_transcripts(t, with_positions=True), path,
        n_buckets=8, n_groups=4, shard_cap=300)
    assert read_meta(path)["positions"] is True
    assert any(r.get("positions") for r in BuildManifest(path).records())

    rows = with_doc_id(t).select("doc_id", "text").collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows])
    phrase = " ".join(rows[0].text.split()[-2:])
    exp = oracle.phrase_query(phrase, 10)
    assert exp
    got = sorted(IndexReader(spark, path, cache=False).phrase_topk(
        [{"query_id": "p", "query_text": phrase, "k": 10}]).collect(),
        key=lambda r: r.rank)
    assert [g.doc_id for g in got] == [d for d, _ in exp]
    for g, (_, s) in zip(got, exp):
        assert g.score == pytest.approx(s, rel=1e-9)


def test_resumable_rejects_derived_frames(spark, tmp_path):
    """Frames derived from another index carry no token entries, and
    encoding their source's entries would silently undo the derivation:
    the resumable writer raises ValueError naming the cause before it
    writes a manifest. Tier-1 cost: one 10-conv build, ~2 s."""
    import os

    from connectors_spark.operators.build import static_prune_postings
    from connectors_spark.operators.query import with_lossy_norms

    idx = build_index_transcripts(synth_transcripts(spark, 10, seed=31),
                                  with_positions=False)
    for derived in (static_prune_postings(idx, keep_n=5),
                    with_lossy_norms(idx)):
        path = str(tmp_path / "derived")
        with pytest.raises(ValueError, match="no token entries"):
            resumable_write_encoded_index(derived, path, n_buckets=4,
                                          n_groups=2)
        assert not os.path.exists(path)
    idx.unpersist()
