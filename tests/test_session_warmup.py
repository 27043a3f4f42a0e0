"""Warmup scope and failure reporting of `session._maybe_warmup`, with the
build monkeypatched out: no Spark session is started. Tier-1 cost: well
under a second."""

import logging

import pytest

from connectors_spark import session


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, d):
        self.descriptions.append(d)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


@pytest.fixture
def builds(monkeypatch):
    """Record warmup builds instead of running them."""
    import connectors_spark.operators.index as index
    import connectors_spark.synth as synth

    calls = []
    monkeypatch.setattr(session, "_WARMED", False)
    monkeypatch.setattr(synth, "synth_transcripts", lambda *a, **k: "corpus")
    monkeypatch.setattr(index, "build_and_write_index",
                        lambda t, d, **k: calls.append((t, d)))
    return calls


@pytest.mark.parametrize("master,mode,warms", [
    ("local[16]", "auto", True),
    ("local[32]", None, True),
    ("local[4]", "auto", False),
    ("local", "auto", False),
    ("local-cluster[2,1,1024]", "auto", False),
    ("spark://host:7077", "auto", False),
    ("yarn", None, False),
    ("spark://host:7077", "1", True),
    ("local[4]", "1", True),
    ("local[32]", "0", False),
])
def test_warmup_scope(monkeypatch, builds, master, mode, warms):
    if mode is None:
        monkeypatch.delenv("SPARK_GRAFT_WARMUP", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_WARMUP", mode)
    session._maybe_warmup(_FakeSpark(), master)
    assert (len(builds) == 1) is warms


def test_failed_warmup_is_logged(monkeypatch, caplog):
    import connectors_spark.operators.index as index
    import connectors_spark.synth as synth

    def boom(*a, **k):
        raise OSError("scratch dir not writable")

    monkeypatch.setattr(session, "_WARMED", False)
    monkeypatch.setattr(synth, "synth_transcripts", lambda *a, **k: None)
    monkeypatch.setattr(index, "build_and_write_index", boom)
    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "1")
    spark = _FakeSpark()
    with caplog.at_level(logging.WARNING, logger="connectors_spark.session"):
        session._maybe_warmup(spark, "local[4]")  # must not raise
    msgs = [r.getMessage() for r in caplog.records]
    assert any("OSError" in m and "scratch dir not writable" in m
               for m in msgs), msgs
    assert spark.sparkContext.descriptions[-1] is None
