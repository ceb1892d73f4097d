"""bench.py's outlier pass adjudicates only against a reference sweep
measured at the same scale factor and core count."""

from __future__ import annotations

import json

import pytest

import bench


@pytest.fixture
def refs(tmp_path, monkeypatch):
    """Point bench at an empty reference directory; returns a writer."""
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "_LOCAL_REF", str(tmp_path / "BENCH_LOCAL_LATEST.json"))

    def write(name: str, record: dict) -> None:
        (tmp_path / name).write_text(json.dumps(record))

    return write


def test_local_reference_needs_the_same_cpus(refs, monkeypatch):
    refs("BENCH_LOCAL_LATEST.json", {"sf": 0.1, "cpus": "8", "queries": {"q1": 1.5}})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._previous_round_warm("0.1") == {"q1": 1.5}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._previous_round_warm("0.1") == {}


def test_round_reference_needs_the_same_cpus(refs, monkeypatch):
    # the local reference is at another core count, so the newest round
    # record is the fallback, and it must match too
    refs("BENCH_LOCAL_LATEST.json", {"sf": 0.1, "cpus": "8", "queries": {"q1": 1.5}})
    refs("BENCH_r02.json", {"sf": 0.1, "cpus": 32, "tail": '"q1": 2.5, "q2": 0.5}'})
    refs("BENCH_r01.json", {"sf": 0.1, "cpus": 4, "tail": '"q1": 9.0}'})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._previous_round_warm("0.1") == {"q1": 2.5, "q2": 0.5}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._previous_round_warm("0.1") == {}


def test_unset_cpus_means_the_session_default(refs, monkeypatch):
    refs("BENCH_LOCAL_LATEST.json", {"sf": 0.1, "cpus": None, "queries": {"q1": 1.5}})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._previous_round_warm("0.1") == {"q1": 1.5}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._previous_round_warm("0.1") == {"q1": 1.5}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._previous_round_warm("0.1") == {}
