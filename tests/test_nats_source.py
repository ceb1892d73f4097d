"""NATS JetStream landing (sources/nats_source.land): range chunking,
resume, admission and crash safety over the file transport, plus an
end-to-end file stream over the landed files."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from ph_ee_nats_importer_rdbms_spark.sources import nats_source
from ph_ee_nats_importer_rdbms_spark.sources.nats_source import NATS_SCHEMA, land


def _write_stream(tmp_path, n: int) -> str:
    path = tmp_path / "captured.jsonl"
    lines = [
        json.dumps({"position": i, "valueType": "VARIABLE", "value": {"name": f"v{i}"}})
        for i in range(1, n + 1)
    ]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def _opts(path: str, **opts) -> dict:
    return {"transport": "file", "path": path, **opts}


def _ranges(landing) -> list[tuple[int, int]]:
    """The (start, end) sequence ranges of the landed files, in order."""
    return sorted(
        (int(m.group(1)), int(m.group(2)))
        for m in map(nats_source._LANDED.match, os.listdir(landing))
        if m
    )


def _seqs(landing) -> list[int]:
    """Every landed sequence, file by file in range order."""
    out: list[int] = []
    for lo, hi in _ranges(landing):
        name = f"seq-{lo:020d}-{hi:020d}.parquet"
        out += pq.read_table(os.path.join(landing, name)).column("seq").to_pylist()
    return out


def test_partitions_slice_range_into_target_rows(tmp_path):
    landing = tmp_path / "landing"
    path = _write_stream(tmp_path, 10)
    assert land(_opts(path, partition_target_rows=3), str(landing)) == (10, 0)
    assert _ranges(landing) == [(1, 3), (4, 6), (7, 9), (10, 10)]
    # nothing new: no file, nothing counted
    assert land(_opts(path, partition_target_rows=3), str(landing)) == (0, 0)
    assert len(_ranges(landing)) == 4


def test_latest_offset_and_read_are_replayable(tmp_path):
    path = _write_stream(tmp_path, 7)
    first, again = tmp_path / "a", tmp_path / "b"
    assert land(_opts(path), str(first)) == (7, 0)
    assert _seqs(first) == list(range(1, 8))
    # re-landing a range (starting_seq into an empty directory) reads
    # back identical rows: the replay exactly-once rests on
    assert land(_opts(path, starting_seq=2, partition_target_rows=3), str(again)) == (5, 0)
    assert _ranges(again) == [(3, 5), (6, 7)]
    a = pq.read_table(str(first / f"seq-{1:020d}-{7:020d}.parquet")).to_pylist()
    b = pq.read_table(str(again / f"seq-{3:020d}-{5:020d}.parquet")).to_pylist()
    assert b == a[2:5]
    assert json.loads(b[0]["value"])["position"] == 3
    assert b[0]["subject"] == "zeebe-export"


def test_max_rows_per_trigger_bounds_batches(tmp_path):
    landing = str(tmp_path / "landing")
    opts = _opts(_write_stream(tmp_path, 10), max_rows_per_trigger=4)
    assert [land(opts, landing) for _ in range(4)] == [(4, 0), (4, 0), (2, 0), (0, 0)]
    assert _ranges(landing) == [(1, 4), (5, 8), (9, 10)]


def test_transport_defaults_to_wire():
    """Options without ``transport`` speak JetStream through the
    dependency-free wire client; an unknown transport is a config error."""
    t = nats_source._transport({"stream": "zeebe"})
    assert isinstance(t, nats_source._WireTransport)
    assert (t.servers, t.stream) == (nats_source.DEFAULT_SERVERS, "zeebe")
    with pytest.raises(ValueError, match="unknown nats transport"):
        nats_source._transport({"transport": "jetstream"})


def test_land_crash_before_rename_relands_each_sequence_once(tmp_path, monkeypatch):
    """A crash between the ``_tmp`` write and the rename leaves a stray
    temporary file; the rerun re-lands the missing ranges, so every
    sequence is landed exactly once and the ranges are contiguous."""
    landing = tmp_path / "landing"
    opts = _opts(_write_stream(tmp_path, 10), partition_target_rows=3)
    rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("crash between write and rename")
        rename(src, dst)

    monkeypatch.setattr(nats_source.os, "rename", crash_on_second)
    with pytest.raises(OSError, match="crash"):
        land(opts, str(landing))
    assert _ranges(landing) == [(1, 3)]
    assert os.listdir(landing / "_tmp")  # the half-done file is left behind

    monkeypatch.setattr(nats_source.os, "rename", rename)
    assert land(opts, str(landing)) == (7, 0)
    assert _ranges(landing) == [(1, 3), (4, 6), (7, 9), (10, 10)]
    assert _seqs(landing) == list(range(1, 11))
    assert os.listdir(landing / "_tmp") == []


def test_readstream_end_to_end(spark, tmp_path):
    path = _write_stream(tmp_path, 25)
    landing = str(tmp_path / "landing")
    land(_opts(path, partition_target_rows=10), landing)
    df = spark.readStream.schema(NATS_SCHEMA).parquet(landing)
    q = (
        df.writeStream.format("memory")
        .queryName("nats_e2e")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM nats_e2e ORDER BY seq").collect()
    assert len(out) == 25
    assert [r.seq for r in out] == list(range(1, 26))
    assert out[0].subject == "zeebe-export"
    assert json.loads(out[24].value)["position"] == 25
