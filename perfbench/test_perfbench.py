"""The benchmark's own tests.

    python -m pytest perfbench -q -p no:cacheprovider

Unit tests for the measurement rules, plus a smoke run of every workload
(untraced and traced) on tiny inputs with the oracle checks on.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(range(10)) is None
    # 11 samples: the median (rank 6) leaves only 5 above it
    assert measure.tail_percentile(range(11)) is None
    assert measure.tail_percentile(range(20)) == (50.0, 9)
    assert measure.tail_percentile(range(40)) == (75.0, 29)
    assert measure.tail_percentile(range(100)) == (90.0, 89)
    assert measure.tail_percentile(range(200)) == (95.0, 189)
    assert measure.tail_percentile(range(1000)) == (99.0, 989)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"name": "c", "start": 2.0, "end": 3.0, "parent": 1},
        {"name": "a", "start": 8.0, "end": 12.0, "parent": 0},  # ends late
    ]
    assert measure.self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 1.0, 4.0])
    (per_op,) = measure.per_op_layers(spans, "op")
    assert per_op == pytest.approx({"a": 6.0, "b": 3.0})


def test_tracer_records_nesting_only_when_enabled():
    off = measure.Tracer(False, "r")
    with off.span("x"):
        pass
    assert off.spans == []
    on = measure.Tracer(True, "r")
    with on.span("op"), on.span("layer"):
        pass
    assert [(s["name"], s["parent"], s["run"]) for s in on.spans] == [
        ("op", None, "r"),
        ("layer", 0, "r"),
    ]


def test_peak_rss_samples_between_start_and_stop():
    rss = measure.PeakRss(interval=0.01)
    rss.stop()  # never started: nothing sampled
    assert rss.peak_kb == 0
    rss.start()
    rss.stop()
    rss.stop()
    assert rss.mb > 1


def test_envelope_files_are_ordered_slices_sized_by_share(tmp_path):
    con = gen.duckdb.connect()
    con.execute(
        """CREATE TABLE zeebe_events AS SELECT 1 AS partition_id, i AS position,
               i AS key, 1000 - i AS timestamp, 'EVENT' AS record_type,
               'VARIABLE' AS value_type, 'CREATED' AS intent,
               'p' AS bpmn_process_id, 7 AS process_instance_key,
               NULL AS process_definition_key, NULL AS parent_process_instance_key,
               NULL AS bpmn_element_type, NULL AS element_id, 'v' AS name,
               NULL AS job_type, '"x"' AS value
           FROM range(10) t(i)"""
    )
    paths = gen.write_envelopes(con, str(tmp_path), [0.25, 1, 1, 1])
    lines = [[json.loads(x) for x in open(p)] for p in paths]
    assert [len(x) for x in lines] == [1, 3, 3, 3]
    stamps = [e["timestamp"] for x in lines for e in x]
    assert stamps == sorted(stamps)
    assert set(lines[0][0]["value"]) == {"bpmnProcessId", "processInstanceKey", "name", "value"}


def test_metric_names_are_valid_and_match_benchmark_json():
    for name in ("setup_s", "streaming.resolve.drain_s", "a-b_c.9"):
        assert measure.valid_name(name)
    for name in ("", "_x", "a b", "a/b", "x" * 65, "ms%"):
        assert not measure.valid_name(name)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.OP_SPAN)
    assert all(measure.valid_name(n) for n in [*run.END_TO_END, *run.PER_LAYER])


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        capture_output=True, text=True, timeout=600, cwd=cwd,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.OP_SPAN))
def test_smoke_run_is_correct_and_complete(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace and workload == "ingest_stream":
        assert result["metrics"]["sources.nats.lag_end"]["value"] == 0
        assert result["metrics"]["streaming.resolve.rows_in"]["value"] > 0
    if trace and workload == "query_sweep":
        assert result["metrics"]["operators.rows_in"]["value"] > 0
        assert result["metrics"]["spark.jobs"]["value"] > 0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("query_sweep", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
