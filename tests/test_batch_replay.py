"""Parity gate for the r14 native batch replay (streaming/batch_replay.py).

The staged ``zeebe_*_streaming`` tables are now built by the batch fixed
point of the three hops; these tests pin that it computes EXACTLY what
the real multi-batch streaming topology computes:

1. randomized multi-key corpora, replayed hop-by-hop against the
   state-machine reference run batch-by-batch with carried state (the
   cross-micro-batch handoff shape);
2. a full-build A/B on the real corpus: ``replay._build`` vs
   ``replay._build_streaming`` staged tables identical, row for row.
"""

from __future__ import annotations

import json
import random

import pytest

from ph_ee_nats_importer_rdbms_spark.operators.classify import resolve_events
from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br
from ph_ee_nats_importer_rdbms_spark.streaming import state as sm

pytestmark = pytest.mark.slow


def _rand_events(rng: random.Random, n: int) -> list[dict]:
    """Randomized FLAT-schema corpus across several definition keys and
    instances: shuffled timestamps, null/empty/real bpmn, call-activity
    links, variables and jobs."""
    cols = [f.name for f in br.FLAT_SCHEMA.fields]
    rows = []
    for i in range(n):
        vt = rng.choice(
            ["PROCESS_INSTANCE", "VARIABLE", "JOB", "DEPLOYMENT", "VARIABLE_DOCUMENT"]
        )
        rows.append(
            {
                **{c: None for c in cols},
                "partition_id": 1,
                "position": i,
                "key": 1000 + i,
                "timestamp": int(rng.choice(range(2000, 2012))),
                "record_type": "EVENT",
                "value_type": vt,
                "intent": rng.choice(
                    ["ELEMENT_ACTIVATING", "ELEMENT_COMPLETED", "CREATED"]
                ),
                "bpmn_process_id": rng.choice(
                    [None, "", "PayerFundTransfer-acme", "bulk_processor-zip"]
                ),
                "process_instance_key": int(rng.choice([3, 7, 9, 11])),
                "process_definition_key": rng.choice([None, 41, 42]),
                "parent_process_instance_key": (
                    int(rng.choice([-1, 0, 3, 9])) if rng.random() < 0.4 else None
                ),
                "bpmn_element_type": rng.choice(["PROCESS", "SERVICE_TASK"]),
                "element_id": f"el{i % 3}",
                "name": rng.choice(
                    ["amount", "transactionId", "v_unknown", "batchId"]
                ),
                "value": rng.choice(['"12.5"', '"x"', "3", "true"]),
                "job_type": rng.choice([None, "jt"]),
            }
        )
    return rows


def _batches(rng: random.Random, rows: list, k: int) -> list[list]:
    """Random contiguous micro-batch cuts of the ORDERED delivery: the
    replay's contract is that batch k's (timestamp, position) range ends
    before batch k+1's begins (write_ordered_chunks / the sort_within
    wire chunks), so the reference consumes globally sorted events in
    contiguous time ranges — late-arrival across batches is out of the
    delivery contract for both engines."""
    rows = _srt(rows)
    if k <= 1 or len(rows) < 2:
        return [rows]
    cuts = sorted(rng.sample(range(1, len(rows)), min(k, len(rows)) - 1))
    return [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]


def _srt(events: list[dict]) -> list[dict]:
    return sorted(events, key=br._event_sort_key)


def _norm(row: dict) -> tuple:
    # repr-ized values: multiset comparison must not order None vs str
    return tuple(sorted((k, repr(v)) for k, v in row.items()))


def _reference_resolve(rng: random.Random, rows: list[dict]) -> list[dict]:
    """The streaming resolve hop over randomized micro-batch splits:
    per-definition-key resolve_step with state carried across batches."""
    kept = [
        r
        for r in rows
        if r["value_type"] not in ("DEPLOYMENT", "VARIABLE_DOCUMENT")
        and not (
            (r["bpmn_process_id"] is None or r["bpmn_process_id"] == "")
            and r["process_definition_key"] is None
        )
    ]
    states: dict = {}
    out: list[dict] = []
    for batch in _batches(rng, kept, rng.randint(1, 4)):
        per_key: dict = {}
        for r in batch:
            per_key.setdefault(r["process_definition_key"], []).append(r)
        for k, evs in per_key.items():
            st = states.setdefault(k, sm.ResolveState())
            _st, emitted = sm.resolve_step(st, [dict(e) for e in _srt(evs)])
            out.extend(emitted)
    return out


def test_resolve_events_matches_streaming_topology(spark) -> None:
    rng = random.Random(1411)
    cols = [f.name for f in br.FLAT_SCHEMA.fields]
    for trial in range(6):
        rows = _rand_events(rng, rng.randint(5, 120))
        ref = _reference_resolve(rng, rows)
        df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], br.FLAT_SCHEMA
        )
        got = [r.asDict() for r in resolve_events(df).collect()]
        from collections import Counter

        assert Counter(map(_norm, got)) == Counter(
            map(_norm, [{c: e[c] for c in cols} for e in ref])
        ), f"trial {trial}: resolve output diverges"


def _reference_rekey(rng: random.Random, rows: list[dict]) -> list[dict]:
    states: dict = {}
    out: list[dict] = []
    for batch in _batches(rng, rows, rng.randint(1, 4)):
        per_key: dict = {}
        for r in batch:
            per_key.setdefault(r["process_instance_key"], []).append(r)
        for k, evs in per_key.items():
            st = states.setdefault(k, sm.RekeyState())
            _st, emitted = sm.rekey_step(st, [dict(e) for e in _srt(evs)])
            out.extend(emitted)
    return out


def test_rekey_events_matches_streaming_topology(spark) -> None:
    rng = random.Random(1414)
    in_cols = [f.name for f in br.ROUTED_SCHEMA.fields]
    out_cols = [f.name for f in br.REKEYED_SCHEMA.fields]
    for trial in range(6):
        rows = _rand_events(rng, rng.randint(5, 120))
        for r in rows:  # routed shape: registry enrichment never nulls these
            r["process_id"] = "PayerFundTransfer"
            r["tenant"] = "acme"
            r["process_type"] = "TRANSFER"
            r["process_direction"] = "OUTGOING"
        ref = _reference_rekey(rng, rows)
        df = spark.createDataFrame(
            [tuple(r[c] for c in in_cols) for r in rows], br.ROUTED_SCHEMA
        )
        got = [r.asDict() for r in br.rekey_events(df).collect()]
        from collections import Counter

        assert Counter(map(_norm, got)) == Counter(
            map(_norm, [{c: e.get(c) for c in out_cols} for e in ref])
        ), f"trial {trial}: rekey output diverges"


def _reference_entity(
    rng: random.Random, rows: list[dict]
) -> tuple[list, list, dict]:
    """entity_stage over randomized micro-batch splits + the
    materialize_tables fold: returns (variable rows, task rows,
    {(kind, wik): payload dict} latest snapshots)."""
    states: dict = {}
    variables, tasks = [], []
    snaps: dict = {}
    for batch in _batches(rng, rows, rng.randint(1, 4)):
        per_key: dict = {}
        for r in batch:
            per_key.setdefault(r["effective_key"], []).append(r)
        for k, evs in per_key.items():
            st = states.setdefault(k, sm.EntityState())
            _st, emitted = sm.entity_step(st, [dict(e) for e in _srt(evs)])
            st.seq += 1
            for row in emitted:
                row = dict(row)
                kind = row.pop("kind")
                (variables if kind == "variable" else tasks).append(row)
            snap = sm.entity_snapshot(int(k), st)
            if snap is not None:
                kind = snap.pop("kind")
                if kind in ("transfer", "transaction_request", "batch"):
                    snaps[(kind, snap["workflow_instance_key"])] = snap
    return variables, tasks, snaps


def test_entity_tables_match_streaming_topology(spark) -> None:
    from pyspark.sql import functions as F

    rng = random.Random(1417)
    in_cols = [f.name for f in br.REKEYED_SCHEMA.fields]
    for trial in range(4):
        rows = _rand_events(rng, rng.randint(10, 150))
        for r in rows:
            ptype = rng.choice(["TRANSFER", "TRANSACTION-REQUEST", "BATCH", "UNKNOWN"])
            r["process_id"] = "p"
            r["tenant"] = "acme"
            r["process_type"] = ptype
            r["process_direction"] = rng.choice(["INCOMING", "OUTGOING", "UNKNOWN"])
            r["effective_key"] = r["process_instance_key"]
            r["child_start"] = False
        ref_vars, ref_tasks, ref_snaps = _reference_entity(rng, rows)
        df = spark.createDataFrame(
            [tuple(r[c] for c in in_cols) for r in rows], br.REKEYED_SCHEMA
        )
        acc = br._accepted_variables(df)
        got_vars = [
            r.asDict()
            for r in acc.select(
                F.col("process_definition_key").alias("workflow_key"),
                F.col("process_instance_key").alias("workflow_instance_key"),
                "timestamp",
                "name",
                "value",
            ).collect()
        ]
        from collections import Counter

        assert Counter(map(_norm, got_vars)) == Counter(
            map(_norm, ref_vars)
        ), f"trial {trial}: variable inserts diverge"
        got_snaps = {
            (r["kind"], r["workflow_instance_key"]): json.loads(r["payload"])
            for r in br._entity_snapshots(df, acc).collect()
            if r["kind"] in ("transfer", "transaction_request", "batch")
        }
        # _seq counts micro-batches seen per key — an engine detail that
        # orders snapshots within the fold; the tables read the LATEST
        # snapshot either way, so it is excluded from the comparison
        for d in list(got_snaps.values()) + list(ref_snaps.values()):
            d.pop("_seq", None)
        assert got_snaps == ref_snaps, f"trial {trial}: entity snapshots diverge"


def test_batch_build_matches_streaming_build(spark, sf_dir, tmp_path) -> None:
    """The integrated gate: both builds staged from the real corpus,
    five tables identical row-for-row and schema-for-schema."""
    from ph_ee_nats_importer_rdbms_spark.streaming import replay

    replay._build(spark, sf_dir, str(tmp_path / "batch"))
    replay._build_streaming(spark, sf_dir, str(tmp_path / "stream"))
    for name in replay.TABLES:
        a = spark.read.parquet(str(tmp_path / "batch" / "tables" / name))
        b = spark.read.parquet(str(tmp_path / "stream" / "tables" / name))
        assert a.schema == b.schema, f"{name}: schema diverges"
        assert a.exceptAll(b).count() == 0, f"{name}: batch-only rows"
        assert b.exceptAll(a).count() == 0, f"{name}: streaming-only rows"
