"""Streaming pipeline tests: state-machine unit tests (no Spark) + a
multi-hop end-to-end run compared against the batch pipeline on the same
corpus — the batch fixed point IS the specification for the final tables.
"""

from __future__ import annotations

import json

import pytest

from ph_ee_nats_importer_rdbms_spark.streaming import state as sm
from tests.zeebe_fixtures import (
    CHANNEL_REQUEST,
    escaped_json,
    flat_event,
    fresh_positions,
    job_event,
    process_event,
    to_df,
    variable_event,
)

# ---------------------------------------------------------------------------
# State machine unit tests (pure Python, fast)
# ---------------------------------------------------------------------------


def test_resolve_buffers_until_definition_known():
    st = sm.ResolveState()
    ev_unres = {"bpmn_process_id": "", "name": "amount", "timestamp": 1}
    st, out = sm.resolve_step(st, [ev_unres])
    assert out == [] and len(st.buffered) == 1
    carrier = {"bpmn_process_id": "flow-tn01", "timestamp": 2}
    st, out = sm.resolve_step(st, [carrier])
    # buffered event replays first, with the learned id
    assert [e.get("bpmn_process_id") for e in out] == ["flow-tn01", "flow-tn01"]
    assert st.buffered == [] and st.resolved_bpmn == "flow-tn01"
    # later unresolved events pass straight through
    st, out = sm.resolve_step(st, [dict(ev_unres)])
    assert out[0]["bpmn_process_id"] == "flow-tn01"


def test_rekey_child_lifecycle():
    st = sm.RekeyState()
    act = {
        "value_type": "PROCESS_INSTANCE", "bpmn_element_type": "PROCESS",
        "intent": "ELEMENT_ACTIVATING", "process_instance_key": 77,
        "parent_process_instance_key": 70,
    }
    var = {"value_type": "VARIABLE", "process_instance_key": 77, "name": "x"}
    done = {
        "value_type": "PROCESS_INSTANCE", "bpmn_element_type": "PROCESS",
        "intent": "ELEMENT_COMPLETED", "process_instance_key": 77,
    }
    st, out = sm.rekey_step(st, [act, var, done])
    assert [e["effective_key"] for e in out] == [70, 70, 70]
    assert out[0]["child_start"] is True
    assert st.parent_key is None  # completion popped the link
    # post-completion events are NOT re-keyed (map was popped)
    st, out = sm.rekey_step(st, [dict(var)])
    assert out[0]["effective_key"] == 77


def test_entity_d1_d3_d4_semantics():
    st = sm.EntityState()
    mk = lambda ts, name, value: {
        "value_type": "VARIABLE", "process_instance_key": 9, "timestamp": ts,
        "name": name, "value": value, "process_type": "TRANSFER",
        "process_definition_key": 1,
    }
    start = {
        "value_type": "PROCESS_INSTANCE", "bpmn_element_type": "PROCESS",
        "intent": "ELEMENT_ACTIVATING", "process_instance_key": 9,
        "timestamp": 5, "process_type": "TRANSFER",
        "process_direction": "INCOMING", "process_definition_key": 1,
    }
    end = dict(start, intent="ELEMENT_COMPLETED", timestamp=30)
    st, out = sm.entity_step(
        st,
        [
            start,
            mk(10, "amount", '"5.00"'),
            mk(10, "amount", '"9.99"'),   # D1: same ts -> dropped
            mk(20, "amount", '"7.00"'),   # newer ts -> wins
            dict(start, timestamp=25),     # D3: second start ignored
            end,
            dict(end, timestamp=40),       # D4: second completion ignored
        ],
    )
    assert st.entity["amount"] == 7.0
    assert st.entity["started_at"] == 5 and st.entity["completed_at"] == 30
    assert st.entity["status"] == "COMPLETED"
    assert st.entity["direction"] == "INCOMING"
    # two accepted variable rows (D1 kept ts=10 once and ts=20)
    assert [r["timestamp"] for r in out if r["kind"] == "variable"] == [10, 20]


def test_entity_d1_keys_on_the_variables_own_instance():
    """D1 dedups per (own instance, name): a re-keyed child's variable at
    the parent's timestamp is kept, a repeat of it is not, and a state
    blob written before the child map existed loads with bare-name keys
    still meaning the effective key's own variables."""
    old_blob = json.dumps(
        {
            "entity": {}, "entity_type": None, "started": False,
            "completed": False, "var_max_ts": {"amount": 10},
            "tasks_seen": [], "seq": 1, "tenant": None,
        }
    )
    st = sm.EntityState.from_json(old_blob)
    mk = lambda inst, ts: {  # noqa: E731
        "value_type": "VARIABLE", "process_instance_key": inst,
        "effective_key": 9, "timestamp": ts, "name": "amount",
        "value": '"1.00"', "process_type": "UNKNOWN",
    }
    st, out = sm.entity_step(st, [mk(9, 10), mk(12, 10), mk(12, 10)])
    assert [r["workflow_instance_key"] for r in out] == [12]
    st = sm.EntityState.from_json(st.to_json())
    assert st.var_max_ts == {"amount": 10}
    assert st.child_var_max_ts == {"12": {"amount": 10}}


def test_entity_task_dedup_and_null_type_guard():
    st = sm.EntityState()
    job = lambda intent, ts, jt="svc": {
        "value_type": "JOB", "process_instance_key": 3, "timestamp": ts,
        "element_id": "T1", "intent": intent, "job_type": jt,
        "record_type": "EVENT", "process_type": "TRANSFER",
        "process_definition_key": 1,
    }
    st, out = sm.entity_step(
        st, [job("CREATED", 1), job("CREATED", 2), job("COMPLETED", 3),
             job("FAILED", 4, jt=None)]
    )
    kinds = [(r["intent"]) for r in out if r["kind"] == "task"]
    assert kinds == ["CREATED", "COMPLETED"]  # dup CREATED + null-type dropped


def test_entity_mapper_interpretation_matches_condition_gates():
    st = sm.EntityState()
    start = {
        "value_type": "PROCESS_INSTANCE", "bpmn_element_type": "PROCESS",
        "intent": "ELEMENT_ACTIVATING", "process_instance_key": 4,
        "timestamp": 1, "process_type": "TRANSFER",
        "process_direction": "INCOMING", "process_definition_key": 1,
    }
    lqr = {
        "value_type": "VARIABLE", "process_instance_key": 4, "timestamp": 2,
        "name": "localQuoteResponse", "value": escaped_json(
            {"fspFee": {"amount": "1.25", "currency": "USD"}, "quoteCode": "Q-7"}
        ),
        "process_type": "TRANSFER", "process_definition_key": 1,
    }
    st, _ = sm.entity_step(st, [start, lqr])
    # INCOMING direction -> payee_* fields set, payer_* untouched
    assert st.entity["payee_fee"] == 1.25
    assert st.entity["payee_quote_code"] == "Q-7"
    assert "payer_fee" not in st.entity


def test_fold_carries_null_key_group_across_arrow_batches():
    """A null ``long`` key reaches the native replay's mapInPandas fold as
    float64 NaN. A null-key group split across two Arrow batches must
    still be folded once, as one group (pure pandas, no Spark)."""
    import pandas as pd

    from ph_ee_nats_importer_rdbms_spark.streaming.batch_replay import (
        _group_folder,
    )

    def fold_records(key, records):
        return [{"k": key, "n": len(records)}]

    run = _group_folder("k", fold_records, ["k", "n"])
    nan = float("nan")
    # Spark sorts nulls first, so the null group leads the partition
    batches = [
        pd.DataFrame({"k": [nan, nan], "ts": [1, 2]}),
        pd.DataFrame({"k": [nan, 5.0], "ts": [3, 4]}),
    ]
    got = [
        (None if pd.isna(k) else k, n)
        for out in run(iter(batches))
        for k, n in zip(out["k"], out["n"])
    ]
    assert got == [(None, 3), (5.0, 1)]


# ---------------------------------------------------------------------------
# Replay-wrapper parity: the vectorized resolve batch core
# (pipeline._resolve_batch) and hop A's step (_resolve_rekey_batch) must
# replay sm.resolve_step / sm.rekey_step exactly — same emitted rows,
# same carried state — across randomized multi-batch event sequences.
# ---------------------------------------------------------------------------


def _random_flat_events(rng, n):
    """n flat-schema events of ONE definition key over a few instances
    (now and then a null one): mixed null/empty/real bpmn, and
    call-activity children that register and complete links."""
    from ph_ee_nats_importer_rdbms_spark.streaming.pipeline import FLAT_SCHEMA

    cols = [f.name for f in FLAT_SCHEMA.fields]
    rows = []
    for i in range(n):
        rows.append(
            {
                **{c: None for c in cols},
                "partition_id": 1,
                "position": i,
                "key": 100 + i,
                "timestamp": int(rng.choice(range(1000, 1020))),
                "record_type": "EVENT",
                "value_type": rng.choice(
                    ["PROCESS_INSTANCE", "PROCESS_INSTANCE", "VARIABLE", "JOB"]
                ),
                "intent": rng.choice(
                    ["ELEMENT_ACTIVATING", "ELEMENT_COMPLETED", "CREATED"]
                ),
                "bpmn_process_id": rng.choice([None, "", "proc-a", "proc-b"]),
                "process_instance_key": rng.choice([7, 8, 9, 7, 8, 9, None]),
                "process_definition_key": 42,
                "parent_process_instance_key": rng.choice([None, -1, 0, 3, 3, 9]),
                "bpmn_element_type": rng.choice(["PROCESS", "PROCESS", "SERVICE_TASK"]),
                "element_id": f"el{i % 3}",
                "name": f"v{i % 4}",
                "value": '"x"',
                "job_type": "jt",
            }
        )
    return cols, rows


def _batches(rng, rows, k):
    """Split rows into k contiguous batches."""
    cuts = sorted(rng.sample(range(1, len(rows)), k - 1))
    return [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]


def test_resolve_batch_matches_resolve_step() -> None:
    import random

    import pandas as pd

    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming import state as sm

    rng = random.Random(1307)
    for trial in range(40):
        cols, rows = _random_flat_events(rng, rng.randint(1, 30))
        nb = rng.randint(1, 4)
        batches = (
            [rows]
            if nb == 1 or len(rows) < 2
            else _batches(rng, rows, min(nb, len(rows)))
        )
        ref_state = sm.ResolveState()
        vec_resolved, vec_buffered = None, []
        for batch in batches:
            pdf = pd.DataFrame(batch, columns=cols)
            srt = sorted(batch, key=lambda e: (e["timestamp"], e["position"]))
            ref_state, ref_out = sm.resolve_step(
                ref_state, [dict(e) for e in srt]
            )
            vec_resolved, vec_buffered, vec_pdf = sp._resolve_batch(
                vec_resolved, vec_buffered, pdf
            )
            got = sp._records(vec_pdf)
            assert got == ref_out, f"trial {trial}: emitted rows diverge"
        assert vec_resolved == ref_state.resolved_bpmn
        assert vec_buffered == ref_state.buffered


def test_resolve_rekey_batch_matches_resolve_then_rekey_step() -> None:
    """Hop A's step (pipeline._resolve_rekey_batch) equals sm.resolve_step
    followed by a per-instance sm.rekey_step in _event_sort_key order:
    the same emitted rows and the same carried state (resolution,
    buffered rows, live links), across randomized multi-batch sequences
    of one definition key."""
    import random

    import pandas as pd

    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    rng = random.Random(4113)
    held = popped = 0
    for trial in range(60):
        cols, rows = _random_flat_events(rng, rng.randint(1, 40))
        # the rows enter hop A's operator with the unlinked C4 values
        cols += ["effective_key", "child_start"]
        for r in rows:
            r.update(effective_key=r["process_instance_key"], child_start=False)
        nb = rng.randint(1, 4)
        batches = (
            [rows]
            if nb == 1 or len(rows) < 2
            else _batches(rng, rows, min(nb, len(rows)))
        )
        ref, links, blob = sm.ResolveState(), {}, None
        for batch in batches:
            srt = sorted(batch, key=lambda e: (e["timestamp"], e["position"]))
            ref, resolved = sm.resolve_step(ref, [dict(e) for e in srt])
            by_instance: dict = {}
            for e in sorted(resolved, key=sp._event_sort_key):
                by_instance.setdefault(e["process_instance_key"], []).append(e)
            want = []
            for k, events in by_instance.items():
                prior = links.pop(k, None)
                st, out = sm.rekey_step(sm.RekeyState(parent_key=prior), events)
                if st.parent_key is not None:
                    links[k] = st.parent_key
                elif prior is not None or any(e["child_start"] for e in out):
                    popped += 1
                want += out
            held += bool(links)
            got, blob = sp._resolve_rekey_batch(blob, pd.DataFrame(batch, columns=cols))
            key = lambda e: (e["timestamp"], e["position"])  # noqa: E731
            assert sorted(sp._records(got), key=key) == sorted(want, key=key), (
                f"trial {trial}: emitted rows diverge"
            )
            state = json.loads(blob)
            assert state["resolved_bpmn"] == ref.resolved_bpmn
            assert state["buffered"] == ref.buffered
            assert dict(state["links"]) == links
    assert held and popped


def test_resolve_rekey_state_drops_a_completed_childs_link() -> None:
    """A call-activity child's link sits in its definition's hop-A state
    while the child runs, and leaves it with the child's COMPLETED."""
    import pandas as pd

    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    cols = [f.name for f in sp._KEYED_SCHEMA.fields]

    def child(ts, value_type, intent, element="PROCESS"):
        return {
            **{c: None for c in cols},
            "effective_key": 101, "child_start": False,
            "partition_id": 1, "position": ts, "timestamp": ts,
            "value_type": value_type, "intent": intent,
            "bpmn_process_id": "flow-tn01", "process_instance_key": 101,
            "process_definition_key": 5002,
            "parent_process_instance_key": 100, "bpmn_element_type": element,
        }

    out, blob = sp._resolve_rekey_batch(
        None,
        pd.DataFrame([child(1, "PROCESS_INSTANCE", "ELEMENT_ACTIVATING")], columns=cols),
    )
    assert json.loads(blob)["links"] == [[101, 100]]
    assert out[["effective_key", "child_start"]].values.tolist() == [[100, True]]
    out, blob = sp._resolve_rekey_batch(
        blob,
        pd.DataFrame(
            [
                child(2, "VARIABLE", "CREATED", element=None),
                child(3, "PROCESS_INSTANCE", "ELEMENT_COMPLETED"),
            ],
            columns=cols,
        ),
    )
    assert out["effective_key"].tolist() == [100, 100]
    assert json.loads(blob)["links"] == []


def test_corpus_positions_are_per_corpus() -> None:
    """Two _corpus() calls, with other fixture events made in between,
    give the same events, and the D1 duplicate tr-2 still sorts after
    tr-1."""
    first = _corpus()
    for _ in range(20):
        flat_event()
    assert _corpus() == first
    pos = {e["value"]: e["position"] for e in first if e.get("name") == "transactionId"}
    assert pos['"tr-1"'] < pos['"tr-2"']


# ---------------------------------------------------------------------------
# End-to-end multi-hop streaming vs batch pipeline
# ---------------------------------------------------------------------------


def _corpus() -> list[dict]:
    """A corpus exercising C4 (call activity), C5 (unresolved bpmn), D1-D4,
    and all three entity types. Its positions are numbered per corpus, so
    every call returns the same events."""
    with fresh_positions():
        return _corpus_events()


def _corpus_events() -> list[dict]:
    ev = []
    # transfer with call-activity child (parent 100, child 101)
    child_start = process_event(
        101, "ELEMENT_ACTIVATING", 3_000, parent=100, definition=5002
    )
    pos = child_start["position"]
    ev += [
        process_event(100, "ELEMENT_ACTIVATING", 1_000),
        variable_event(100, "transactionId", '"tx-A"', 2_000),
        variable_event(100, "channelRequest", escaped_json(CHANNEL_REQUEST), 2_500),
        child_start,
        # D1 across the live link: parent and child both write amount at
        # ts 3000. The child's record (partition 2) arrives first; the
        # parent's (partition 1) arrives later but sorts first by
        # position. D1 keys on each variable's own instance, so both rows
        # are kept whatever the arrival order.
        variable_event(
            101, "amount", '"20.00"', 3_000, definition=5002,
            partition_id=2, position=pos + 2,
        ),
        variable_event(100, "amount", '"10.00"', 3_000, position=pos + 1),
        variable_event(101, "amount", '"77.70"', 3_500, definition=5002),
        process_event(101, "ELEMENT_COMPLETED", 4_000, parent=100, definition=5002),
        job_event(100, "svc-a", "T1", "CREATED", 4_200),
        job_event(100, "svc-a", "T1", "CREATED", 4_300),  # D2 dup
        process_event(100, "ELEMENT_COMPLETED", 5_000),
    ]
    # C5: variable arrives with empty bpmn BEFORE any carrier of def 6001
    ev += [
        variable_event(200, "batchId", '"B-9"', 6_000, bpmn="", definition=6001),
        process_event(200, "ELEMENT_ACTIVATING", 7_000, bpmn="bulk_processor-tn02", definition=6001),
        variable_event(200, "fileName", '"f.csv"', 7_500, bpmn="bulk_processor-tn02", definition=6001),
    ]
    # transaction request with same-ts D1 duplicate
    ev += [
        process_event(300, "ELEMENT_ACTIVATING", 8_000, bpmn="mpesa_flow-tn03", definition=7001),
        variable_event(300, "transactionId", '"tr-1"', 9_000, bpmn="mpesa_flow-tn03", definition=7001),
        variable_event(300, "transactionId", '"tr-2"', 9_000, bpmn="mpesa_flow-tn03", definition=7001, position=999_999),
        variable_event(300, "transactionState", '"ACCEPTED"', 9_500, bpmn="mpesa_flow-tn03", definition=7001),
    ]
    return ev


def _raw_json(flat: dict) -> str:
    """Inverse of parse_envelope: flat fixture row -> Zeebe 1.x envelope."""
    value: dict = {}
    for src, dst in (
        ("bpmn_process_id", "bpmnProcessId"),
        ("process_instance_key", "processInstanceKey"),
        ("process_definition_key", "processDefinitionKey"),
        ("parent_process_instance_key", "parentProcessInstanceKey"),
        ("bpmn_element_type", "bpmnElementType"),
        ("element_id", "elementId"),
        ("name", "name"),
        ("job_type", "type"),
    ):
        if flat.get(src) is not None:
            value[dst] = flat[src]
    if flat.get("value") is not None:
        # the raw variable value string, exactly as the fixture stored it
        value["value"] = flat["value"]
    env = {
        "partitionId": flat.get("partition_id"),
        "position": flat.get("position"),
        "key": flat.get("key"),
        "timestamp": flat.get("timestamp"),
        "recordType": flat.get("record_type"),
        "valueType": flat.get("value_type"),
        "intent": flat.get("intent"),
        "value": value,
    }
    return json.dumps(env)


def _three_drains(spark, root) -> str:
    """Run the 3-hop topology as three drains, one file drop each, and
    return the change log path. Every hop runs three micro-batches, and
    the corpus is cut into contiguous, time-ordered chunks so that state
    crosses both boundaries: the C4 child activates in drop 0 and
    completes in drop 1, instance 100 starts in drop 0 and completes in
    drop 1, the child's amount at ts 3000 (drop 0) precedes the parent's
    same-timestamp amount (drop 1), and the C5 gapped row (drop 1) waits
    for its carrier (drop 2)."""
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    src = root / "events"
    src.mkdir()
    for i, chunk in enumerate([corpus[0:5], corpus[5:12], corpus[12:]]):
        (src / f"drop_{i}.jsonl").write_text(
            "\n".join(_raw_json(e) for e in chunk) + "\n"
        )
        paths = sp.run_multi_hop(
            spark, sp.read_raw_stream(spark, str(src)), str(root / "work")
        )
    return paths["changes"]


@pytest.fixture(scope="module")
def three_batch_changes(spark, tmp_path_factory) -> str:
    return _three_drains(spark, tmp_path_factory.mktemp("three_batch"))


def test_multi_hop_matches_batch(spark, three_batch_changes):
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.operators.pipeline import run_import_pipeline
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    got = sp.materialize_tables(spark, three_batch_changes)

    # batch reference on the same events — via the raw-JSON parse path too
    raw_df = spark.createDataFrame(
        [(_raw_json(e),) for e in corpus], "value string"
    )
    want = run_import_pipeline(parse_envelope(raw_df))

    # --- transfers: parent 100 carries the child's amount (C4) ---
    t_want = {r["workflow_instance_key"]: r.asDict() for r in want["transfers"].collect()}
    t_got = {
        r["workflow_instance_key"]: json.loads(r["payload"])
        for r in got["transfers"].collect()
    }
    assert set(t_got) == set(t_want) == {100}
    w, g = t_want[100], t_got[100]
    assert float(g["amount"]) == float(w["amount"]) == 77.70
    assert g["status"] == w["status"] == "COMPLETED"
    assert g["transaction_id"] == w["transaction_id"] == "tx-A"
    assert g["direction"] == w["direction"]
    # the child's COMPLETED (ts 4000) re-keys to the parent and wins first-
    # completion (D4); the parent's own COMPLETED at 5000 is then dropped —
    # same as the batch min() and the reference's idempotent transferEnded
    assert g["started_at"] == 1_000 and g["completed_at"] == 4_000
    import pyspark.sql.functions as _F
    w_ms = want["transfers"].select(
        _F.unix_millis("completed_at").alias("ms")
    ).collect()[0]["ms"]
    assert w_ms == g["completed_at"]

    # --- batches: C5 resolution routed instance 200 to BATCH ---
    b_got = {
        r["workflow_instance_key"]: json.loads(r["payload"])
        for r in got["batches"].collect()
    }
    assert b_got[200]["batch_id"] == "B-9"
    assert b_got[200]["request_file"] == "f.csv"

    # --- transaction requests: D1 kept tr-1; INCOMING state applied ---
    tr_got = {
        r["workflow_instance_key"]: json.loads(r["payload"])
        for r in got["transaction_requests"].collect()
    }
    assert tr_got[300]["transaction_id"] == "tr-1"
    assert tr_got[300]["state"] == "ACCEPTED"

    # --- event logs match the batch tables exactly ---
    for name in ("variables", "tasks"):
        wv = {tuple(r) for r in want[name].collect()}
        gv = {tuple(r) for r in got[name].select(*want[name].columns).collect()}
        assert gv == wv, f"{name} mismatch"


def test_multi_hop_matches_batch_replay(spark, three_batch_changes):
    """Default-selection parity pin: the five typed tables of the 3-hop
    topology (three ordered one-file micro-batches, change-log fold,
    ``_typed_entity``) equal ``batch_replay.replay_tables`` on the same
    events, row for row."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming.replay import (
        _ENTITY_SCHEMAS,
        TABLES,
    )

    got = sp.materialize_tables(spark, three_batch_changes)
    for name, schema in _ENTITY_SCHEMAS.items():
        got[name] = br._typed_entity(got[name], schema)
    raw = spark.createDataFrame(
        [(_raw_json(e),) for e in _corpus()], "value string"
    )
    want = br.replay_tables(spark, parse_envelope(raw))
    for name in TABLES:
        cols = want[name].columns
        w = sorted(map(tuple, want[name].collect()), key=repr)
        g = sorted(map(tuple, got[name].select(*cols).collect()), key=repr)
        assert w, f"{name}: empty on both sides proves nothing"
        assert g == w, f"{name} diverges"


def test_linked_child_row_without_definition_key_stays_on_the_child(spark, tmp_path):
    """Hop A's C4 contract, pinned against ``batch_replay.replay_tables``.
    The stream re-keys a call-activity child's rows through the links its
    DEFINITION's state holds, so it needs every row of the child to carry
    the child's definition key, as Zeebe writes them on process-instance,
    variable and job records. A child VARIABLE that arrives with a
    bpmnProcessId but no definition key falls in the null-definition
    group, which does not hold the link: the stream keeps it on the
    child's own key (a transfer row of its own, and the parent misses
    its amount), where the batch replay, linked per instance like the
    reference's inflightCallActivities map, moves it to the parent. The
    other tables agree row for row."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming.replay import (
        _ENTITY_SCHEMAS,
        TABLES,
    )

    with fresh_positions():
        events = [
            process_event(100, "ELEMENT_ACTIVATING", 1_000),
            variable_event(100, "transactionId", '"tx-A"', 2_000),
            process_event(101, "ELEMENT_ACTIVATING", 3_000, parent=100, definition=5002),
            variable_event(101, "amount", '"20.00"', 3_500, definition=5002),
            variable_event(101, "amount", '"30.00"', 3_600, definition=None),
            process_event(101, "ELEMENT_COMPLETED", 4_000, parent=100, definition=5002),
            process_event(100, "ELEMENT_COMPLETED", 5_000),
        ]
    src = tmp_path / "events"
    src.mkdir()
    (src / "all.jsonl").write_text("\n".join(_raw_json(e) for e in events) + "\n")
    paths = sp.run_multi_hop(spark, sp.read_raw_stream(spark, str(src)), str(tmp_path / "w"))
    got = sp.materialize_tables(spark, paths["changes"])
    for name, schema in _ENTITY_SCHEMAS.items():
        got[name] = br._typed_entity(got[name], schema)
    raw = spark.createDataFrame([(_raw_json(e),) for e in events], "value string")
    want = br.replay_tables(spark, parse_envelope(raw))
    for name in TABLES:
        cols = want[name].columns
        w = sorted(map(tuple, want[name].collect()), key=repr)
        g = sorted(map(tuple, got[name].select(*cols).collect()), key=repr)
        if name != "transfers":
            assert g == w, f"{name} diverges"
    amounts = lambda df: {  # noqa: E731
        r["workflow_instance_key"]: (r["status"], float(r["amount"]))
        for r in df.collect()
    }
    assert amounts(want["transfers"]) == {100: ("COMPLETED", 30.0)}
    assert amounts(got["transfers"]) == {
        100: ("COMPLETED", 20.0),
        101: ("IN_PROGRESS", 30.0),
    }


def test_resolve_partition_tie_breaks_on_partition_id(spark):
    """Two truthy events for one definition key share (timestamp,
    position) on partitions 2 and 1 and arrive in that order; the
    partition-2 id sorts after the partition-1 id. The streaming resolve
    batch and the native ``classify.resolve_events`` both resolve the key
    to the partition-1 id."""
    import pandas as pd

    from ph_ee_nats_importer_rdbms_spark.operators.classify import resolve_events
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    cols = [f.name for f in br.FLAT_SCHEMA.fields]

    def event(partition, bpmn, ts, position):
        return {
            **{c: None for c in cols},
            "partition_id": partition,
            "position": position,
            "key": 10 + partition,
            "timestamp": ts,
            "record_type": "EVENT",
            "value_type": "PROCESS_INSTANCE",
            "intent": "ELEMENT_ACTIVATING",
            "bpmn_process_id": bpmn,
            "process_instance_key": 7,
            "process_definition_key": 42,
        }

    rows = [
        event(2, "flow-p2", 1_000, 5),
        event(1, "flow-p1", 1_000, 5),
        event(1, "", 2_000, 6),  # the gapped row takes the resolution
    ]
    resolved, buffered, out = sp._resolve_batch(
        None, [], pd.DataFrame(rows, columns=cols)
    )
    assert resolved == "flow-p1" and buffered == []
    assert out.loc[out["timestamp"] == 2_000, "bpmn_process_id"].tolist() == [
        "flow-p1"
    ]

    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows], br.FLAT_SCHEMA
    )
    native = resolve_events(df).filter("timestamp = 2000").collect()
    assert [r["bpmn_process_id"] for r in native] == ["flow-p1"]


def test_multi_hop_rocksdb_state_store(spark, tmp_path):
    """Same 3-hop topology on the RocksDB state-store provider (the
    at-scale backend): cross-batch C4/C5 state must survive in RocksDB and
    produce the identical change log."""
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    try:
        sp.configure_state_store(spark, "rocksdb")
        got = sp.materialize_tables(spark, _three_drains(spark, tmp_path))
        t = {
            r["workflow_instance_key"]: json.loads(r["payload"])
            for r in got["transfers"].collect()
        }
        assert set(t) == {100}
        assert t[100]["status"] == "COMPLETED"
        assert float(t[100]["amount"]) == 77.70
        assert t[100]["completed_at"] == 4_000
    finally:
        sp.configure_state_store(spark, "hdfs")  # don't leak into other tests


def test_multi_hop_restart_resumes_state(spark, tmp_path):
    """Process restart between event arrivals (checkpoint resume): a second
    run_multi_hop over the SAME work_dir must (a) not re-emit run-1 changes
    (exactly-once), (b) restore keyed state so run-2 events complete run-1
    instances (C3/D4), dedup against run-1 history (D1), and re-key through
    a parent link learned in run 1 (C4)."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.operators.pipeline import run_import_pipeline
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    with fresh_positions():
        batch_a = [
            process_event(100, "ELEMENT_ACTIVATING", 1_000),
            variable_event(100, "transactionId", '"tx-A"', 2_000),
            # child activates in run 1 -> parent link must survive the restart
            process_event(101, "ELEMENT_ACTIVATING", 3_000, parent=100, definition=5002),
        ]
        batch_b = [
            # child variable in run 2 re-keys to parent via the run-1 link (C4)
            variable_event(101, "amount", '"12.34"', 3_500, definition=5002),
            # D1: same (instance, name, ts) as run 1 -> must be suppressed
            variable_event(100, "transactionId", '"tx-DUP"', 2_000, position=888_888),
            # completion in run 2 for the instance started in run 1 (C3)
            process_event(100, "ELEMENT_COMPLETED", 5_000),
        ]

    src = tmp_path / "events"
    src.mkdir()
    work = str(tmp_path / "work")
    (src / "drop_0.jsonl").write_text(
        "\n".join(_raw_json(e) for e in batch_a) + "\n"
    )
    sp.run_multi_hop(spark, sp.read_raw_stream(spark, str(src)), work)

    (src / "drop_1.jsonl").write_text(
        "\n".join(_raw_json(e) for e in batch_b) + "\n"
    )
    # restart, same checkpoints
    paths = sp.run_multi_hop(spark, sp.read_raw_stream(spark, str(src)), work)
    got = sp.materialize_tables(spark, paths["changes"])

    t = {
        r["workflow_instance_key"]: json.loads(r["payload"])
        for r in got["transfers"].collect()
    }
    assert set(t) == {100}
    assert t[100]["transaction_id"] == "tx-A"  # D1 held across restart
    assert float(t[100]["amount"]) == 12.34  # C4 link held across restart
    assert t[100]["status"] == "COMPLETED" and t[100]["completed_at"] == 5_000

    # exactly-once: the variables log has no duplicate rows after two runs
    vrows = got["variables"].collect()
    assert len(vrows) == len({tuple(r) for r in vrows})
    names = sorted(
        (r["workflow_instance_key"], r["name"]) for r in vrows
    )
    assert names == [(100, "transactionId"), (101, "amount")]

    # batch replay of A+B agrees with the restarted streaming run
    raw_df = spark.createDataFrame(
        [(_raw_json(e),) for e in batch_a + batch_b], "value string"
    )
    want = run_import_pipeline(parse_envelope(raw_df))
    w = want["transfers"].collect()[0]
    assert w["transaction_id"] == t[100]["transaction_id"]
    assert float(w["amount"]) == float(t[100]["amount"])
    assert w["status"] == t[100]["status"]


def _crossing_cuts(flat: list[dict], fractions=(1 / 3, 2 / 3)) -> list[int]:
    """For each fraction, the first cut index at or after it across which
    BOTH a live call-activity link (the child's activation before the cut,
    its re-keyed completion after it) and an in-flight entity (a process
    activation before the cut, its completion after it) carry state.
    ``flat`` is in arrival order; a cut ``i`` splits ``flat[:i]`` from
    ``flat[i:]``."""
    n = len(flat)
    link_at: dict = {}
    start_at: dict = {}
    link_cover = [0] * (n + 2)
    entity_cover = [0] * (n + 2)

    def cover(arr, a, b):  # cuts a+1 .. b see the span (a, b]
        arr[a + 1] += 1
        arr[b + 1] -= 1

    for i, e in enumerate(flat):
        if (e["value_type"], e["bpmn_element_type"]) != ("PROCESS_INSTANCE", "PROCESS"):
            continue
        k = e["process_instance_key"]
        if e["intent"] == "ELEMENT_ACTIVATING":
            start_at.setdefault(k, i)
            if (e["parent_process_instance_key"] or 0) > 0:
                link_at.setdefault(k, i)
        elif e["intent"] == "ELEMENT_COMPLETED":
            if k in link_at:
                cover(link_cover, link_at.pop(k), i)
            if k in start_at:
                cover(entity_cover, start_at.pop(k), i)
    cuts = []
    live_links = live_entities = 0
    wanted = iter(sorted(int(f * n) for f in fractions))
    target = next(wanted)
    for i in range(n + 1):
        live_links += link_cover[i]
        live_entities += entity_cover[i]
        if i >= target and live_links and live_entities:
            cuts.append(i)
            target = next(wanted, None)
            if target is None:
                break
    return cuts


@pytest.mark.slow
def test_multi_hop_matches_batch_at_corpus_scale(spark, tmp_path):
    """The fixture-corpus parity test, scaled to the sf0.001 synthetic
    corpus (~11k events, ~3.7k instances): every D1/D2/C2-C5 path at
    corpus density. The time-ordered corpus is cut into three drops, and
    each drop is drained before the next lands (one ``run_multi_hop`` per
    drop, as in ``_three_drains``), so every hop runs three micro-batches.
    Each cut is placed (and asserted) where a live call-activity link and
    an in-flight entity cross it, so the hop-2 and hop-3 state carried
    across drains decides the output. The batch importer is the
    specification for the business fields, and the replay build
    (``batch_replay.replay_tables``) for all five typed tables, row for
    row."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.operators.pipeline import (
        run_import_pipeline,
    )
    from ph_ee_nats_importer_rdbms_spark.plans.queries import zeebe_events_df
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming.replay import (
        _ENTITY_SCHEMAS,
        TABLES,
    )
    import pyspark.sql.functions as F

    corpus_df = zeebe_events_df(spark, "/root/testdata/sf0.001")
    flat = [r.asDict() for r in corpus_df.collect()]
    flat.sort(key=lambda e: (e["timestamp"], e["position"]))

    cuts = _crossing_cuts(flat)
    assert len(cuts) == 2 and cuts[1] < len(flat), cuts
    assert cuts[0] < len(flat) // 2 < cuts[1], cuts

    src = tmp_path / "cs_events"
    src.mkdir()
    for i, (a, b) in enumerate(zip([0] + cuts, cuts + [len(flat)])):
        (src / f"drop_{i}.jsonl").write_text(
            "\n".join(_raw_json(e) for e in flat[a:b]) + "\n"
        )
        paths = sp.run_multi_hop(
            spark,
            sp.read_raw_stream(spark, str(src)),
            str(tmp_path / "cs_work"),
        )
    got = sp.materialize_tables(spark, paths["changes"])
    want = run_import_pipeline(corpus_df)

    # event logs: exact set equality
    for name in ("variables", "tasks"):
        wv = {tuple(r) for r in want[name].collect()}
        gv = {tuple(r) for r in got[name].select(*want[name].columns).collect()}
        assert len(gv) == len(wv) and gv == wv, f"{name} mismatch"

    # entity tables: compare the business fields per instance key
    def batch_snap(df, fields):
        out = {}
        for r in df.collect():
            d = r.asDict()
            out[d["workflow_instance_key"]] = tuple(d.get(f) for f in fields)
        return out

    def stream_snap(rows, fields):
        out = {}
        for r in rows:
            p = json.loads(r["payload"])
            out[p["workflow_instance_key"]] = tuple(p.get(f) for f in fields)
        return out

    t_fields = ("transaction_id", "status", "direction", "batch_id")
    w = batch_snap(want["transfers"], t_fields)
    g = stream_snap(got["transfers"].collect(), t_fields)
    assert set(w) == set(g)
    mismatches = {k for k in w if w[k] != g[k]}
    assert not mismatches, f"{len(mismatches)} transfer mismatches, e.g. {sorted(mismatches)[:3]}"
    # money + lifecycle timestamps compared via epoch-ms
    w_ms = {
        r["workflow_instance_key"]: (
            str(r["amount"]) if r["amount"] is not None else None,
            r["started_ms"],
            r["completed_ms"],
        )
        for r in want["transfers"].select(
            "workflow_instance_key",
            "amount",
            F.unix_millis("started_at").alias("started_ms"),
            F.unix_millis("completed_at").alias("completed_ms"),
        ).collect()
    }
    for r in got["transfers"].collect():
        p = json.loads(r["payload"])
        k = p["workflow_instance_key"]
        amt = p.get("amount")
        amt = f"{amt:.4f}" if amt is not None else None
        assert (amt, p.get("started_at"), p.get("completed_at")) == w_ms[k], k

    tr_fields = ("transaction_id", "state", "direction", "auth_type")
    assert batch_snap(want["transaction_requests"], tr_fields) == stream_snap(
        got["transaction_requests"].collect(), tr_fields
    )
    b_fields = ("batch_id", "request_file", "request_id", "note")
    assert batch_snap(want["batches"], b_fields) == stream_snap(
        got["batches"].collect(), b_fields
    )

    # all five typed tables, row for row, against the replay build over
    # the same envelopes
    replayed = br.replay_tables(spark, parse_envelope(spark.read.text(str(src))))
    for name, schema in _ENTITY_SCHEMAS.items():
        got[name] = br._typed_entity(got[name], schema)
    for name in TABLES:
        cols = replayed[name].columns
        w = sorted(map(tuple, replayed[name].collect()), key=repr)
        g = sorted(map(tuple, got[name].select(*cols).collect()), key=repr)
        assert w, f"{name}: empty on both sides proves nothing"
        assert g == w, f"{name} diverges from the replay build"


def test_run_deployment_requires_a_source(spark, tmp_path):
    """Misuse guard: neither source_dir nor nats_options is a clear error,
    not an obscure failure deep inside the file source."""
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    with pytest.raises(ValueError, match="ingestion source"):
        sp.run_deployment(
            spark, str(tmp_path / "w"), lambda t: None, lambda u, s: None
        )


def test_run_deployment_refuses_four_query_checkpoints(spark, tmp_path):
    """A work_dir drained by the older four-query topology holds state
    and a change log the two-query one cannot resume; it is refused with
    an error naming the old checkpoints."""
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    work = tmp_path / "old_work"
    for name in ("ckpt_resolved", "ckpt_rekeyed", "ckpt_changes", "ckpt_jdbc"):
        (work / name).mkdir(parents=True)
    (tmp_path / "src").mkdir()
    with pytest.raises(ValueError, match="four-query topology.*ckpt_rekeyed, ckpt_jdbc"):
        sp.run_deployment(
            spark, str(work), lambda t: None, lambda u, s: None,
            source_dir=str(tmp_path / "src"), distributed=False,
        )


def test_run_deployment_drain_starts_two_queries(spark, tmp_path):
    """One run_deployment drain starts exactly two streaming queries
    (hop A and hop B with the sink in its foreachBatch): hop A writes
    resolved/, and there is no rekeyed/ handoff and no separate sink
    checkpoint."""
    import os
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    class Count(StreamingQueryListener):
        def __init__(self):
            self.started, self.terminated = 0, 0
            self.cv = threading.Condition()

        def onQueryStarted(self, event):
            with self.cv:
                self.started += 1

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cv:
                self.terminated += 1
                self.cv.notify_all()

    src = tmp_path / "src"
    src.mkdir()
    (src / "all.jsonl").write_text("\n".join(_raw_json(e) for e in _corpus()) + "\n")
    work = tmp_path / "work"
    listener = Count()
    spark.streams.addListener(listener)
    try:
        sp.run_deployment(
            spark, str(work), lambda t: None, lambda u, s: None,
            source_dir=str(src), distributed=False,
        )
        with listener.cv:
            listener.cv.wait_for(lambda: listener.terminated >= listener.started, 30)
    finally:
        spark.streams.removeListener(listener)
    assert listener.started == 2
    assert sorted(n for n in os.listdir(work) if n.startswith("ckpt_")) == [
        "ckpt_changes",
        "ckpt_resolved",
    ]
    assert (work / "resolved").is_dir() and not (work / "rekeyed").exists()


def test_run_deployment_end_to_end_jdbc(spark, tmp_path):
    """The one-call deployed topology: file-bridge source -> 3 hops ->
    per-tenant JDBC MERGE/append through a recording executor. Asserts the
    statements a real MySQL would receive, and that a restart with no new
    data replays nothing (checkpointed sink)."""
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    src = tmp_path / "dep_events"
    src.mkdir()
    (src / "all.jsonl").write_text("\n".join(_raw_json(e) for e in corpus) + "\n")

    writes: list[tuple[str, str]] = []  # (url, sql) pairs

    def executor(url, statements):
        for sql, batches in statements:
            writes.append((url, sql))

    def resolve_url(tenant):
        return f"jdbc:mysql://db/{tenant}" if tenant else None

    sp.run_deployment(
        spark,
        str(tmp_path / "dep_work"),
        resolve_url,
        executor,
        source_dir=str(src),
        distributed=False,  # in-memory recording executor: driver mode
    )

    urls = {u for u, _ in writes}
    assert any("tn01" in u for u in urls)
    merges = [s for _, s in writes if s.lstrip().upper().startswith("INSERT INTO PH_TRANSFERS")]
    assert merges and all("ON DUPLICATE KEY UPDATE" in s.upper() for s in merges)
    appends = [s for _, s in writes if "ph_variables" in s or "ph_tasks" in s]
    assert appends

    # restart with no new input: checkpoints replay nothing
    n = len(writes)
    sp.run_deployment(
        spark,
        str(tmp_path / "dep_work"),
        resolve_url,
        executor,
        source_dir=str(src),
        distributed=False,
    )
    assert len(writes) == n
