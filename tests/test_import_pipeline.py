"""End-to-end batch pipeline tests against the reference's documented
behaviors (FIXTURES.md §5 scenarios; citations in the operator modules)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.operators.pipeline import run_import_pipeline
from tests import zeebe_fixtures as zf


def _run(spark, rows):
    return run_import_pipeline(zf.to_df(spark, rows))


def _one(df):
    rows = df.collect()
    assert len(rows) == 1, f"expected 1 row, got {rows}"
    return rows[0]


def test_simple_transfer_completed(spark):
    rows = [
        zf.process_event(100, "ELEMENT_ACTIVATING", ts=1_000),
        zf.variable_event(100, "transactionId", '"abc-123"', ts=1_100),
        zf.variable_event(
            100, "channelRequest", zf.escaped_json(zf.CHANNEL_REQUEST), ts=1_150
        ),
        # LWW: the later plain 'amount' variable overwrites channelRequest's
        # amount, like the reference's in-order apply
        zf.variable_event(100, "amount", '"250.75"', ts=1_200),
        zf.variable_event(100, "currency", '"USD"', ts=1_250),
        zf.variable_event(
            100, "localQuoteResponse", zf.escaped_json(zf.LOCAL_QUOTE_RESPONSE), ts=1_400
        ),
        zf.process_event(100, "ELEMENT_COMPLETED", ts=2_000),
    ]
    out = _run(spark, rows)
    t = _one(out["transfers"])
    assert t.workflow_instance_key == 100
    assert t.transaction_id == "abc-123"
    assert str(t.amount) == "250.7500"
    assert t.currency == "USD"
    assert t.status == "COMPLETED"
    assert t.direction == "INCOMING"  # PayeeQuoteTransfer registry direction
    assert t.started_at is not None and t.completed_at is not None
    # channelRequest party extraction
    assert t.payer_party_id == "27710101999"
    assert t.payee_party_id_type == "MSISDN"
    # localQuoteResponse with INCOMING direction -> payee fee fields
    assert str(t.payee_fee) == "1.2500"
    assert t.payee_quote_code == "Q-77"
    assert t.payer_fee is None


def test_transfer_without_activation_is_in_progress(spark):
    rows = [zf.variable_event(101, "transactionId", '"t-1"', ts=1_000)]
    out = _run(spark, rows)
    t = _one(out["transfers"])
    assert t.status == "IN_PROGRESS"
    assert t.started_at is None
    assert t.direction is None  # transfers get direction only from start


def test_completed_only_instance_creates_nothing(spark):
    # InflightTransferManager.java:41-47 — end for unknown instance dropped
    rows = [zf.process_event(102, "ELEMENT_COMPLETED", ts=1_000)]
    out = _run(spark, rows)
    assert out["transfers"].count() == 0


def test_double_activating_first_wins(spark):
    rows = [
        zf.process_event(103, "ELEMENT_ACTIVATING", ts=1_000),
        zf.process_event(103, "ELEMENT_ACTIVATING", ts=5_000),
    ]
    t = _one(_run(spark, rows)["transfers"])
    assert t.started_at.timestamp() == 1.0


def test_call_activity_rekeys_to_parent(spark):
    # payee-flow.log shape: parent activates, child activates with
    # parentProcessInstanceKey, child's variables+completion land on parent
    rows = [
        zf.process_event(
            200, "ELEMENT_ACTIVATING", ts=1_000, bpmn="PayerFundTransfer-tn02",
            definition=6001,
        ),
        zf.process_event(
            201, "ELEMENT_ACTIVATING", ts=1_100, parent=200,
            bpmn="PayeeQuoteTransfer-tn02", definition=5001,
        ),
        zf.variable_event(
            201, "transactionId", '"child-tx"', ts=1_200,
            bpmn="PayeeQuoteTransfer-tn02", definition=5001,
        ),
        zf.process_event(
            201, "ELEMENT_COMPLETED", ts=1_900, parent=200,
            bpmn="PayeeQuoteTransfer-tn02", definition=5001,
        ),
    ]
    out = _run(spark, rows)
    t = _one(out["transfers"])
    assert t.workflow_instance_key == 200  # child rows folded into parent
    assert t.transaction_id == "child-tx"
    assert t.direction == "OUTGOING"  # own activation of PayerFundTransfer
    assert t.status == "COMPLETED"
    assert t.completed_at is not None


def test_child_start_starts_parent_outgoing(spark):
    # parent never has its own ACTIVATING: child activation starts it with
    # direction OUTGOING (RecordParser.java:190)
    rows = [
        zf.process_event(
            301, "ELEMENT_ACTIVATING", ts=1_500, parent=300,
            bpmn="PayeeQuoteTransfer-tn01",
        ),
    ]
    t = _one(_run(spark, rows)["transfers"])
    assert t.workflow_instance_key == 300
    assert t.direction == "OUTGOING"
    assert t.started_at.timestamp() == 1.5


def test_variable_lww_and_dedup(spark):
    # D1: same (instance, name, ts) -> first position wins and no extra row;
    # strictly newer ts -> new history row and the new value wins the pivot
    rows = [
        zf.variable_event(400, "amount", '"10.00"', ts=1_000, position=10),
        zf.variable_event(400, "amount", '"99.99"', ts=1_000, position=20),  # dup, dropped
        zf.variable_event(400, "amount", '"20.00"', ts=2_000, position=30),  # rewrite
    ]
    out = _run(spark, rows)
    hist = out["variables"].orderBy("timestamp").collect()
    assert [h.value for h in hist] == ['"10.00"', '"20.00"']
    t = _one(out["transfers"])
    assert str(t.amount) == "20.0000"


def test_task_dedup_on_element_and_intent(spark):
    rows = [
        zf.job_event(500, "payee-party-lookup", "Task_1", "CREATED", ts=1_000),
        zf.job_event(500, "payee-party-lookup", "Task_1", "CREATED", ts=2_000),  # dup
        zf.job_event(500, "payee-party-lookup", "Task_1", "COMPLETED", ts=3_000),
        zf.job_event(500, None, "Task_2", "CREATED", ts=4_000),  # null type skipped
    ]
    out = _run(spark, rows)
    tasks = out["tasks"].orderBy("timestamp").collect()
    assert [(t.element_id, t.intent, t.timestamp) for t in tasks] == [
        ("Task_1", "CREATED", 1_000),
        ("Task_1", "COMPLETED", 3_000),
    ]


def test_deployment_and_variable_document_dropped(spark):
    rows = [
        zf.flat_event(
            value_type="DEPLOYMENT", timestamp=1_000,
            bpmn_process_id="PayeeQuoteTransfer-tn01",
        ),
        zf.flat_event(
            value_type="VARIABLE_DOCUMENT", timestamp=1_100,
            bpmn_process_id="PayeeQuoteTransfer-tn01", process_instance_key=600,
        ),
    ]
    out = _run(spark, rows)
    assert all(out[k].count() == 0 for k in out)


def test_out_of_order_definition_resolution(spark):
    # C5: variable arrives with empty bpmnProcessId; another record carries
    # the definition->bpmn mapping; the variable is processed with it
    rows = [
        zf.variable_event(
            700, "transactionId", '"late-resolve"', ts=1_000, bpmn="", definition=7001
        ),
        zf.process_event(
            700, "ELEMENT_ACTIVATING", ts=1_500, bpmn="PayeeQuoteTransfer-tn01",
            definition=7001,
        ),
    ]
    out = _run(spark, rows)
    t = _one(out["transfers"])
    assert t.transaction_id == "late-resolve"
    assert t.status == "IN_PROGRESS"


def test_unroutable_records_dropped(spark):
    rows = [
        zf.variable_event(701, "transactionId", '"x"', ts=1_000, bpmn="", definition=None),
    ]
    out = _run(spark, rows)
    assert out["transfers"].count() == 0
    assert out["variables"].count() == 0


def test_unknown_process_type_skipped_for_entities(spark):
    rows = [
        zf.process_event(702, "ELEMENT_ACTIVATING", ts=1_000, bpmn="someNewFlow-tn01"),
        zf.variable_event(702, "transactionId", '"u"', ts=1_100, bpmn="someNewFlow-tn01"),
    ]
    out = _run(spark, rows)
    assert out["transfers"].count() == 0
    assert out["variables"].count() == 1  # still logged to ph_variables


def test_transfer_failure_via_error_information(spark):
    rows = [
        zf.process_event(800, "ELEMENT_ACTIVATING", ts=1_000),
        zf.variable_event(
            800, "errorInformation", zf.escaped_json({"errorCode": "3100"}), ts=1_500
        ),
        zf.process_event(800, "ELEMENT_COMPLETED", ts=1_200),
    ]
    out = _run(spark, rows)
    t = _one(out["transfers"])
    # errorInformation (ts 1500) arrives after COMPLETED (ts 1200):
    # last writer flips status to FAILED, like the reference's in-order apply
    assert t.status == "FAILED"
    assert t.error_information is not None
    assert t.completed_at is not None


def test_transfer_create_failed_false_means_completed(spark):
    rows = [
        zf.variable_event(801, "transferCreateFailed", "false", ts=1_000),
    ]
    t = _one(_run(spark, rows)["transfers"])
    assert t.status == "COMPLETED"


def test_transaction_request_flow(spark):
    bpmn = "mpesa_flow-tn01"
    rows = [
        zf.process_event(900, "ELEMENT_ACTIVATING", ts=1_000, bpmn=bpmn, definition=9001),
        zf.variable_event(
            900, "transactionRequest", zf.escaped_json(zf.TRANSACTION_REQUEST),
            ts=1_100, bpmn=bpmn, definition=9001,
        ),
        zf.variable_event(900, "partyLookupFailed", "false", ts=1_200, bpmn=bpmn, definition=9001),
        zf.variable_event(900, "transferSettlementFailed", "false", ts=1_300, bpmn=bpmn, definition=9001),
        zf.process_event(900, "ELEMENT_COMPLETED", ts=2_000, bpmn=bpmn, definition=9001),
    ]
    out = _run(spark, rows)
    r = _one(out["transaction_requests"])
    assert r.transaction_id == "TRQ-1"
    assert r.state == "ACCEPTED"  # settlement ok -> ACCEPTED
    assert r.auth_type == "NONE"  # authenticationType null -> NONE
    assert r.scenario == "PAYMENT"
    assert r.initiator_type == "BUSINESS"
    assert str(r.amount) == "55.5000"
    assert r.payer_party_id == "277001"
    assert r.payee_dfsp_id == "payeefsp"
    assert r.direction == "INCOMING"
    assert r.completed_at is not None


def test_transaction_request_direction_fallback_from_variable(spark):
    # RecordParser.java:113-115 — direction from registry when variable
    # touches an unstarted instance
    bpmn = "PayeeTransactionRequest-tn01"
    rows = [
        zf.variable_event(901, "transactionId", '"trx"', ts=1_000, bpmn=bpmn),
        zf.variable_event(901, "initiatorFspId", '"initfsp"', ts=1_100, bpmn=bpmn),
    ]
    r = _one(_run(spark, rows)["transaction_requests"])
    assert r.direction == "OUTGOING"
    # initiatorFspId applies payee_dfsp_id only when OUTGOING
    assert r.payee_dfsp_id == "initfsp"


def test_batch_flow(spark):
    bpmn = "bulk_processor-tn01"
    rows = [
        zf.process_event(950, "ELEMENT_ACTIVATING", ts=1_000, bpmn=bpmn, definition=9501),
        zf.variable_event(950, "batchId", '"B-9"', ts=1_100, bpmn=bpmn, definition=9501),
        zf.variable_event(950, "fileName", '"in.csv"', ts=1_200, bpmn=bpmn, definition=9501),
        zf.variable_event(950, "note", '"hello"', ts=1_300, bpmn=bpmn, definition=9501),
        zf.process_event(950, "ELEMENT_COMPLETED", ts=2_000, bpmn=bpmn, definition=9501),
    ]
    out = _run(spark, rows)
    b = _one(out["batches"])
    assert b.batch_id == "B-9"
    assert b.request_file == "in.csv"
    assert b.note == "hello"
    assert b.workflow_key == 9501
    assert b.started_at is not None and b.completed_at is not None


def test_tenant_split_on_first_dash(spark):
    rows = [
        zf.process_event(960, "ELEMENT_ACTIVATING", ts=1_000, bpmn="mpesa_flow-paygops-tn03"),
    ]
    from ph_ee_nats_importer_rdbms_spark.operators.classify import with_routing

    routed = with_routing(zf.to_df(spark, rows))
    r = routed.collect()[0]
    # FIRST dash split (NatsConsumer.java:73-75): process id 'mpesa_flow',
    # tenant 'paygops-tn03' — yes, even though the registry has an id with a
    # dash; faithful to the reference.
    assert r.process_id == "mpesa_flow"
    assert r.tenant == "paygops-tn03"


def test_registry_df_is_a_local_relation(spark):
    """The registry plans as a driver-local relation, not a Python-RDD
    scan, so broadcasting it per micro-batch starts no Python job; rows
    and types are the configured registry's."""
    from ph_ee_nats_importer_rdbms_spark import config as cfg

    df = cfg.registry_df(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "LogicalRDD" not in plan, plan
    assert df.dtypes == [
        ("process_id", "string"),
        ("process_type", "string"),
        ("process_direction", "string"),
    ]
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        (pid, t, d) for pid, (t, d) in cfg.DEFAULT_PROCESS_REGISTRY.items()
    )


def _conflicting_carriers():
    # definition 6101's first carrier names a batch process, a later one a
    # transfer: the gapped batchId takes the FIRST carrier's id (C5)
    return [
        zf.process_event(
            210, "ELEMENT_ACTIVATING", ts=1_000, bpmn="bulk_processor-tn02",
            definition=6101,
        ),
        zf.variable_event(
            210, "batchId", '"B-210"', ts=2_000, bpmn="", definition=6101
        ),
        zf.process_event(
            211, "ELEMENT_ACTIVATING", ts=3_000, bpmn="PayeeQuoteTransfer-tn01",
            definition=6101,
        ),
    ]


def _d1_across_link():
    # parent 110 and its live call-activity child 111 both write amount at
    # ts 3000: D1 keys on each variable's own instance, so both rows stay
    # and the child's later position wins the parent's amount
    return [
        zf.process_event(110, "ELEMENT_ACTIVATING", ts=1_000),
        zf.process_event(
            111, "ELEMENT_ACTIVATING", ts=2_000, parent=110, definition=5002
        ),
        zf.variable_event(110, "amount", '"10.00"', ts=3_000),
        zf.variable_event(111, "amount", '"20.00"', ts=3_000, definition=5002),
        zf.job_event(110, "svc", "T1", "CREATED", ts=3_100),
    ]


@pytest.mark.parametrize(
    "case", [_conflicting_carriers, _d1_across_link], ids=lambda f: f.__name__[1:]
)
def test_batch_importer_matches_batch_replay(spark, case):
    """The batch importer and the replay build (the stream's batch fixed
    point) agree on all five tables, every shared column."""
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br

    events = zf.to_df(spark, case())
    want = run_import_pipeline(events)
    got = br.replay_tables(spark, events)
    for name, w_df in want.items():
        cols = [c for c in w_df.columns if c in got[name].columns]
        w = sorted(map(tuple, w_df.select(*cols).collect()), key=repr)
        g = sorted(map(tuple, got[name].select(*cols).collect()), key=repr)
        assert g == w, f"{name} diverges"
    if case is _conflicting_carriers:
        assert [r.workflow_instance_key for r in want["transfers"].collect()] == [211]
        assert _one(want["batches"]).batch_id == "B-210"
    else:
        assert want["variables"].count() == 2
        assert str(_one(want["transfers"]).amount) == "20.0000"
