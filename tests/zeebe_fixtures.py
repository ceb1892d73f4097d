"""Synthesized Zeebe event fixtures.

Shapes mirror the reference's sample corpus
(/root/reference/src/main/resources/samples/payee-flow.log) and inline test
payloads (src/test/java/.../JsonParseTest.java:22-122), re-typed to the
Zeebe 1.x field names the mainline code reads (SURVEY §0). Content is
original synthetic data.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from ph_ee_nats_importer_rdbms_spark.schemas import FLAT_EVENT_SCHEMA

_POS = [0]


def _next_pos() -> int:
    _POS[0] += 100
    return _POS[0]


@contextmanager
def fresh_positions() -> Iterator[None]:
    """Number the events made inside the block 100, 200, ... whatever
    the session made before, so a corpus built in it is the same on
    every call and its explicit positions keep their order."""
    saved, _POS[0] = _POS[0], 0
    try:
        yield
    finally:
        _POS[0] = saved


def flat_event(**kw: Any) -> dict[str, Any]:
    row = {f.name: None for f in FLAT_EVENT_SCHEMA.fields}
    row.update(
        partition_id=1,
        position=kw.get("position", _next_pos()),
        record_type="EVENT",
    )
    row.update(kw)
    return row


def process_event(
    instance: int,
    intent: str,
    ts: int,
    bpmn: str = "PayeeQuoteTransfer-tn01",
    parent: int = -1,
    definition: int = 5001,
    element_type: str = "PROCESS",
    **kw: Any,
) -> dict[str, Any]:
    return flat_event(
        key=instance,
        timestamp=ts,
        value_type="PROCESS_INSTANCE",
        intent=intent,
        bpmn_process_id=bpmn,
        process_instance_key=instance,
        process_definition_key=definition,
        parent_process_instance_key=parent,
        bpmn_element_type=element_type,
        element_id=bpmn.split("-")[0],
        **kw,
    )


def variable_event(
    instance: int,
    name: str,
    value: str,
    ts: int,
    bpmn: str = "PayeeQuoteTransfer-tn01",
    definition: int = 5001,
    **kw: Any,
) -> dict[str, Any]:
    return flat_event(
        key=instance + 7,
        timestamp=ts,
        value_type="VARIABLE",
        intent="CREATED",
        bpmn_process_id=bpmn,
        process_instance_key=instance,
        process_definition_key=definition,
        name=name,
        value=value,
        **kw,
    )


def job_event(
    instance: int,
    job_type: str,
    element_id: str,
    intent: str,
    ts: int,
    bpmn: str = "PayeeQuoteTransfer-tn01",
    definition: int = 5001,
    **kw: Any,
) -> dict[str, Any]:
    return flat_event(
        key=instance + 13,
        timestamp=ts,
        value_type="JOB",
        intent=intent,
        bpmn_process_id=bpmn,
        process_instance_key=instance,
        process_definition_key=definition,
        element_id=element_id,
        job_type=job_type,
        **kw,
    )


def escaped_json(obj: Any) -> str:
    """A payload as Zeebe stores it: JSON string *containing* JSON."""
    return json.dumps(json.dumps(obj))


def to_df(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    return spark.createDataFrame(rows, FLAT_EVENT_SCHEMA)


CHANNEL_REQUEST = {
    "transactionId": None,
    "payer": {"partyIdInfo": {"partyIdType": "MSISDN", "partyIdentifier": "27710101999"}},
    "payee": {"partyIdInfo": {"partyIdType": "MSISDN", "partyIdentifier": "27710102888"}},
    "amount": {"amount": "100.00", "currency": "USD"},
    "transactionType": {"scenario": "TRANSFER", "initiatorType": "CONSUMER"},
}

LOCAL_QUOTE_RESPONSE = {
    "fspFee": {"amount": "1.25", "currency": "USD"},
    "quoteCode": "Q-77",
}

TRANSACTION_REQUEST = {
    "transactionRequestId": "TRQ-1",
    "payer": {"partyIdType": "MSISDN", "partyIdentifier": "277001", "fspId": "payerfsp"},
    "payee": {"partyIdInfo": {"partyIdType": "MSISDN", "partyIdentifier": "277002", "fspId": "payeefsp"}},
    "amount": {"amount": "55.50", "currency": "TZS"},
    "transactionType": {"scenario": "PAYMENT", "initiatorType": "BUSINESS"},
    "authenticationType": None,
}
