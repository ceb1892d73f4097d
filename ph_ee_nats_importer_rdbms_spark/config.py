"""BPMN process registry and pipeline constants.

The reference configures a static registry mapping bpmnProcessId (without the
tenant suffix) to {type, direction} in application.yml:38-81, resolved via
BpmnProcessProperties.getById (config/BpmnProcessProperties.java:26-31) with
an UNKNOWN/UNKNOWN fallback for unregistered ids.

At Spark scale this is a classic tiny dimension: expose it as a DataFrame and
broadcast-join it against the event stream (never shuffle the fact side for a
12-row lookup).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ph_ee_nats_importer_rdbms_spark.sources.files import local_rel

TRANSFER_TYPE = "TRANSFER"
TRANSACTION_REQUEST_TYPE = "TRANSACTION-REQUEST"
BATCH_TYPE = "BATCH"
UNKNOWN_TYPE = "UNKNOWN"

INCOMING = "INCOMING"
OUTGOING = "OUTGOING"
UNKNOWN_DIRECTION = "UNKNOWN"

# application.yml:45-81 — id -> (type, direction)
DEFAULT_PROCESS_REGISTRY: dict[str, tuple[str, str]] = {
    "PayeeQuoteTransfer": (TRANSFER_TYPE, INCOMING),
    "PayerTransactionRequest": (TRANSACTION_REQUEST_TYPE, INCOMING),
    "PayerFundTransfer": (TRANSFER_TYPE, OUTGOING),
    "PayeeTransactionRequest": (TRANSACTION_REQUEST_TYPE, OUTGOING),
    "transferProcess": (TRANSFER_TYPE, UNKNOWN_DIRECTION),
    "bulk_processor": (BATCH_TYPE, UNKNOWN_DIRECTION),
    "international_remittance_payee_process": (TRANSFER_TYPE, OUTGOING),
    "international_remittance_payer_process": (TRANSFER_TYPE, OUTGOING),
    "mpesa_flow": (TRANSACTION_REQUEST_TYPE, INCOMING),
    "mpesa_flow_roster": (TRANSACTION_REQUEST_TYPE, INCOMING),
    "mpesa_flow-paygops": (TRANSACTION_REQUEST_TYPE, INCOMING),
    "phee_same_bank_same_owner": (TRANSFER_TYPE, OUTGOING),
}


_REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField(name, T.StringType())
        for name in ("process_id", "process_type", "process_direction")
    ]
)


@dataclass(frozen=True)
class BpmnProcess:
    """config/BpmnProcess.java — id + type + direction."""

    id: str
    type: str
    direction: str


def lookup_process(
    process_id: str | None,
    registry: dict[str, tuple[str, str]] | None = None,
) -> BpmnProcess:
    """Driver-side registry lookup with the UNKNOWN fallback
    (BpmnProcessProperties.java:26-31)."""
    registry = DEFAULT_PROCESS_REGISTRY if registry is None else registry
    type_, direction = registry.get(process_id or "", (UNKNOWN_TYPE, UNKNOWN_DIRECTION))
    return BpmnProcess(id=process_id or "", type=type_, direction=direction)


def registry_df(
    spark: SparkSession,
    registry: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """The registry as a broadcastable dimension DataFrame
    (process_id, process_type, process_direction), planned as a
    driver-local relation: broadcasting it starts no Python worker job,
    unlike a Python-RDD-backed ``createDataFrame(list)``."""
    registry = DEFAULT_PROCESS_REGISTRY if registry is None else registry
    rows = [(pid, t, d) for pid, (t, d) in sorted(registry.items())]
    df = local_rel(spark, rows, _REGISTRY_SCHEMA)
    return F.broadcast(df)
