"""Business-entity assembly: ph_transfers / ph_transaction_requests /
ph_batches (SURVEY §1.4, §2.4).

Combines the lifecycle correlation (lifecycle.py) with the variable-mapper
pivot (mappers.py) into the final upsert-shaped tables, one row per workflow
instance.

Entity existence (C1, getOrCreate semantics): the reference creates an
entity on the first *start* event or the first *known-name variable*
(InflightTransferManager.java:56-70, RecordParser.java:95-127). A lone
ELEMENT_COMPLETED creates nothing and is dropped
(InflightTransferManager.java:41-47) — so completion only applies to
instances touched before it in replay order.

The end-of-instance event is injected into the variable stream as a
pseudo-variable ``__completed__`` so the same LWW machinery resolves
``status`` / ``completed_at`` against later real variables exactly as the
reference's in-order mutation would (e.g. an errorInformation arriving after
ELEMENT_COMPLETED flips status back to FAILED — VariableParser.java:51-52 —
and a transferResponse-CREATE after it overwrites completed_at).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ph_ee_nats_importer_rdbms_spark import config as cfg
from ph_ee_nats_importer_rdbms_spark.functions.scalars import epoch_ms_to_ts
from ph_ee_nats_importer_rdbms_spark.operators import mappers
from ph_ee_nats_importer_rdbms_spark.operators.lifecycle import rekey_to_parent
from ph_ee_nats_importer_rdbms_spark.operators.mappers import FieldSpec

def _ord():
    return F.struct(F.col("timestamp"), F.col("position"))

COMPLETED_PSEUDO = "__completed__"

_TRANSFER_COMPLETED_SPECS = [
    FieldSpec(COMPLETED_PSEUDO, "status", ("const", "COMPLETED")),
    FieldSpec(COMPLETED_PSEUDO, "completed_at", ("event_ts",)),
]
_ENDED_AT_SPEC = [
    FieldSpec(COMPLETED_PSEUDO, "completed_at", ("event_ts",)),
]

_VAR_COLS = ["instance_key", "name", "value", "timestamp", "position"]


def _known_variables(
    routed_vars: DataFrame, links: DataFrame, process_type: str, known: list[str]
) -> DataFrame:
    """Known-name variable events for one entity type, re-keyed to parents
    (C4). Variable routing uses the event's own bpmnProcessId registry type
    (RecordParser.java:93-127); unknown names are ignored for entity purposes
    (F8) but still land in ph_variables."""
    v = routed_vars.filter(
        (F.col("process_type") == process_type) & F.col("name").isin(*known)
    )
    v = rekey_to_parent(v, links)
    return v.select(
        F.col("process_instance_key").alias("instance_key"),
        "name",
        "value",
        "timestamp",
        "position",
    )


def _completion_pseudo_vars(lifecycle: DataFrame, touch: DataFrame) -> DataFrame:
    """First ELEMENT_COMPLETED per instance as a pseudo-variable row, kept
    only when the instance was touched (started or known-var) before it."""
    ends = lifecycle.filter(F.col("completed_at_ms").isNotNull()).select(
        "instance_key",
        F.col("completed_at_ms").alias("timestamp"),
        F.col("completed_position").alias("position"),
    )
    gated = (
        ends.join(touch, on="instance_key", how="inner")
        .filter(
            F.struct(F.col("timestamp"), F.col("position"))
            > F.col("first_touch_ord")
        )
        .select("instance_key", "timestamp", "position")
    )
    return gated.select(
        "instance_key",
        F.lit(COMPLETED_PSEUDO).alias("name"),
        F.lit(None).cast("string").alias("value"),
        "timestamp",
        "position",
    )


def _first_touch(lifecycle: DataFrame, known_vars: DataFrame) -> DataFrame:
    starts = lifecycle.filter(F.col("started_at_ms").isNotNull()).select(
        "instance_key",
        F.col("started_at_ms").alias("timestamp"),
        F.lit(-1).cast("long").alias("position"),
    )
    touches = starts.unionByName(
        known_vars.select("instance_key", "timestamp", "position")
    )
    return touches.groupBy("instance_key").agg(F.min(_ord()).alias("first_touch_ord"))


def _assemble(
    lifecycle: DataFrame,
    known_vars: DataFrame,
    specs: list[FieldSpec],
    end_specs: list[FieldSpec],
) -> DataFrame:
    """Pivot known vars (+ completion pseudo-vars) and join lifecycle.

    ``known_vars`` is referenced by two subtrees (the first-touch gate and
    the pivot input), so without staging its filter + C4 rekey join would
    execute twice per entity table; it is materialized once (cluster
    analogue: the staged hop table the streaming path writes anyway)."""
    known_vars = known_vars.localCheckpoint(eager=True)
    touch = _first_touch(lifecycle, known_vars)
    pseudo = _completion_pseudo_vars(lifecycle, touch)

    # direction must be visible to direction-conditional mappers: join the
    # per-instance final direction onto the variable rows (same join key as
    # the downstream groupBy -> the exchange is reused, not duplicated).
    directions = lifecycle.select("instance_key", "direction")
    all_vars = known_vars.unionByName(pseudo).join(
        directions, on="instance_key", how="left"
    )

    pivot = mappers.pivot_entity_fields(all_vars, specs + end_specs)
    return pivot.join(lifecycle, on="instance_key", how="full")


def transfers_table(lifecycle: DataFrame, routed_vars: DataFrame, links: DataFrame) -> DataFrame:
    """ph_transfers (entity/transfer/Transfer.java:18-85). Fresh entities
    start IN_PROGRESS (Transfer.java:90-93); ELEMENT_COMPLETED forces
    COMPLETED (InflightTransferManager.java:50)."""
    lc = lifecycle.filter(F.col("process_type") == cfg.TRANSFER_TYPE)
    kv = _known_variables(
        routed_vars, links, cfg.TRANSFER_TYPE, mappers.KNOWN_TRANSFER_VARIABLES
    )
    df = _assemble(lc, kv, mappers.TRANSFER_SPECS, _TRANSFER_COMPLETED_SPECS)
    # materialize only instances the reference would have created (C1)
    df = df.filter(
        F.col("started_at_ms").isNotNull() | (F.col("known_variable_events") > 0)
    )
    return df.select(
        F.col("instance_key").alias("workflow_instance_key"),
        "transaction_id",
        epoch_ms_to_ts(F.col("started_at_ms")).alias("started_at"),
        "completed_at",
        F.coalesce(F.col("status"), F.lit("IN_PROGRESS")).alias("status"),
        F.lit(None).cast("string").alias("status_detail"),
        "payee_dfsp_id",
        "payee_party_id",
        "payee_party_id_type",
        "payee_fee",
        "payee_fee_currency",
        "payee_quote_code",
        "payer_dfsp_id",
        "payer_party_id",
        "payer_party_id_type",
        "payer_fee",
        "payer_fee_currency",
        "payer_quote_code",
        "amount",
        "currency",
        "direction",
        "error_information",
        "batch_id",
    )


def transaction_requests_table(
    lifecycle: DataFrame, routed_vars: DataFrame, links: DataFrame
) -> DataFrame:
    """ph_transaction_requests (TransactionRequest.java:20-74). Fresh
    entities start IN_PROGRESS (:79-82); direction falls back to the
    registry direction when a variable touches an unstarted instance
    (RecordParser.java:113-115)."""
    lc = lifecycle.filter(F.col("process_type") == cfg.TRANSACTION_REQUEST_TYPE)
    routed_tr = routed_vars.filter(
        F.col("process_type") == cfg.TRANSACTION_REQUEST_TYPE
    )
    # registry direction per instance, for the variable-path fallback
    reg_dir = (
        rekey_to_parent(routed_tr, links)
        .groupBy(F.col("process_instance_key").alias("instance_key"))
        .agg(F.min_by("process_direction", _ord()).alias("registry_direction"))
    )
    kv = _known_variables(
        routed_vars, links, cfg.TRANSACTION_REQUEST_TYPE,
        mappers.KNOWN_TRANSACTION_REQUEST_VARIABLES,
    )
    lc_dir = (
        lc.join(reg_dir, on="instance_key", how="full")
        .withColumn("direction", F.coalesce("direction", "registry_direction"))
        .drop("registry_direction")
        .withColumn(
            "process_type", F.coalesce("process_type", F.lit(cfg.TRANSACTION_REQUEST_TYPE))
        )
    )
    df = _assemble(lc_dir, kv, mappers.TRANSACTION_REQUEST_SPECS, _ENDED_AT_SPEC)
    df = df.filter(
        F.col("started_at_ms").isNotNull() | (F.col("known_variable_events") > 0)
    )
    return df.select(
        F.col("instance_key").alias("workflow_instance_key"),
        "transaction_id",
        epoch_ms_to_ts(F.col("started_at_ms")).alias("started_at"),
        "completed_at",
        F.coalesce(F.col("state"), F.lit("IN_PROGRESS")).alias("state"),
        "payee_dfsp_id",
        "payee_party_id",
        "payee_party_id_type",
        "payee_fee",
        "payee_quote_code",
        "payer_dfsp_id",
        "payer_party_id",
        "payer_party_id_type",
        "payer_fee",
        "payer_quote_code",
        "amount",
        "currency",
        "direction",
        "auth_type",
        "initiator_type",
        "scenario",
    )


def batches_table(lifecycle: DataFrame, routed_vars: DataFrame, links: DataFrame) -> DataFrame:
    """ph_batches (entity/batch/Batch.java:16-57). The counter columns
    (total_transactions/ongoing/failed/completed) exist in the reference
    schema but are never written by the importer (SURVEY §1.4) — emitted as
    nulls for parity."""
    lc = lifecycle.filter(F.col("process_type") == cfg.BATCH_TYPE)
    kv = _known_variables(
        routed_vars, links, cfg.BATCH_TYPE, mappers.KNOWN_BATCH_VARIABLES
    )
    # workflow_key: definition key observed for the instance
    wf_keys = (
        routed_vars.filter(F.col("process_type") == cfg.BATCH_TYPE)
        .groupBy(F.col("process_instance_key").alias("instance_key"))
        .agg(F.min_by("process_definition_key", _ord()).alias("workflow_key"))
    )
    df = _assemble(lc, kv, mappers.BATCH_SPECS, _ENDED_AT_SPEC)
    df = df.filter(
        F.col("started_at_ms").isNotNull() | (F.col("known_variable_events") > 0)
    ).join(wf_keys, on="instance_key", how="left")
    return df.select(
        F.col("instance_key").alias("workflow_instance_key"),
        "workflow_key",
        "batch_id",
        "request_id",
        "request_file",
        "note",
        F.lit(None).cast("string").alias("result_file"),
        F.lit(None).cast("long").alias("total_transactions"),
        F.lit(None).cast("long").alias("ongoing"),
        F.lit(None).cast("long").alias("failed"),
        F.lit(None).cast("long").alias("completed"),
        F.lit(None).cast("timestamp").alias("result_generated_at"),
        epoch_ms_to_ts(F.col("started_at_ms")).alias("started_at"),
        "completed_at",
    )
