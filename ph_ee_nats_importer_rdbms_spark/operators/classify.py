"""Classification / routing operators (SURVEY §2.2 F1-F6, §2.4 C5).

The reference does this per message in NatsConsumer.listen
(NatsConsumer.java:34-122); here each step is a declarative DataFrame
transformation so Catalyst can push the drops into the scan and keep the
whole chain inside one whole-stage-codegen span:

- F1/F2  drop DEPLOYMENT / VARIABLE_DOCUMENT records  (NatsConsumer.java:39-47)
- F3     drop records with neither bpmnProcessId nor processDefinitionKey
         (NatsConsumer.java:56-59), and after C5 those still without one
- C5     resolve a missing bpmnProcessId through other records that carry the
         same processDefinitionKey (TempDocumentStore.java:16-42). The
         FIRST carrier wins: the definition's earliest non-empty
         bpmnProcessId in (timestamp, position, partition_id) order, nulls
         last — the value the reference's set-once map learns first, and
         what the streaming hop (state.resolve_step) keeps. A row no
         carrier resolves is dropped (the stream buffers it forever).
         Batch form: :func:`definition_dim` builds the definition ->
         first-carrier dimension and :func:`fill_definitions` broadcast-
         joins it back. This module is the only one that knows C5: the
         batch importer, the replay build and the incremental store call
         it, and the streaming resolve hop takes its input filter
         (:func:`resolve_input`) from it.
- F5     tenant / process-id split on the FIRST dash (NatsConsumer.java:73-75)
- F6     process-registry enrichment with UNKNOWN fallback
         (BpmnProcessProperties.java:26-31) — broadcast join, never a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ph_ee_nats_importer_rdbms_spark import config as cfg
from ph_ee_nats_importer_rdbms_spark import schemas
from ph_ee_nats_importer_rdbms_spark.functions.scalars import (
    first_dash_prefix,
    first_dash_suffix,
)

DROPPED_VALUE_TYPES = ("DEPLOYMENT", "VARIABLE_DOCUMENT")


def parse_envelope(raw_df: DataFrame, value_col: str = "value") -> DataFrame:
    """Raw JSON event strings -> flat typed event relation.

    Two-phase parse: the envelope once, then the valueType-specific variant.
    PERMISSIVE mode + fully-nullable schemas reproduce the reference's
    null-on-missing-leaf JSONPath semantics (JsonPathReader.java:15-23).
    Catalyst prunes unread variant fields out of the second from_json.
    """
    env = raw_df.select(
        F.from_json(F.col(value_col), schemas.ENVELOPE_SCHEMA).alias("e")
    )
    pi = F.from_json(F.col("e.value"), schemas.PROCESS_INSTANCE_VALUE_SCHEMA)
    var = F.from_json(F.col("e.value"), schemas.VARIABLE_VALUE_SCHEMA)
    job = F.from_json(F.col("e.value"), schemas.JOB_VALUE_SCHEMA)
    vt = F.col("e.valueType")
    return env.select(
        F.col("e.partitionId").alias("partition_id"),
        F.col("e.position").alias("position"),
        F.col("e.key").alias("key"),
        F.col("e.timestamp").alias("timestamp"),
        F.col("e.recordType").alias("record_type"),
        vt.alias("value_type"),
        F.col("e.intent").alias("intent"),
        F.coalesce(pi["bpmnProcessId"], var["bpmnProcessId"], job["bpmnProcessId"]).alias(
            "bpmn_process_id"
        ),
        F.coalesce(
            pi["processInstanceKey"], var["processInstanceKey"], job["processInstanceKey"]
        ).alias("process_instance_key"),
        F.coalesce(
            pi["processDefinitionKey"],
            var["processDefinitionKey"],
            job["processDefinitionKey"],
        ).alias("process_definition_key"),
        pi["parentProcessInstanceKey"].alias("parent_process_instance_key"),
        pi["bpmnElementType"].alias("bpmn_element_type"),
        F.coalesce(pi["elementId"], job["elementId"]).alias("element_id"),
        var["name"].alias("name"),
        var["value"].alias("value"),
        job["type"].alias("job_type"),
    )


def _empty_bpmn():
    return F.col("bpmn_process_id").isNull() | (F.col("bpmn_process_id") == "")


def _first_truthy_order() -> list:
    """Struct fields whose MIN is the first event in C5 order:
    (timestamp, position, partition_id), nulls last per column (boolean
    null-flags lead each column: false < true). The partition id breaks
    a (timestamp, position) tie across Zeebe partitions, exactly like
    ``streaming.pipeline._resolve_batch``'s sort key."""
    return [
        flag
        for c in ("timestamp", "position", "partition_id")
        for flag in (F.col(c).isNull(), F.coalesce(F.col(c), F.lit(0)))
    ]


def resolve_input(events: DataFrame) -> DataFrame:
    """F1-F3 ahead of C5, shared by :func:`fill_definitions` and the
    streaming resolve hop: the skipped value types are dropped, and so is
    an event with neither a bpmnProcessId nor a definition key (nothing
    could ever resolve it)."""
    return events.filter(~F.col("value_type").isin(*DROPPED_VALUE_TYPES)).filter(
        ~(_empty_bpmn() & F.col("process_definition_key").isNull())
    )


def definition_dim(events: DataFrame) -> DataFrame:
    """The C5 dimension ``(process_definition_key, resolved_bpmn)``: per
    definition key, the bpmnProcessId of its FIRST carrier in
    :func:`_first_truthy_order`. A map-side-combined aggregate bounded
    by the number of deployed process definitions — broadcastable by
    construction, and small enough for the incremental store to persist
    and diff."""
    return (
        resolve_input(events)
        .filter(F.col("process_definition_key").isNotNull() & ~_empty_bpmn())
        .groupBy("process_definition_key")
        .agg(
            F.min(F.struct(*_first_truthy_order(), F.col("bpmn_process_id")))[
                "bpmn_process_id"
            ].alias("resolved_bpmn")
        )
    )


def fill_definitions(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Apply a C5 dimension (:func:`definition_dim`, possibly built over
    a larger corpus than ``events``): an empty bpmnProcessId takes its
    definition's resolution, and a row still empty after that is dropped
    (the stream buffers it forever). Broadcast join, so the event pass
    stays map-only; every input column is kept, in input order."""
    return (
        resolve_input(events)
        .join(F.broadcast(dim), on="process_definition_key", how="left")
        .withColumn(
            "bpmn_process_id",
            F.when(_empty_bpmn(), F.col("resolved_bpmn")).otherwise(
                F.col("bpmn_process_id")
            ),
        )
        .filter(~_empty_bpmn())
        .select(*events.columns)
    )


def resolve_events(events: DataFrame) -> DataFrame:
    """C5 over a bounded event relation: the fixed point of the streaming
    resolve hop (:func:`streaming.state.resolve_step`)."""
    return fill_definitions(events, definition_dim(events))


def route(resolved: DataFrame, registry: DataFrame | None = None) -> DataFrame:
    """F5 + F6 over C5-resolved events (:func:`fill_definitions`' output
    or the streaming resolve hop's, where F1-F3 already dropped every
    unroutable row).

    Adds: ``tenant``, ``process_id`` (tenant-less), ``process_type``,
    ``process_direction``."""
    spark = resolved.sparkSession
    registry = registry if registry is not None else cfg.registry_df(spark)

    # F5: split "<processId>-<tenant>" on the FIRST dash.
    ev = resolved.withColumn(
        "process_id", first_dash_prefix("bpmn_process_id")
    ).withColumn("tenant", first_dash_suffix("bpmn_process_id"))

    # F6: broadcast registry join with UNKNOWN fallback.
    ev = (
        ev.join(F.broadcast(registry), on="process_id", how="left")
        .withColumn(
            "process_type", F.coalesce("process_type", F.lit(cfg.UNKNOWN_TYPE))
        )
        .withColumn(
            "process_direction",
            F.coalesce("process_direction", F.lit(cfg.UNKNOWN_DIRECTION)),
        )
    )
    return ev


def with_routing(events: DataFrame, registry: DataFrame | None = None) -> DataFrame:
    """F1-F6 + C5 over a raw flat event relation: :func:`resolve_events`,
    then :func:`route`. Unroutable rows are dropped, mirroring the
    reference's early returns."""
    return route(resolve_events(events), registry)
