"""Structured Streaming wiring: stateful stage wrappers + multi-hop
topology (see package docstring for the stage map).

Each stage keys on a different column, and chaining arbitrary stateful
operators inside one streaming query is not supported — so the pipeline is
a standard multi-hop (bronze→silver→gold) DAG: every hop is its own
checkpointed streaming query writing parquet, giving per-hop exactly-once
and independent scaling. Every hop runs with an ``availableNow`` trigger:
one call drains what has arrived since the last one, then stops. A
deployment is a loop of :func:`run_deployment` drains; each resumes from
the hops' checkpoints.

Scale notes: state lives in the Spark state store (RocksDB provider on a
real cluster — :func:`configure_state_store`), hash partitioned by the
stage key across executors; the Python reducers see one key group at a
time. State never expires, as in the reference. The reference holds all
of this in single-JVM maps — the streaming port is what makes the same
semantics horizontally shardable.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from ph_ee_nats_importer_rdbms_spark import schemas
from ph_ee_nats_importer_rdbms_spark.operators.classify import (
    parse_envelope,
    resolve_input,
    route,
)
from ph_ee_nats_importer_rdbms_spark.sources.nats_source import NATS_SCHEMA, land
from ph_ee_nats_importer_rdbms_spark.streaming import state as sm

# Hop schemas and the per-group row helpers define replay SEMANTICS, so
# they live in batch_replay.py (fingerprinted by the stream staging
# domains) and are re-exported here for the wrappers and their callers —
# this module is wrapper/engine code whose edits must not invalidate
# staged replay artifacts (VERDICT r13 task #3).
from ph_ee_nats_importer_rdbms_spark.streaming.batch_replay import (  # noqa: F401
    CHANGES_SCHEMA,
    FLAT_SCHEMA,
    REKEYED_SCHEMA,
    ROUTED_SCHEMA,
    _concat,
    _event_sort_key,
    _records,
)

_STATE_SCHEMA = StructType([StructField("blob", StringType(), True)])


def _columns(schema: StructType) -> list[str]:
    return [f.name for f in schema.fields]


# ---------------------------------------------------------------------------
# Stage wrappers
# ---------------------------------------------------------------------------


def _resolve_batch(
    resolved: str | None, buffered: list[dict], pdf: pd.DataFrame
) -> tuple[str | None, list[dict], pd.DataFrame]:
    """One micro-batch of the C5 resolve state machine, vectorized — the
    column-op replay of :func:`state.resolve_step` (r13, guide §1.2: this
    hop moves EVERY envelope through Python; the dict-per-event path cost
    ~44s per sf0.1 replay build). The per-key semantics are narrow enough
    for column ops: ``resolved`` is SET-ONCE (the first truthy bpmn in
    stream order), every falsy-bpmn event is emitted with the resolved
    value if known by its time (buffered rows flush in arrival order the
    moment it becomes known), and with no resolution the whole batch
    buffers. Output rows, order, and state are identical to
    resolve_step's — pinned against randomized multi-batch replays in
    tests/test_streaming.py."""
    cols = _columns(FLAT_SCHEMA)
    # the partition id breaks a (timestamp, position) tie across Zeebe
    # partitions, like classify.definition_dim's first-carrier min
    pdf = pdf.sort_values(
        ["timestamp", "position", "partition_id"],
        kind="mergesort",
        ignore_index=True,
    )
    bp = pdf["bpmn_process_id"]
    known = bp.notna() & (bp != "")
    if resolved is None and bool(known.any()):
        resolved = bp.iat[int(known.to_numpy().argmax())]
    if resolved is not None:
        if not bool(known.all()):
            pdf["bpmn_process_id"] = bp.where(known, resolved)
        out = pdf[cols]
        if buffered:
            for r in buffered:
                r["bpmn_process_id"] = resolved
            out = pd.concat(
                [pd.DataFrame(buffered, columns=cols), out],
                ignore_index=True,
            )
            buffered = []
    else:
        buffered = buffered + _records(pdf)
        out = pd.DataFrame([], columns=cols)
    return resolved, buffered, out


def _rekey_batch(
    parent0: int | None, pdf: pd.DataFrame
) -> tuple[int | None, pd.DataFrame]:
    """One micro-batch of the C4 re-key state machine. Fast path (r13,
    guide §1.2): with no live call-activity link, an instance's events
    only ever re-key when one of THIS batch's events registers a link
    (PROCESS ELEMENT_ACTIVATING with parent > 0 — rekey_step's only
    state write). Absent that, every event maps to itself:
    effective_key = own instance key, child_start = false, state stays
    empty — pure column ops, no per-event dict replay, no sort (rows
    are independent). Only instances that ARE call-activity children
    take the dict path. Parity pinned against randomized replays in
    tests/test_streaming.py."""
    cols = _columns(REKEYED_SCHEMA)
    if parent0 is None:
        # cheapest discriminator first: a link needs a POSITIVE parent key
        # somewhere in the batch — most instances are not call-activity
        # children, so one numpy compare settles the common case without
        # building the 3-way string mask
        ppik = pdf["parent_process_instance_key"]
        arr = ppik.to_numpy()
        if arr.dtype == object:
            arr = pd.to_numeric(ppik, errors="coerce").to_numpy()
        pos = arr > 0
        links_possible = bool(pos.any())
        if links_possible:
            links = (
                (pdf["value_type"] == "PROCESS_INSTANCE")
                & (pdf["bpmn_element_type"] == "PROCESS")
                & (pdf["intent"] == "ELEMENT_ACTIVATING")
                & pos
            )
            links_possible = bool(links.any())
        if not links_possible:
            if list(pdf.columns) == cols[:-2]:
                # input arrives in ROUTED order and REKEYED appends the
                # two new columns at the end: one shallow copy instead of
                # assign+reorder (2.5x on the ~1ms per-group fast path)
                out = pdf.copy(deep=False)
                out["effective_key"] = out["process_instance_key"]
                out["child_start"] = False
            else:
                out = pdf.assign(
                    effective_key=pdf["process_instance_key"],
                    child_start=False,
                )[cols]
            return None, out
    records = _records(pdf)
    records.sort(key=_event_sort_key)
    st = sm.RekeyState(parent_key=parent0)
    st, out = sm.rekey_step(st, records)
    return st.parent_key, pd.DataFrame(out, columns=cols)


def _keyed_stage(
    df: DataFrame,
    key: str,
    schema: StructType,
    step: Callable[[tuple, str | None, pd.DataFrame], tuple[pd.DataFrame, str]],
) -> DataFrame:
    """One stateful hop: ``applyInPandasWithState`` grouped by ``key``,
    holding one JSON blob per key. ``step(key, blob, pdf)`` gets the
    key's stored blob (None for a new key) and its micro-batch rows, and
    returns the rows to emit and the blob to store."""

    def fn(k, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        out, blob = step(
            k, state.get[0] if state.exists else None, _concat(pdf_iter)
        )
        state.update((blob,))
        yield out

    return df.groupBy(key).applyInPandasWithState(
        fn, schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def resolve_stage(events: DataFrame) -> DataFrame:
    """C5: resolve empty bpmnProcessIds through per-definition-key state
    (never evicted, like the reference's TempDocumentStore.java:16-17)."""

    def step(_key, blob, pdf):
        d = json.loads(blob) if blob else {"resolved_bpmn": None, "buffered": []}
        resolved, buffered, out = _resolve_batch(
            d["resolved_bpmn"], d["buffered"], pdf
        )
        return out, json.dumps({"resolved_bpmn": resolved, "buffered": buffered})

    return _keyed_stage(
        resolve_input(events), "process_definition_key", FLAT_SCHEMA, step
    )


def rekey_stage(routed: DataFrame) -> DataFrame:
    """C4: add effective_key via per-instance call-activity link state."""

    def step(_key, blob, pdf):
        parent, out = _rekey_batch(
            json.loads(blob)["parent_key"] if blob else None, pdf
        )
        return out, json.dumps({"parent_key": parent})

    return _keyed_stage(routed, "process_instance_key", REKEYED_SCHEMA, step)


def entity_stage(rekeyed: DataFrame) -> DataFrame:
    """C1-C3/C6/D1-D4: per-effective-key entity state machine emitting
    variable/task inserts + entity upsert snapshots."""
    cols = _columns(CHANGES_SCHEMA)

    def step(key, blob, pdf):
        st = sm.EntityState.from_json(blob) if blob else sm.EntityState()
        # sort the records, not the frame: the many-key hops see ~20-row
        # groups, where pandas lexsort machinery costs more than
        # converting and sorting the dicts directly (r13)
        events = _records(pdf)
        events.sort(key=_event_sort_key)
        # first tenant in time order, sticky across batches: a later batch
        # with only null-tenant events keeps routing to the instance's DB
        st.tenant = st.tenant or next(
            (e.get("tenant") for e in events if e.get("tenant")), None
        )
        st, rows = sm.entity_step(st, events)
        st.seq += 1
        snap = sm.entity_snapshot(int(key[0]), st)
        if snap is not None:
            rows.append(snap)
        out = [
            {
                "kind": r.pop("kind"),
                "workflow_instance_key": r.get("workflow_instance_key"),
                "tenant": st.tenant,
                "payload": json.dumps(r),
            }
            for r in rows
        ]
        return pd.DataFrame(out, columns=cols), st.to_json()

    return _keyed_stage(rekeyed, "effective_key", CHANGES_SCHEMA, step)


# ---------------------------------------------------------------------------
# Multi-hop topology
# ---------------------------------------------------------------------------


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_state_store(spark: SparkSession, provider: str = "rocksdb") -> None:
    """Select the state-store backend for subsequently started queries.

    ``rocksdb`` is the at-scale choice: state lives off-heap/on-disk per
    executor instead of in the JVM heap (the reference's unbounded in-heap
    maps are exactly what this replaces), and changelog checkpointing
    uploads per-batch deltas rather than full snapshots, so checkpoint cost
    is O(changed keys) — the difference between a 10-minute and a
    sub-second commit once entity state reaches 100 TB-scale cardinality.
    ``hdfs`` (Spark's default in-memory provider) suits tests/small state.
    """
    if provider == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif provider == "hdfs":
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        raise ValueError(f"unknown state store provider: {provider}")


def read_raw_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Raw Zeebe envelope JSON strings from a file-drop directory — the
    NATS-bridge ingestion pattern (sources/nats.py writes this layout).
    ``max_files_per_trigger`` bounds hop 1's micro-batch size. Hops 2 and
    3 read each drain's hop output as one micro-batch, so only a new
    drain splits their state across batches."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
        .transform(parse_envelope)
    )


def read_landed_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Raw Zeebe envelopes landed from NATS JetStream
    (sources/nats_source.land), as a file stream of the landed parquet
    files, parsed. Interchangeable with read_raw_stream: both yield the
    parsed flat event relation. The files not yet consumed form one
    micro-batch; ``max_rows_per_trigger`` on the landing bounds it."""
    return (
        spark.readStream.schema(NATS_SCHEMA)
        .parquet(landing_dir)
        .transform(parse_envelope)
    )


def run_multi_hop(
    spark: SparkSession,
    events: DataFrame,
    work_dir: str,
    registry: DataFrame | None = None,
    hop_timings: dict | None = None,
) -> dict[str, str]:
    """Run the 3-hop pipeline over the parsed event stream ``events``
    (:func:`read_raw_stream` or :func:`read_landed_stream`); returns
    output paths.

    Hops (each checkpointed, restart-safe, exactly-once into parquet):
      resolved/  flat events after F1-F3 + C5
      rekeyed/   + routing (F5/F6) + effective_key (C4)
      changes/   typed change rows (variable/task inserts, entity upserts)

    The hops run on the session's state-store provider
    (:func:`configure_state_store` selects RocksDB).

    ``hop_timings`` (optional dict) accumulates wall seconds per hop
    (``resolve``/``rekey``/``entity``, += so multi-wave callers fold) —
    the ingest throughput bench's per-hop attribution
    (tools/bench_ingest.py)."""
    paths = {
        n: os.path.join(work_dir, n) for n in ("resolved", "rekeyed", "changes")
    }

    def drain(df: DataFrame, name: str, hop: str) -> None:
        t0 = time.perf_counter()
        (
            df.writeStream.format("parquet")
            .option("path", paths[name])
            .option("checkpointLocation", os.path.join(work_dir, f"ckpt_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        if hop_timings is not None:
            hop_timings[hop] = hop_timings.get(hop, 0.0) + (
                time.perf_counter() - t0
            )

    drain(resolve_stage(events), "resolved", "resolve")
    resolved = spark.readStream.schema(FLAT_SCHEMA).parquet(paths["resolved"])
    drain(
        rekey_stage(route(resolved, registry)),
        "rekeyed",
        "rekey",
    )
    rekeyed = spark.readStream.schema(REKEYED_SCHEMA).parquet(paths["rekeyed"])
    drain(entity_stage(rekeyed), "changes", "entity")
    return paths


def materialize_tables(spark: SparkSession, changes_path: str) -> dict[str, DataFrame]:
    """Fold the change log into the five output tables (upsert semantics:
    the latest snapshot per instance wins; variables/tasks are appends).
    In production this folding runs inside foreachBatch straight into JDBC
    (sinks/jdbc.py); reading the parquet change log gives the same tables
    for verification."""
    ch = spark.read.schema(CHANGES_SCHEMA).parquet(changes_path)
    # snapshots carry a per-key micro-batch sequence (_seq); the upsert fold
    # is max_by(_seq) per key — exactly what a MERGE sink applies per batch.
    ent = ch.filter(F.col("kind").isin("transfer", "transaction_request", "batch"))
    latest = (
        ent.withColumn("_seq", F.get_json_object("payload", "$._seq").cast("long"))
        .groupBy("kind", "workflow_instance_key")
        .agg(F.max_by("payload", F.col("_seq")).alias("payload"))
    )
    out: dict[str, DataFrame] = {}
    for kind, plural in (
        ("transfer", "transfers"),
        ("transaction_request", "transaction_requests"),
        ("batch", "batches"),
    ):
        out[plural] = latest.filter(F.col("kind") == kind).select(
            "workflow_instance_key", "payload"
        )
    for kind, plural, schema in (
        ("variable", "variables", schemas.VARIABLES_SCHEMA),
        ("task", "tasks", schemas.TASKS_SCHEMA),
    ):
        rows = ch.filter(F.col("kind") == kind)
        out[plural] = rows.select(
            F.from_json("payload", schema).alias("r")
        ).select("r.*")
    return out


def run_deployment(
    spark: SparkSession,
    work_dir: str,
    resolve_url,
    executor,
    source_dir: str | None = None,
    nats_options: dict[str, str] | None = None,
    registry: DataFrame | None = None,
    distributed: bool = True,
    dialect: str = "mysql",
) -> dict[str, str]:
    """The full deployed topology in one call — what a user of the
    reference runs instead of the Spring Boot importer:

        NATS JetStream -> landing (sources/nats_source.land) -> file
        source, or a file-drop bridge dir -> resolve -> route/rekey ->
        entity state machine -> change log -> per-tenant JDBC
        MERGE/append (sinks/jdbc.changes_foreach_batch).

    One call is one drain: with ``nats_options`` it first lands the
    stream's new sequences into ``<work_dir>/landing`` on the driver, then
    every hop and the sink run to the end of their input and stop. A
    deployment calls this in a loop.

    ``resolve_url`` maps tenant -> JDBC url (sinks/jdbc.tenant_url_resolver
    over the master tenant_server_connections table); ``executor`` runs
    (url, statements) batches (a picklable DBAPI executor from
    sinks/dbapi.py in production, a recording fake in tests).
    ``distributed``/``dialect`` pass through to the sink (see
    changes_foreach_batch): the default is the DISTRIBUTED writer — rows
    never traverse the driver — which requires a picklable executor;
    pass ``distributed=False`` for the driver-collect topology (small
    deployments, py4j ``jvm_executor``).
    The landing files and every hop and the sink query are checkpointed
    under ``work_dir`` — a restart resumes from the checkpoints, and a
    replayed micro-batch re-runs the idempotent MERGE, so the upserted
    tables are exactly-once. The ph_tasks / ph_variables append logs are
    plain INSERTs and only at-least-once: a micro-batch replayed after a
    partial sink commit inserts its committed log rows again (see
    sinks/jdbc.py; ROADMAP item 1's sink-fault test). The state-store
    provider is the session's (:func:`configure_state_store`)."""
    from ph_ee_nats_importer_rdbms_spark.sinks.jdbc import changes_foreach_batch

    if source_dir is None and nats_options is None:
        raise ValueError(
            "run_deployment needs an ingestion source: pass source_dir "
            "(file-drop bridge directory) or nats_options (NATS JetStream)"
        )
    if nats_options is not None:
        landing = os.path.join(work_dir, "landing")
        land(nats_options, landing)
        events = read_landed_stream(spark, landing)
    else:
        events = read_raw_stream(spark, source_dir)
    paths = run_multi_hop(spark, events, work_dir, registry=registry)

    changes = spark.readStream.schema(CHANGES_SCHEMA).parquet(paths["changes"])
    (
        changes.writeStream.foreachBatch(
            changes_foreach_batch(
                resolve_url, executor, distributed=distributed, dialect=dialect
            )
        )
        .option("checkpointLocation", os.path.join(work_dir, "ckpt_jdbc"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return paths
