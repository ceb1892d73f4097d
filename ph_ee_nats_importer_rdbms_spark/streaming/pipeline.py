"""Structured Streaming wiring: the stateful stage wrappers and the
two-query topology (the package docstring has the stage map).

A drain runs two checkpointed ``availableNow`` queries, one stateful
operator each. Hop A (:func:`resolve_rekey_stage`) resolves C5 and
re-keys C4 per definition key, routes the rows (F5/F6) and writes them
to ``resolved/`` (``REKEYED_SCHEMA``). Hop B (:func:`entity_stage`)
folds the entities per effective key into a ``foreachBatch`` body that
writes ``changes/`` and then runs the sink, if any: a stateful operator
feeding an idempotent ``foreachBatch`` sink keeps exactly-once (SIGMOD
2018). Each query costs about a second per trigger whatever its rows,
so the query count sets a wave's floor. A deployment is a loop of
:func:`run_deployment` drains, each resuming from the checkpoints.

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

import numpy as np
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
# domains); this wrapper module's edits must not invalidate them.
from ph_ee_nats_importer_rdbms_spark.streaming.batch_replay import (  # noqa: F401
    CHANGES_SCHEMA,
    FLAT_SCHEMA,
    REKEYED_SCHEMA,
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
    column-op replay of :func:`state.resolve_step`. ``resolved`` is
    SET-ONCE (the first truthy bpmn in stream order), every falsy-bpmn
    event takes it once known (buffered rows flush first, in arrival
    order), and with no resolution the whole batch buffers."""
    # the partition id breaks a (timestamp, position) tie, like
    # classify.definition_dim; a stable lexsort (NaN last, like
    # sort_values) of a mostly sorted group: pandas' costs ~1 ms/group
    order = np.lexsort(
        [pd.to_numeric(pdf[c]).to_numpy() for c in ("partition_id", "position", "timestamp")]
    )
    if (order != np.arange(len(order))).any():
        pdf = pdf.take(order)
    bp = pdf["bpmn_process_id"].to_numpy(dtype=object)
    known = np.fromiter((isinstance(v, str) and v != "" for v in bp), bool, len(bp))
    if resolved is None and known.any():
        resolved = bp[known.argmax()]
    if resolved is None:
        return None, buffered + _records(pdf), pdf.iloc[:0]
    if not known.all():
        pdf = pdf.assign(bpmn_process_id=np.where(known, bp, resolved))
    if buffered:
        for r in buffered:
            r["bpmn_process_id"] = resolved
        pdf = pd.concat([pd.DataFrame(buffered, columns=pdf.columns), pdf], ignore_index=True)
    return resolved, [], pdf


#: hop A's operator rows: flat events + the C4 columns (route adds F5/F6)
_KEYED_SCHEMA = StructType(FLAT_SCHEMA.fields + REKEYED_SCHEMA.fields[-2:])


def _instance(k) -> int | None:
    return None if pd.isna(k) else int(k)


def _rekey_linked(links: dict, pdf: pd.DataFrame) -> tuple[dict, pd.DataFrame]:
    """C4 over one definition's resolved rows. ``links`` holds the
    definition's live call-activity links ``{child_key: parent_key}``: a
    child's PROCESS ELEMENT_ACTIVATING with parent > 0 adds its link, its
    ELEMENT_COMPLETED pops it (:func:`state.rekey_step`). The other
    instances keep the unlinked C4 values their rows arrive with; only
    the linked ones replay rekey_step, each in :func:`_event_sort_key`
    order."""
    inst = pdf["process_instance_key"]
    maybe = pd.to_numeric(pdf["parent_process_instance_key"]).to_numpy() > 0
    if not links and not maybe.any():
        return links, pdf
    registers = (
        maybe
        & (pdf["value_type"] == "PROCESS_INSTANCE").to_numpy()
        & (pdf["bpmn_element_type"] == "PROCESS").to_numpy()
        & (pdf["intent"] == "ELEMENT_ACTIVATING").to_numpy()
    )
    linked = set(links) | {_instance(k) for k in inst[registers]}
    mask = inst.isin([k for k in linked if k is not None]).to_numpy()
    if None in linked:
        mask |= inst.isna().to_numpy()
    records = _records(pdf[mask])
    records.sort(key=_event_sort_key)
    by_instance: dict = {}
    for r in records:
        by_instance.setdefault(_instance(r["process_instance_key"]), []).append(r)
    rows: list[dict] = []
    for k, events in by_instance.items():
        st, emitted = sm.rekey_step(sm.RekeyState(parent_key=links.pop(k, None)), events)
        if st.parent_key is not None:
            links[k] = int(st.parent_key)
        rows += emitted
    return links, pd.concat([pdf[~mask], pd.DataFrame(rows, columns=pdf.columns)], ignore_index=True)


def _resolve_rekey_batch(blob: str | None, pdf: pd.DataFrame) -> tuple[pd.DataFrame, str]:
    """Hop A's step for one definition key: :func:`_resolve_batch`, then
    :func:`_rekey_linked` over the rows it emits. The state blob is
    ``{resolved_bpmn, buffered, links}``, the links as ``[child, parent]``
    pairs, which keeps a null child key."""
    d = json.loads(blob) if blob else {"resolved_bpmn": None, "buffered": [], "links": []}
    resolved, buffered, out = _resolve_batch(d["resolved_bpmn"], d["buffered"], pdf)
    links, out = _rekey_linked(dict(d["links"]), out)
    return out, json.dumps(
        {"resolved_bpmn": resolved, "buffered": buffered, "links": list(links.items())}
    )


def _keyed_stage(
    df: DataFrame,
    key: str,
    schema: StructType,
    step: Callable[[tuple, str | None, pd.DataFrame], tuple[pd.DataFrame, str]],
) -> DataFrame:
    """One stateful operator: ``applyInPandasWithState`` grouped by ``key``,
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


def resolve_rekey_stage(events: DataFrame) -> DataFrame:
    """Hop A's operator: C5 and C4 in one keyed pass, grouped by
    process_definition_key. One key's state holds the C5 resolution with
    its buffered rows (never evicted, like the reference's
    TempDocumentStore.java:16-17) and the definition's live links. The
    rows enter with the unlinked C4 values (effective_key = own key,
    child_start = false), which a definition without live links keeps.

    Contract: a child's rows carry its definition key, as Zeebe writes
    it on process-instance, variable and job records. A child row
    without one falls in the null-definition group, which holds no
    link, and stays on the child's own key where the batch replay
    re-keys it to the parent (pinned by test_streaming.py's
    test_linked_child_row_without_definition_key_stays_on_the_child)."""
    return _keyed_stage(
        resolve_input(events)
        .withColumn("effective_key", F.col("process_instance_key"))
        .withColumn("child_start", F.lit(False)),
        "process_definition_key",
        _KEYED_SCHEMA,
        lambda _key, blob, pdf: _resolve_rekey_batch(blob, pdf),
    )


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
    executor instead of in the JVM heap, and changelog checkpointing
    uploads per-batch deltas, so checkpoint cost is O(changed keys).
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
    ``max_files_per_trigger`` bounds hop A's micro-batch size. Hop B
    reads each drain's ``resolved/`` output as one micro-batch, so only a
    new drain splits its state across batches."""
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


def _run_hops(
    spark: SparkSession,
    events: DataFrame,
    work_dir: str,
    registry: DataFrame | None,
    hop_timings: dict | None,
    sink: Callable[[DataFrame, int], None] | None,
) -> dict[str, str]:
    stale = [n for n in ("ckpt_rekeyed", "ckpt_jdbc") if os.path.exists(f"{work_dir}/{n}")]
    if stale:
        raise ValueError(
            f"{work_dir} holds checkpoints of the four-query topology "
            f"({', '.join(stale)}): its hop state and change log do not "
            "carry over to the two-query one. Drain into a new work_dir."
        )
    paths = {n: os.path.join(work_dir, n) for n in ("resolved", "changes")}
    os.makedirs(paths["changes"], exist_ok=True)

    def drain(writer, name: str, hop: str) -> None:
        t0 = time.perf_counter()
        (
            writer.option("checkpointLocation", os.path.join(work_dir, f"ckpt_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        if hop_timings is not None:
            hop_timings[hop] = hop_timings.get(hop, 0.0) + time.perf_counter() - t0

    def write_changes(batch_df: DataFrame, epoch_id: int) -> None:
        # materialized once, so the entity operator runs (and commits its
        # state) once per epoch; the epoch's rows appear by an atomic
        # rename, which a replayed epoch finds done
        batch = batch_df.localCheckpoint(eager=True)
        final = os.path.join(paths["changes"], f"batch-{epoch_id:020d}")
        if not os.path.exists(final):
            tmp = os.path.join(paths["changes"], "_tmp", os.path.basename(final))
            batch.write.mode("overwrite").parquet(tmp)
            os.replace(tmp, final)
        if sink is not None:
            sink(batch, epoch_id)

    keyed = route(resolve_rekey_stage(events), registry).select(*_columns(REKEYED_SCHEMA))
    drain(
        keyed.writeStream.format("parquet").option("path", paths["resolved"]),
        "resolved",
        "resolve_rekey",
    )
    rekeyed = spark.readStream.schema(REKEYED_SCHEMA).parquet(paths["resolved"])
    entities = entity_stage(rekeyed).writeStream.foreachBatch(write_changes)
    drain(entities, "changes", "entity_sink")
    return paths


def run_multi_hop(
    spark: SparkSession,
    events: DataFrame,
    work_dir: str,
    registry: DataFrame | None = None,
    hop_timings: dict | None = None,
) -> dict[str, str]:
    """Drain the two-query topology over the parsed event stream
    ``events`` (:func:`read_raw_stream` or :func:`read_landed_stream`);
    returns output paths. Each hop is checkpointed and restart-safe:

      resolved/  hop A: F1-F3 + C5 + C4 (effective_key) + routing (F5/F6),
                 in REKEYED_SCHEMA
      changes/   hop B: typed change rows (variable/task inserts, entity
                 upserts), one ``batch-<epoch>/`` directory per epoch

    A ``work_dir`` holding the older four-query checkpoints is refused.
    ``hop_timings`` (optional dict) accumulates wall seconds per hop
    (``resolve_rekey``/``entity_sink``, += so multi-wave callers fold)
    for tools/bench_ingest.py."""
    return _run_hops(spark, events, work_dir, registry, hop_timings, None)


def materialize_tables(spark: SparkSession, changes_path: str) -> dict[str, DataFrame]:
    """Fold the change log into the five output tables (upsert semantics:
    the latest snapshot per instance wins; variables/tasks are appends).
    In production this folding runs inside foreachBatch straight into JDBC
    (sinks/jdbc.py); reading the parquet change log gives the same tables
    for verification. The log is one directory per epoch, read
    recursively; the hidden ``_tmp/`` is skipped."""
    ch = (
        spark.read.schema(CHANGES_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(changes_path)
    )
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
        source, or a file-drop bridge dir -> hop A (resolve + rekey +
        route) -> hop B (entity state machine -> change log -> per-tenant
        JDBC MERGE/append, sinks/jdbc.changes_foreach_batch).

    One call is one drain of two streaming queries: with
    ``nats_options`` it first lands the stream's new sequences into
    ``<work_dir>/landing`` on the driver, then both hops run to the end
    of their input and stop. A deployment calls this in a loop.

    ``resolve_url`` maps tenant -> JDBC url (sinks/jdbc.tenant_url_resolver
    over the master tenant_server_connections table); ``executor`` runs
    (url, statements) batches (a picklable DBAPI executor from
    sinks/dbapi.py in production, a recording fake in tests).
    ``distributed``/``dialect`` pass through to the sink (see
    changes_foreach_batch): the default is the DISTRIBUTED writer — rows
    never traverse the driver — which requires a picklable executor;
    pass ``distributed=False`` for the driver-collect topology (small
    deployments, py4j ``jvm_executor``).
    The landing files and both hops are checkpointed under ``work_dir``;
    a replayed epoch re-runs the idempotent MERGE, so the upserted tables
    are exactly-once. The ph_tasks / ph_variables append logs are plain
    INSERTs and only at-least-once: an epoch replayed after a partial
    sink commit inserts its committed log rows again (sinks/jdbc.py;
    ROADMAP direction 3)."""
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
    sink = changes_foreach_batch(
        resolve_url, executor, distributed=distributed, dialect=dialect
    )
    return _run_hops(spark, events, work_dir, registry, None, sink)
