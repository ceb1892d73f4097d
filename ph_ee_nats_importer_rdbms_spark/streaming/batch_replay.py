"""Native (DataFrame) replay of the three stateful stages (C5, C4,
entity) over a BOUNDED corpus — the batch form of streaming/pipeline.py's
topology, whose hop A runs the first two in one keyed operator.

The availableNow streaming replay processes each key's events in
(timestamp, position) order with state carried across micro-batches.
Over a bounded corpus the fixed point of each hop is expressible with
plain relational operators, so the one-time replay staging build
(streaming/replay.py) no longer has to move every envelope through a
Python stateful stage (guide §4: the measured bound was ~11k env/s per
32-core box; the native hops run at scan speed):

- **resolve (C5)**: per definition key, ``resolved`` is SET-ONCE — the
  first truthy bpmn in (timestamp, position, partition_id) order; every
  falsy-bpmn event is emitted with that value once it is known anywhere
  in the stream (buffered rows flush the moment resolution arrives), and
  with no resolution the falsy rows buffer forever (never emitted). The
  batch form is ``classify.resolve_events``, the same first-carrier
  dimension join every batch path uses.
- **rekey (C4)**: the only state write is a PROCESS ELEMENT_ACTIVATING
  with parent > 0; an instance that never registers a link maps every
  event to itself (effective_key = own key, child_start = false). Batch
  form: the linked instances are ``lifecycle.parent_links``' children
  (the batch importer's link set); a broadcast anti-join routes the bulk
  through a pure projection, and only the linked-instance slice replays
  :func:`state.rekey_step` in Python (guide §4 — Python on the slice,
  not the corpus). The linked set has the same cardinality as the
  reference's single-JVM inflightCallActivities map, i.e. broadcastable
  by the reference's own operating assumption.
- **entity (D1-D4/C6)**: variable-insert acceptance (D1) reduces to
  "timestamp strictly greater than the previous event's in the
  (process_instance_key, name) group" — with events sorted ascending the
  running max of accepted timestamps IS the previous row's timestamp —
  and task acceptance (D2) is plain first-occurrence per (effective_key,
  element_id, intent): both are native windows over disjoint slices.
  Only the entity-snapshot fold (PROCESS lifecycle rows + accepted
  KNOWN-name variables, the rows that can touch the entity dict)
  replays :func:`state.entity_step` in Python.

Equivalence with the streaming topology is pinned by
tests/test_batch_replay.py: randomized multi-batch corpora per hop plus
a full-build A/B (hash-identical staged tables) against
``replay._build_streaming`` on the real corpus.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ph_ee_nats_importer_rdbms_spark import config as cfg
from ph_ee_nats_importer_rdbms_spark import schemas
from ph_ee_nats_importer_rdbms_spark.operators import lifecycle
from ph_ee_nats_importer_rdbms_spark.operators.classify import (
    resolve_events,
    route,
)
from ph_ee_nats_importer_rdbms_spark.operators.mappers import (
    KNOWN_BATCH_VARIABLES,
    KNOWN_TRANSACTION_REQUEST_VARIABLES,
    KNOWN_TRANSFER_VARIABLES,
)
from ph_ee_nats_importer_rdbms_spark.streaming import state as sm

# ---------------------------------------------------------------------------
# Hop schemas and shared row helpers (also used by the streaming wrappers
# in pipeline.py — they live HERE because they define replay semantics and
# this module is fingerprinted by the stream staging domains, while
# pipeline.py is wrapper code whose edits must not invalidate replay
# artifacts; VERDICT r13 task #3)
# ---------------------------------------------------------------------------

_FLAT_FIELDS = [
    ("partition_id", T.LongType()),
    ("position", T.LongType()),
    ("key", T.LongType()),
    ("timestamp", T.LongType()),
    ("record_type", T.StringType()),
    ("value_type", T.StringType()),
    ("intent", T.StringType()),
    ("bpmn_process_id", T.StringType()),
    ("process_instance_key", T.LongType()),
    ("process_definition_key", T.LongType()),
    ("parent_process_instance_key", T.LongType()),
    ("bpmn_element_type", T.StringType()),
    ("element_id", T.StringType()),
    ("name", T.StringType()),
    ("value", T.StringType()),
    ("job_type", T.StringType()),
]

_ROUTED_EXTRA = [
    ("process_id", T.StringType()),
    ("tenant", T.StringType()),
    ("process_type", T.StringType()),
    ("process_direction", T.StringType()),
]

FLAT_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in _FLAT_FIELDS]
)
ROUTED_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in _FLAT_FIELDS + _ROUTED_EXTRA]
)
REKEYED_SCHEMA = T.StructType(
    ROUTED_SCHEMA.fields
    + [
        T.StructField("effective_key", T.LongType(), True),
        T.StructField("child_start", T.BooleanType(), True),
    ]
)

#: Stage-3 output: typed change rows. ``payload`` is the row JSON; sinks
#: re-type it per kind with from_json (schemas in sinks/jdbc.py).
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("workflow_instance_key", T.LongType(), True),
        T.StructField("tenant", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def _records(pdf: pd.DataFrame) -> list[dict]:
    """pandas rows -> plain-python dicts (no numpy scalars, NaN -> None).

    One ``to_numpy(dtype=object)`` pass (r13, guide §1.2 per-task work):
    casting the block to object converts numpy scalars to Python natives
    in C, so the Python loop only does the NaN/NaT -> None mapping —
    measured ~3x over the previous ``to_dict('records')`` + per-value
    ``hasattr`` cleaning, and this helper is on the per-event path of all
    three stateful hops (the many-key hops pay it per tiny key group,
    where pandas per-column access alone cost ~60µs)."""
    cols = list(pdf.columns)
    return [
        {
            c: None
            if (isinstance(v, float) and v != v) or v is pd.NaT
            else v
            for c, v in zip(cols, row)
        }
        for row in pdf.to_numpy(dtype=object).tolist()
    ]


def _concat(pdf_iter: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """One frame per key group; skip the concat when the group arrived as
    a single chunk (the common case for the many-key hops)."""
    chunks = list(pdf_iter)
    if len(chunks) == 1:
        return chunks[0]
    return pd.concat(chunks, ignore_index=True)


def _event_sort_key(e: dict):
    """(timestamp, position) with None-last per column — the order
    ``sort_values(["timestamp", "position"])`` produced (NaN sorts last
    per sort column; Python's sort is stable like the mergesort was)."""
    ts, pos = e["timestamp"], e["position"]
    return (
        ts is None,
        ts if ts is not None else 0,
        pos is None,
        pos if pos is not None else 0,
    )


def _event_order() -> tuple:
    """(timestamp, position) ascending with nulls LAST per column — the
    relational form of :func:`_event_sort_key` / the pandas mergesort
    the streaming wrappers apply inside each key group. (A function, not
    a module constant: Column exprs need a live SparkContext, and the
    Python workers import this module for the fold UDFs.)"""
    return (
        F.col("timestamp").asc_nulls_last(),
        F.col("position").asc_nulls_last(),
    )


def _same_key(a, b) -> bool:
    """Key equality that also matches null to null: a null ``long`` key
    reaches pandas as float64 NaN, and ``NaN == NaN`` is False."""
    return a == b or (pd.isna(a) and pd.isna(b))


def _group_folder(key_col: str, fold_records, cols: list[str]):
    """The ``mapInPandas`` body of :func:`_fold_sorted_groups`: folds
    each whole key group of the (key-sorted) batches. Groups can
    straddle Arrow batch boundaries, so each batch's trailing group is
    carried into the next batch (:func:`_same_key` keeps a null-key
    group whole: Spark hashes it to one partition like any other
    value)."""

    def run(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            records = _records(pdf)
            out: list[dict] = []
            i, n = 0, len(records)
            while i < n:
                k = records[i][key_col]
                j = i
                while j < n and records[j][key_col] == k:
                    j += 1
                out.extend(fold_records(k, records[i:j]))
                i = j
            return pd.DataFrame(out, columns=cols)

        carry: pd.DataFrame | None = None
        for pdf in pdf_iter:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            keys = pdf[key_col].to_numpy(dtype=object).tolist()
            last = keys[-1]
            cut = len(keys)
            while cut > 0 and _same_key(keys[cut - 1], last):
                cut -= 1
            carry = pdf.iloc[cut:]
            if cut:
                yield fold(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield fold(carry)

    return run


def _fold_sorted_groups(
    df: DataFrame,
    key_col: str,
    fold_records,
    out_schema: T.StructType,
) -> DataFrame:
    """Run a per-key Python fold over ``df`` WITHOUT per-group Arrow
    batches: hash-repartition by ``key_col``, sort each partition by
    (key, timestamp, position), then one ``mapInPandas`` pass whose
    batches hold MANY whole key groups (guide §4.2 — measured ~7x over
    ``groupBy().applyInPandas``, which paid per-tiny-group Arrow + pandas
    machinery for ~2 ms/group).

    ``fold_records(key, records)`` sees one key's records in
    :func:`_event_sort_key` order and returns output dicts (see
    :func:`_group_folder`)."""
    cols = [f.name for f in out_schema.fields]
    # no explicit partition count: spark.sql.shuffle.partitions governs
    # (scale-adaptive — sized by conf/env like every other shuffle, and
    # AQE coalesces the excess on small corpora)
    ordered = df.repartition(F.col(key_col)).sortWithinPartitions(
        F.col(key_col), *_event_order()
    )
    return ordered.mapInPandas(
        _group_folder(key_col, fold_records, cols), out_schema
    )


# ---------------------------------------------------------------------------
# Hop 2 — C4 rekey
# ---------------------------------------------------------------------------

def rekey_events(routed: DataFrame) -> DataFrame:
    """Batch form of hop A's C4 step (:func:`pipeline._rekey_linked`):
    instances that never register a call-activity link (not a child in
    :func:`lifecycle.parent_links`) take a pure projection (the bulk);
    only the linked slice replays :func:`state.rekey_step` in Python.

    Joins use null-safe equality so a (degenerate) null instance key
    routes to the Python slice, exactly like the streaming null key
    group."""
    cols = [f.name for f in REKEYED_SCHEMA.fields]
    linked = lifecycle.parent_links(lifecycle.process_events(routed)).select(
        F.col("child_key").alias("_linked_key")
    )
    on = F.col("process_instance_key").eqNullSafe(F.col("_linked_key"))
    bulk = (
        routed.join(F.broadcast(linked), on=on, how="left_anti")
        .withColumn("effective_key", F.col("process_instance_key"))
        .withColumn("child_start", F.lit(False))
        .select(*cols)
    )
    sliced = routed.join(F.broadcast(linked), on=on, how="left_semi")

    def fold(_key, records: list[dict]) -> list[dict]:
        _st, out = sm.rekey_step(sm.RekeyState(), records)
        return out

    linked_out = _fold_sorted_groups(
        sliced, "process_instance_key", fold, REKEYED_SCHEMA
    )
    return bulk.unionByName(linked_out)


# ---------------------------------------------------------------------------
# Hop 3 — D1-D4/C6 entity tables
# ---------------------------------------------------------------------------

def _known_name():
    """name is KNOWN for the event's process type — the rows whose
    accepted variables can touch the entity dict (C6, F8)."""
    return (
        F.when(
            F.col("process_type") == cfg.TRANSFER_TYPE,
            F.col("name").isin(*KNOWN_TRANSFER_VARIABLES),
        )
        .when(
            F.col("process_type") == cfg.TRANSACTION_REQUEST_TYPE,
            F.col("name").isin(*KNOWN_TRANSACTION_REQUEST_VARIABLES),
        )
        .when(
            F.col("process_type") == cfg.BATCH_TYPE,
            F.col("name").isin(*KNOWN_BATCH_VARIABLES),
        )
        .otherwise(F.lit(False))
    )

_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("workflow_instance_key", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _accepted_variables(rekeyed: DataFrame) -> DataFrame:
    """D1 acceptance, natively, keyed like the reference by the
    variable's OWN instance and name (RecordParser.java:133-145 runs
    before the :87-91 re-key), so a call-activity child's variable never
    dedups against its parent's. Events sorted ascending per
    (process_instance_key, name) means the running max of accepted
    timestamps equals the previous row's timestamp — accept iff there is
    no previous row or ``timestamp`` strictly exceeds it (a
    null-timestamp predecessor resets the max exactly like storing a
    None max does in :func:`state.entity_step`)."""
    w = Window.partitionBy("process_instance_key", "name").orderBy(
        *_event_order()
    )
    prev_ts = F.lag("timestamp").over(w)
    rn = F.row_number().over(w)
    return (
        rekeyed.filter(F.col("value_type") == "VARIABLE")
        .withColumn("_rn", rn)
        .withColumn("_prev_ts", prev_ts)
        .filter(
            (F.col("_rn") == 1)
            | F.col("_prev_ts").isNull()
            | (F.col("timestamp") > F.col("_prev_ts"))
        )
        .drop("_rn", "_prev_ts")
    )


def _entity_snapshots(rekeyed: DataFrame, accepted_vars: DataFrame) -> DataFrame:
    """Final entity snapshot per effective key: :func:`state.entity_step`
    replayed over ONLY the rows that can touch the entity dict — PROCESS
    lifecycle rows and accepted variables whose name is KNOWN for the
    event's process type (everything else only feeds the insert tables,
    handled natively). The fold's payload JSON is produced by the same
    ``entity_snapshot`` code as the streaming hop, so typed values are
    bit-identical."""
    lifecycle = rekeyed.filter(
        (F.col("value_type") == "PROCESS_INSTANCE")
        & (F.col("bpmn_element_type") == "PROCESS")
        & F.col("intent").isin("ELEMENT_ACTIVATING", "ELEMENT_COMPLETED")
    )
    entity_vars = accepted_vars.filter(_known_name())
    sliced = lifecycle.unionByName(entity_vars)

    def fold(key, records: list[dict]) -> list[dict]:
        import json

        st, _inserts = sm.entity_step(sm.EntityState(), records)
        st.seq += 1
        snap = sm.entity_snapshot(int(key), st)
        if snap is None:
            return []
        kind = snap.pop("kind")
        return [
            {
                "kind": kind,
                "workflow_instance_key": snap["workflow_instance_key"],
                "payload": json.dumps(snap),
            }
        ]

    return _fold_sorted_groups(sliced, "effective_key", fold, _SNAPSHOT_SCHEMA)


def _typed_entity(df: DataFrame, schema: T.StructType) -> DataFrame:
    """(workflow_instance_key, payload-JSON) change rows -> the batch sink
    schema. The payload is parsed all-strings (JSON scalars keep their
    literal text) and each field cast to its schema type — epoch-ms longs
    become timestamps via timestamp_millis, money strings re-round
    through decimal(19,4) exactly like the batch json_money cast."""
    pay = T.StructType(
        [
            T.StructField(f.name, T.StringType())
            for f in schema.fields
            if f.name != "workflow_instance_key"
        ]
    )
    parsed = df.select(
        F.col("workflow_instance_key").cast("long").alias("workflow_instance_key"),
        F.from_json("payload", pay).alias("p"),
    )
    cols = []
    for f in schema.fields:
        if f.name == "workflow_instance_key":
            cols.append(F.col("workflow_instance_key"))
            continue
        c = F.col(f"p.{f.name}")
        if isinstance(f.dataType, T.TimestampType):
            c = F.timestamp_millis(c.cast("long"))
        else:
            c = c.cast(f.dataType)
        cols.append(c.alias(f.name))
    return parsed.select(*cols)


def entity_tables(rekeyed: DataFrame) -> dict[str, DataFrame]:
    """The five business tables from a (bounded) rekeyed event relation —
    the batch fixed point of entity_stage + materialize_tables +
    replay's typed-entity casts."""
    accepted = _accepted_variables(rekeyed)
    variables = accepted.select(
        F.col("process_definition_key").cast("long").alias("workflow_key"),
        F.col("process_instance_key").cast("long").alias("workflow_instance_key"),
        F.col("timestamp").cast("long").alias("timestamp"),
        F.col("name").cast("string").alias("name"),
        F.col("value").cast("string").alias("value"),
    )
    w_task = Window.partitionBy("effective_key", "element_id", "intent").orderBy(
        *_event_order()
    )
    tasks = (
        rekeyed.filter(
            (F.col("value_type") == "JOB") & F.col("job_type").isNotNull()
        )
        .withColumn("_rn", F.row_number().over(w_task))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("process_definition_key").cast("long").alias("workflow_key"),
            F.col("process_instance_key").cast("long").alias(
                "workflow_instance_key"
            ),
            F.col("timestamp").cast("long").alias("timestamp"),
            F.col("intent").cast("string").alias("intent"),
            F.col("record_type").cast("string").alias("record_type"),
            F.col("job_type").cast("string").alias("type"),
            F.col("element_id").cast("string").alias("element_id"),
        )
    )
    # one materialization: three entity-table writes read the fold's
    # (small) output instead of re-running the Python pass per table
    snaps = _entity_snapshots(rekeyed, accepted).localCheckpoint(eager=True)
    out: dict[str, DataFrame] = {"variables": variables, "tasks": tasks}
    for kind, plural, schema in (
        ("transfer", "transfers", schemas.TRANSFERS_SCHEMA),
        ("transaction_request", "transaction_requests", schemas.TRANSACTION_REQUESTS_SCHEMA),
        ("batch", "batches", schemas.BATCHES_SCHEMA),
    ):
        out[plural] = _typed_entity(
            snaps.filter(F.col("kind") == kind).select(
                "workflow_instance_key", "payload"
            ),
            schema,
        )
    return out


def replay_tables(
    spark: SparkSession, events: DataFrame, registry: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Flat raw event relation -> the five replayed business tables.

    Block-manager materializations bound the plan: ``events`` is
    referenced twice by the resolve split (dimension pass + main pass —
    without the checkpoint the file build would parse the envelope JSON
    twice), ``routed`` three times by the rekey split, and ``rekeyed``
    feeds three output branches."""
    events = events.localCheckpoint(eager=True)
    routed = route(resolve_events(events), registry).localCheckpoint(eager=True)
    rekeyed = rekey_events(routed).localCheckpoint(eager=True)
    return entity_tables(rekeyed)
