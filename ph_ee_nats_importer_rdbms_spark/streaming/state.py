"""Per-key state machines for the streaming pipeline — plain Python.

These are the *faithful per-event replays* of the reference's mutable-map
logic: each function takes (state, events-in-arrival-order) and returns
(new_state, emitted rows). The streaming wrappers (pipeline.py) feed them
micro-batch groups sorted by (timestamp, position); unit tests feed them
event permutations directly.

The variable mappers are interpreted from operators.mappers.FieldSpec — the
SAME declarative table the batch pivot compiles to Columns — so batch and
streaming cannot drift (mappers.py docstring).

Reference fidelity notes:
- State never expires, like the reference's unbounded maps
  (InflightTransferManager.java:19, RecordParser.java:75,
  TempDocumentStore.java:16-17).
- Within a micro-batch, (timestamp, position) is the arrival order; the
  reference relies on NATS delivery order the same way (SURVEY §3.4).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Iterable

from ph_ee_nats_importer_rdbms_spark import config as cfg
from ph_ee_nats_importer_rdbms_spark.operators.mappers import (
    BATCH_SPECS,
    FieldSpec,
    KNOWN_BATCH_VARIABLES,
    KNOWN_TRANSACTION_REQUEST_VARIABLES,
    KNOWN_TRANSFER_VARIABLES,
    TRANSACTION_REQUEST_SPECS,
    TRANSFER_SPECS,
)

# ---------------------------------------------------------------------------
# Python interpretation of FieldSpec ops (mirror of mappers.extract_col)
# ---------------------------------------------------------------------------


def _strip_quotes(v: str | None) -> str | None:
    if v is None:
        return None
    if v.startswith('"'):
        v = v[1:]
    if v.endswith('"'):
        v = v[:-1]
    return v


def _payload_json(v: str | None) -> Any:
    """Parse a variable value that may be JSON or escaped JSON-in-JSON
    (JsonPathReader.parseEscaped, JsonPathReader.java:26-29)."""
    if v is None:
        return None
    try:
        doc = json.loads(v)
    except ValueError:
        return None
    if isinstance(doc, str):
        # doubly-encoded: the outer string held escaped JSON
        try:
            return json.loads(doc)
        except ValueError:
            return None
    return doc


def _jget(v: str | None, path: str) -> Any:
    """Lenient $.a.b.c leaf read — null on any miss (DEFAULT_PATH_LEAF_TO_NULL
    + SUPPRESS_EXCEPTIONS, JsonPathReader.java:17-18)."""
    doc = _payload_json(v)
    for part in path.lstrip("$.").split("."):
        if not isinstance(doc, dict):
            return None
        doc = doc.get(part)
    return doc


def _iso_to_ms(s: Any) -> int | None:
    """yyyy-MM-dd'T'HH:mm:ss, GMT (OperatorUtils.java:11-13; GMT forced at
    DatabaseImporterApplication.java:14-17) -> epoch ms, None on parse error
    (the reference logs-and-skips, VariableParser.java:178-182)."""
    s = _strip_quotes(s) if isinstance(s, str) else s
    if not isinstance(s, str):
        return None
    try:
        dt = datetime.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return None
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def apply_op(spec: FieldSpec, value: str | None, event_ts_ms: int) -> Any:
    tag, *args = spec.op
    if tag == "json":
        v = _jget(value, args[0])
        return None if v is None else str(v)
    if tag == "json_money":
        v = _jget(value, args[0])
        try:
            return None if v is None else round(float(v), 4)
        except (TypeError, ValueError):
            return None
    if tag == "json_default":
        v = _jget(value, args[0])
        return args[1] if v is None else str(v)
    if tag == "json_iso_ts":
        return _iso_to_ms(_jget(value, args[0]))
    if tag == "strip":
        return _strip_quotes(value)
    if tag == "money":
        s = _strip_quotes(value)
        try:
            return None if s is None else round(float(s), 4)
        except ValueError:
            return None
    if tag == "transfer_status":
        return "COMPLETED" if _strip_quotes(value) == "false" else "FAILED"
    if tag == "state_bool":
        s = _strip_quotes(value)
        if s is None or s == "":
            return None
        return args[0] if s == "true" else args[1]
    if tag == "const":
        return args[0]
    if tag == "event_ts":
        return event_ts_ms
    raise ValueError(f"unknown op tag {tag!r}")


def check_cond(spec: FieldSpec, value: str | None, direction: str | None) -> bool:
    if spec.cond is None:
        return True
    if spec.cond == "incoming":
        return direction == cfg.INCOMING
    if spec.cond == "not_incoming":
        return direction != cfg.INCOMING
    if spec.cond == "outgoing":
        return direction == cfg.OUTGOING
    if spec.cond == "value_true":
        return _strip_quotes(value) == "true"
    if spec.cond == "value_nonempty":
        s = _strip_quotes(value)
        return s is not None and s != ""
    raise ValueError(f"unknown cond tag {spec.cond!r}")


_SPECS_BY_TYPE: dict[str, tuple[list[FieldSpec], list[str]]] = {
    cfg.TRANSFER_TYPE: (TRANSFER_SPECS, KNOWN_TRANSFER_VARIABLES),
    cfg.TRANSACTION_REQUEST_TYPE: (
        TRANSACTION_REQUEST_SPECS,
        KNOWN_TRANSACTION_REQUEST_VARIABLES,
    ),
    cfg.BATCH_TYPE: (BATCH_SPECS, KNOWN_BATCH_VARIABLES),
}


# ---------------------------------------------------------------------------
# Stage 1 — C5 resolution, keyed by process_definition_key
# ---------------------------------------------------------------------------


@dataclass
class ResolveState:
    """TempDocumentStore.java:16-25 — resolved id + waiting events."""

    resolved_bpmn: str | None = None
    buffered: list[dict] = field(default_factory=list)


def resolve_step(
    state: ResolveState, events: Iterable[dict]
) -> tuple[ResolveState, list[dict]]:
    """Events for ONE definition key, arrival order. Emits events whose
    bpmnProcessId is known (own or learned); buffers the rest
    (NatsConsumer.java:60-70,82-87)."""
    out: list[dict] = []
    for ev in events:
        bpmn = ev.get("bpmn_process_id")
        if bpmn:
            if state.resolved_bpmn is None:
                state.resolved_bpmn = bpmn
                # replay everything that waited for this definition key
                for buf in state.buffered:
                    buf["bpmn_process_id"] = bpmn
                    out.append(buf)
                state.buffered = []
            out.append(ev)
        elif state.resolved_bpmn is not None:
            ev["bpmn_process_id"] = state.resolved_bpmn
            out.append(ev)
        else:
            state.buffered.append(ev)
    return state, out


# ---------------------------------------------------------------------------
# Stage 2 — C4 re-keying, keyed by process_instance_key
# ---------------------------------------------------------------------------


@dataclass
class RekeyState:
    """inflightCallActivities entry (RecordParser.java:75): the parent key
    while this instance is an in-flight call-activity child."""

    parent_key: int | None = None


def rekey_step(
    state: RekeyState, events: Iterable[dict]
) -> tuple[RekeyState, list[dict]]:
    """Events for ONE instance key, arrival order. Adds ``effective_key``
    (+ ``child_start`` marker on the parent-start event)."""
    out: list[dict] = []
    for ev in events:
        ev = dict(ev)
        ev["child_start"] = False
        inst = ev["process_instance_key"]
        is_process = (
            ev.get("value_type") == "PROCESS_INSTANCE"
            and ev.get("bpmn_element_type") == "PROCESS"
        )
        if is_process and ev.get("intent") == "ELEMENT_ACTIVATING":
            parent = ev.get("parent_process_instance_key")
            if parent is not None and parent > 0:
                # register link; the ACTIVATING itself starts the PARENT as
                # OUTGOING (RecordParser.java:184-194)
                state.parent_key = parent
                ev["effective_key"] = parent
                ev["child_start"] = True
                out.append(ev)
                continue
        if is_process and ev.get("intent") == "ELEMENT_COMPLETED":
            if state.parent_key is not None:
                # completion re-keys to parent and pops the link
                # (RecordParser.java:198-204)
                ev["effective_key"] = state.parent_key
                state.parent_key = None
                out.append(ev)
                continue
        if ev.get("value_type") == "VARIABLE" and state.parent_key is not None:
            # child variables apply to the parent (RecordParser.java:87-91)
            ev["effective_key"] = state.parent_key
            out.append(ev)
            continue
        ev["effective_key"] = inst
        out.append(ev)
    return state, out


# ---------------------------------------------------------------------------
# Stage 3 — entity state machine, keyed by effective_key
# ---------------------------------------------------------------------------


@dataclass
class EntityState:
    """The union of the three inflight managers' per-instance state, plus
    the dedup bookkeeping the reference does via DB lookups."""

    entity: dict = field(default_factory=dict)
    entity_type: str | None = None
    started: bool = False
    completed: bool = False
    #: D1 is keyed by the variable's OWN (instance, name), before the C4
    #: re-key (RecordParser.java:133-145 precedes :87-91). ``var_max_ts``
    #: holds the effective key's own variables (name -> max ts seen);
    #: ``child_var_max_ts`` those of re-keyed call-activity children
    #: (str(child key) -> name -> max ts), so a child never dedups
    #: against its parent. Blobs written before the split load with an
    #: empty child map.
    var_max_ts: dict = field(default_factory=dict)
    child_var_max_ts: dict = field(default_factory=dict)
    tasks_seen: list = field(default_factory=list)  # D2: [element_id, intent]
    seq: int = 0  # micro-batches processed; orders snapshots in the change log
    #: first tenant observed for this instance (time order). Persisted so a
    #: later micro-batch carrying only null-tenant events still routes its
    #: change rows to the instance's tenant DB instead of the default.
    tenant: str | None = None
    # transient O(1) membership index over tasks_seen (rebuilt lazily; NOT
    # serialized — tasks_seen stays the ordered source of truth)
    _tasks_idx: set | None = field(default=None, repr=False, compare=False)

    def to_json(self) -> str:
        return json.dumps(
            {
                "entity": self.entity,
                "entity_type": self.entity_type,
                "started": self.started,
                "completed": self.completed,
                "var_max_ts": self.var_max_ts,
                "child_var_max_ts": self.child_var_max_ts,
                "tasks_seen": self.tasks_seen,
                "seq": self.seq,
                "tenant": self.tenant,
            }
        )

    @classmethod
    def from_json(cls, s: str | None) -> "EntityState":
        if not s:
            return cls()
        d = json.loads(s)
        return cls(
            entity=d["entity"],
            entity_type=d["entity_type"],
            started=d["started"],
            completed=d["completed"],
            var_max_ts=d["var_max_ts"],
            child_var_max_ts=d.get("child_var_max_ts", {}),
            tasks_seen=d["tasks_seen"],
            seq=d.get("seq", 0),
            tenant=d.get("tenant"),
        )


def _fresh_entity(process_type: str) -> dict:
    """C1 fresh-entity constructors (Transfer.java:90-93 status IN_PROGRESS;
    TransactionRequest.java:79-82 state IN_PROGRESS; Batch.java:62-64)."""
    if process_type == cfg.TRANSFER_TYPE:
        return {"status": "IN_PROGRESS"}
    if process_type == cfg.TRANSACTION_REQUEST_TYPE:
        return {"state": "IN_PROGRESS"}
    return {}


def entity_step(
    state: EntityState, events: Iterable[dict]
) -> tuple[EntityState, list[dict]]:
    """Events for ONE effective instance key, arrival order. Emits:
    ``{"kind": "variable"|"task", ...row}`` for accepted event-log inserts,
    and is expected to be followed by :func:`entity_snapshot` for the upsert
    row if ``state.entity_type`` is set."""
    out: list[dict] = []
    for ev in events:
        vt = ev.get("value_type")
        ptype = ev.get("process_type") or cfg.UNKNOWN_TYPE
        ts = ev["timestamp"]
        if vt == "VARIABLE":
            name = ev.get("name")
            inst = ev["process_instance_key"]
            # D1 (RecordParser.java:133-145): drop if an already-processed
            # event for the variable's own (instance, name) had
            # timestamp >= this one
            seen = (
                state.var_max_ts
                if ev.get("effective_key", inst) == inst
                else state.child_var_max_ts.setdefault(str(inst), {})
            )
            prior = seen.get(name)
            if prior is not None and prior >= ts:
                continue
            seen[name] = ts
            out.append(
                {
                    "kind": "variable",
                    "workflow_key": ev.get("process_definition_key"),
                    "workflow_instance_key": inst,
                    "timestamp": ts,
                    "name": name,
                    "value": ev.get("value"),
                }
            )
            # C6: apply to the entity iff the name is known for the type
            # (RecordParser.java:93-127, F8)
            specs, known = _SPECS_BY_TYPE.get(ptype, (None, None))
            if specs is None or name not in known:
                continue
            if not state.entity and not state.started:
                state.entity = _fresh_entity(ptype)
                state.entity_type = ptype
                # direction falls back to the registry direction when a
                # variable touches an unstarted instance
                # (RecordParser.java:113-115)
                if ptype == cfg.TRANSACTION_REQUEST_TYPE and ev.get(
                    "process_direction"
                ):
                    state.entity.setdefault(
                        "direction", ev["process_direction"]
                    )
            state.entity_type = state.entity_type or ptype
            direction = state.entity.get("direction")
            for spec in specs:
                if spec.variable != name:
                    continue
                if not check_cond(spec, ev.get("value"), direction):
                    continue
                val = apply_op(spec, ev.get("value"), ts)
                if spec.mode == "first":
                    if state.entity.get(spec.target) is None and val is not None:
                        state.entity[spec.target] = val
                else:
                    state.entity[spec.target] = val
        elif vt == "JOB":
            # D2 (RecordParser.java:223-256); null type guard :224-227
            if ev.get("job_type") is None:
                continue
            sig = (ev.get("element_id"), ev.get("intent"))
            if state._tasks_idx is None:
                state._tasks_idx = {tuple(s) for s in state.tasks_seen}
            if sig in state._tasks_idx:
                continue
            state._tasks_idx.add(sig)
            state.tasks_seen.append(list(sig))
            out.append(
                {
                    "kind": "task",
                    "workflow_key": ev.get("process_definition_key"),
                    "workflow_instance_key": ev["process_instance_key"],
                    "timestamp": ts,
                    "intent": ev.get("intent"),
                    "record_type": ev.get("record_type"),
                    "type": ev.get("job_type"),
                    "element_id": ev.get("element_id"),
                }
            )
        elif vt == "PROCESS_INSTANCE" and ev.get("bpmn_element_type") == "PROCESS":
            intent = ev.get("intent")
            if intent == "ELEMENT_ACTIVATING":
                # D3 idempotent start (InflightTransferManager.java:26-34):
                # only set startedAt/direction when not already started
                if not state.started:
                    if not state.entity:
                        state.entity = _fresh_entity(ptype)
                    state.entity_type = state.entity_type or ptype
                    state.started = True
                    state.entity["started_at"] = ts
                    state.entity["direction"] = (
                        cfg.OUTGOING
                        if ev.get("child_start")
                        else ev.get("process_direction")
                    )
                    if ptype == cfg.BATCH_TYPE or state.entity_type == cfg.BATCH_TYPE:
                        state.entity.setdefault(
                            "workflow_key", ev.get("process_definition_key")
                        )
            elif intent == "ELEMENT_COMPLETED":
                # D4 idempotent end (InflightTransferManager.java:41-47):
                # unknown or already-completed instance -> drop
                if (state.started or state.entity) and not state.completed:
                    state.completed = True
                    state.entity["completed_at"] = ts
                    if state.entity_type == cfg.TRANSFER_TYPE:
                        # transfers force status COMPLETED (:50)
                        state.entity["status"] = "COMPLETED"
    return state, out


def entity_snapshot(key: int, state: EntityState) -> dict | None:
    """The current upsert row for this instance, or None if the reference
    would not have materialized an entity (C1)."""
    if state.entity_type is None or not state.entity:
        return None
    return {
        "kind": {
            cfg.TRANSFER_TYPE: "transfer",
            cfg.TRANSACTION_REQUEST_TYPE: "transaction_request",
            cfg.BATCH_TYPE: "batch",
        }.get(state.entity_type, "unknown"),
        "workflow_instance_key": key,
        "_seq": state.seq,
        **state.entity,
    }
