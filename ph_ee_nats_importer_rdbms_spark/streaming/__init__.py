"""Structured Streaming port of the import pipeline (SURVEY §2.3-§2.4,
§3.4 restated for micro-batches).

Two keyed stateful stages hold the reference's three in-JVM maps:

A. resolve + rekey (keyed by process_definition_key) — C5 out-of-order
   buffering: events with an empty bpmnProcessId wait in state until a
   record carrying the id for their definition key arrives
   (TempDocumentStore.java:16-42). The same state holds the definition's
   live C4 call-activity links: a child ACTIVATING registers
   child→parent, and the child's later VARIABLE and COMPLETED events are
   forwarded under the parent key (RecordParser.java:75,87-91,166-174,
   198-204), provided they carry the child's definition key.
B. entities (keyed by the effective key) — C1-C3, C6, D1-D4: the
   per-instance entity state machine + variable/task dedup, emitting
   upsert-shaped change rows each micro-batch.

Stage semantics live in state.py as plain-Python per-key reducers — the
exact per-event replay of the reference's mutation order — wrapped by
``applyInPandasWithState``. pipeline.py runs each stage as one
checkpointed query: A writes a parquet handoff, and B hands each epoch
to a ``foreachBatch`` body that writes the change log and runs the JDBC
MERGE.
"""
