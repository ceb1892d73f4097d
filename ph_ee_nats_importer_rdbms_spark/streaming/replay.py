"""Staged replay stores behind the ``zeebe_*_streaming`` registry
entries: the five business tables computed from the staged event corpus
by the streaming semantics (the per-key state machines in state.py),
not by the batch pipeline in operators/.

What runs at build time (:func:`_build`): flat corpus -> raw Zeebe
envelope JSON (the inverse of operators/classify.parse_envelope) ->
parse_envelope -> the NATIVE batch fixed point of the three stateful
hops (streaming/batch_replay.replay_tables: a native C5 resolve, a
native rekey with Python only on the linked slice, native D1/D2 dedup
with Python only on the entity-snapshot fold) -> the five tables, typed
to the batch sink schemas (schemas.py) and staged once per (dataset,
code) fingerprint. The wire form (:func:`_build_wire`) swaps the
envelope round trip for a real publish over the in-repo NATS protocol
double and the deployment's landing (sources/nats_source.land), then
runs the same fixed point.

The two-query Structured Streaming topology (streaming/pipeline.run_multi_hop)
is NOT on the staging path. Its agreement with the native fixed point is
pinned by the ``slow`` A/B tests in tests/test_batch_replay.py: per-hop
randomized multi-batch corpora, and :func:`_build_streaming` (ordered
envelope chunks through the real availableNow topology) against
:func:`_build`, hash-identical staged tables.

The ``zeebe_*_streaming`` entries are gated by the SAME oracle SQL as
their batch twins, so a mismatch in the envelope parse, C5 buffering,
C4 re-key, D1-D4 state, C6 mappers or the change-log typing turns a
driver row red.

Ordering contract (the streaming A/B build and the wire replay): NATS
JetStream delivers a stream in order, and the reference relies on that
(its state machines assume activation precedes completion).
:func:`write_ordered_chunks` reproduces ordered delivery without a
driver-side sort-and-collect: ``repartitionByRange`` over the globally
unique (timestamp, position) key writes contiguous time ranges as
separate files, renamed to lexicographic chunk names with strictly
increasing mtimes so the file stream source (oldest-first) feeds them as
ordered micro-batches. Intra-chunk order is irrelevant — every stateful
stage sorts its key group by (timestamp, position) within the batch.

Scale note: this is an INGEST artifact, built once per dataset
fingerprint (same family as the incremental-store staging builds).
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ph_ee_nats_importer_rdbms_spark import schemas
from ph_ee_nats_importer_rdbms_spark.plans import staging

#: micro-batch count for hop A — enough to force cross-batch keyed-state
#: handoff at corpus scale, small enough that per-trigger overhead stays
#: a staging-time constant.
REPLAY_CHUNKS = 4

TABLES = ("transfers", "transaction_requests", "batches", "variables", "tasks")

_ENTITY_SCHEMAS = {
    "transfers": schemas.TRANSFERS_SCHEMA,
    "transaction_requests": schemas.TRANSACTION_REQUESTS_SCHEMA,
    "batches": schemas.BATCHES_SCHEMA,
}


def envelope_json() -> Column:
    """Flat event row -> raw Zeebe 1.x envelope JSON string — the exact
    inverse of operators/classify.parse_envelope (null fields omitted,
    like a real broker payload; empty-string bpmnProcessId is PRESERVED —
    it is the C5 trigger, not a missing field)."""
    value = F.struct(
        F.col("bpmn_process_id").alias("bpmnProcessId"),
        F.col("process_instance_key").alias("processInstanceKey"),
        F.col("process_definition_key").alias("processDefinitionKey"),
        F.col("parent_process_instance_key").alias("parentProcessInstanceKey"),
        F.col("bpmn_element_type").alias("bpmnElementType"),
        F.col("element_id").alias("elementId"),
        F.col("name").alias("name"),
        F.col("job_type").alias("type"),
        F.col("value").alias("value"),
    )
    env = F.struct(
        F.col("partition_id").alias("partitionId"),
        F.col("position").alias("position"),
        F.col("key").alias("key"),
        F.col("timestamp").alias("timestamp"),
        F.col("record_type").alias("recordType"),
        F.col("value_type").alias("valueType"),
        F.col("intent").alias("intent"),
        value.alias("value"),
    )
    # explicit option: do not depend on the session's jsonGenerator conf
    return F.to_json(env, {"ignoreNullFields": "true"})


def write_ordered_chunks(
    flat: DataFrame,
    src_dir: str,
    chunks: int = REPLAY_CHUNKS,
    sort_within: bool = False,
) -> None:
    """Write the corpus as ``chunks`` envelope-JSON files forming an
    ordered delivery: file k holds a contiguous (timestamp, position)
    range strictly before file k+1's, named chunk-%03d.jsonl with
    strictly increasing mtimes (the file stream source processes
    oldest-first). The write itself is fully distributed; only the
    metadata renames run on the driver.

    ``sort_within=True`` additionally sorts each chunk's lines by
    (timestamp, position), making the concatenation of the files a
    STRICT global order — the wire replay publishes from these files,
    and a broker's sequence numbers must follow event time for any
    sequence-range micro-batch cut to be time-coherent (the file
    replay doesn't need this: its batch boundary IS the chunk
    boundary, and intra-chunk order is irrelevant to the sorted
    stateful stages)."""
    tmp = src_dir + ".build"
    ranged = flat.repartitionByRange(chunks, "timestamp", "position")
    if sort_within:
        ranged = ranged.sortWithinPartitions("timestamp", "position")
    (
        ranged.select(envelope_json().alias("value"))
        .write.mode("overwrite")
        .text(tmp)
    )
    os.makedirs(src_dir, exist_ok=True)
    parts = sorted(
        n for n in os.listdir(tmp) if n.startswith("part-") and not n.endswith(".crc")
    )
    base = 1_000_000_000  # fixed epoch: chunk order is all that matters
    for i, name in enumerate(parts):
        dst = os.path.join(src_dir, f"chunk-{i:03d}.jsonl")
        os.rename(os.path.join(tmp, name), dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)


def _write_tables(tables: dict[str, DataFrame], out_root: str) -> None:
    """AQE-sized table writes (r13, guide §6): the replayed tables are
    read on every zeebe_*_streaming query — compact at the one-time
    build."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import compact_for_write

    for name in TABLES:
        compact_for_write(tables[name]).write.mode("overwrite").parquet(
            os.path.join(out_root, name)
        )


def _build(spark: SparkSession, sf_dir: str, root: str) -> None:
    """One-time staging build, NATIVE batch form (r14, guide §4/§2.4):
    flat corpus -> raw envelope JSON -> parse_envelope -> the batch fixed
    point of the streaming stages (streaming/batch_replay.py: native C5 fill,
    native no-link rekey with Python only on the linked slice, native
    D1/D2 insert dedup with Python only on the entity-snapshot slice) ->
    typed tables under ``root/tables/``.

    The envelope JSON round trip stays on the event path (to_json ->
    from_json over different schemas, so Catalyst cannot elide it) — the
    parse inverse is still what the gate certifies. Equivalence with the
    real streaming topology (:func:`_build_streaming`) is pinned by
    tests/test_batch_replay.py: hash-identical staged tables."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.plans.queries import flat_events_staged
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br

    flat = flat_events_staged(spark, sf_dir)
    raw = flat.select(envelope_json().alias("value"))
    tables = br.replay_tables(spark, parse_envelope(raw))
    _write_tables(tables, os.path.join(root, "tables"))


def _build_streaming(spark: SparkSession, sf_dir: str, root: str) -> None:
    """The pre-r14 staging build: ordered envelope chunks -> the real
    two-query Structured Streaming topology -> change-log fold -> typed
    tables. Chunk k is dropped into the source directory and drained
    before chunk k+1 lands, one ``run_multi_hop`` drain per chunk, so
    EVERY hop runs one micro-batch per chunk and the keyed state of
    both (C5 buffers and C4 links, entity folds) hands off across
    micro-batches. Kept as the STREAMING ORACLE for the batch build
    (tests/test_batch_replay.py A/Bs the two table stores
    hash-identical); not on the staging path — the native batch form
    computes the same fixed point at scan speed instead of ~11k env/s
    through Python stateful stages."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import flat_events_staged
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming.batch_replay import (
        _typed_entity,
    )

    flat = flat_events_staged(spark, sf_dir)
    chunk_dir = os.path.join(root, "chunks")
    src_dir = os.path.join(root, "source")
    work_dir = os.path.join(root, "work")
    write_ordered_chunks(flat, chunk_dir)
    os.makedirs(src_dir, exist_ok=True)
    for name in sorted(os.listdir(chunk_dir)):
        os.rename(os.path.join(chunk_dir, name), os.path.join(src_dir, name))
        paths = sp.run_multi_hop(
            spark, sp.read_raw_stream(spark, src_dir), work_dir
        )
    tables = sp.materialize_tables(spark, paths["changes"])
    for name in _ENTITY_SCHEMAS:
        tables[name] = _typed_entity(tables[name], _ENTITY_SCHEMAS[name])
    _write_tables(tables, os.path.join(root, "tables"))
    for d in (chunk_dir, src_dir, work_dir):
        shutil.rmtree(d, ignore_errors=True)


#: publish/land waves for the wire replay — each wave lands the broker's
#: new tail after the sequences the previous wave landed (the deployed
#: restart path of the landing). Two waves prove the resume.
WIRE_WAVES = 2


def _publish_file(url: str, subject: str, path: str) -> int:
    """Publish one ordered chunk file line-by-line over the NATS wire
    protocol — a single-socket serial loop because ORDER is the contract
    (JetStream sequences must follow (timestamp, position)); memory is
    one line at a time, never the corpus. Returns lines published."""
    from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import (
        NatsWireClient,
    )

    n = 0
    with NatsWireClient(url) as c:
        with open(path, "rb") as f:
            for line in f:
                line = line.rstrip(b"\n")
                if line:
                    c.publish(subject, line)
                    n += 1
        c.flush()
    return n


def _build_wire(spark: SparkSession, sf_dir: str, root: str) -> None:
    """The replay build with the WIRE TRANSPORT as the ingestion edge
    (VERDICT r9 task #7): raw envelopes are PUBLISHED to a NATS broker
    (the in-repo protocol double — real TCP, real JetStream API shapes;
    no broker binary exists in this environment) and drained with the
    deployment's own ingest step, :func:`sources.nats_source.land` over
    ``transport=wire`` (nats_source.py + nats_wire.py), not the file
    bridge. Delivery happens in ``WIRE_WAVES`` publish→land waves into one
    landing directory: each wave resumes after the highest sequence the
    previous one landed. The landed parquet files are then parsed and the
    stateful hops run as the native batch fixed point over the ingested
    corpus (r14 — see :func:`_build`; what THIS gate certifies is the
    wire adapter on the event path)."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.plans.queries import flat_events_staged
    from ph_ee_nats_importer_rdbms_spark.sources.nats_source import (
        NATS_SCHEMA,
        land,
    )
    from ph_ee_nats_importer_rdbms_spark.streaming import batch_replay as br

    try:
        from tests.nats_mini_server import MiniNatsServer
    except ImportError as e:  # pragma: no cover - repo layout guard
        raise RuntimeError(
            "the wire replay gate needs the in-repo NATS protocol double "
            "(tests/nats_mini_server.py on sys.path) or a real broker"
        ) from e

    flat = flat_events_staged(spark, sf_dir)
    src_dir = os.path.join(root, "source")
    work_dir = os.path.join(root, "work")
    # strict global order: sequence numbers must follow event time
    write_ordered_chunks(flat, src_dir, chunks=WIRE_WAVES, sort_within=True)
    chunk_files = sorted(
        os.path.join(src_dir, n)
        for n in (os.listdir(src_dir) if os.path.isdir(src_dir) else [])
        if n.startswith("chunk-")
    )
    if not chunk_files:
        raise RuntimeError(
            f"_build_wire: no chunk files under {src_dir} — empty event "
            "corpus (or write_ordered_chunks wrote nothing); the wire "
            "replay gate needs at least one publish wave"
        )
    if len(chunk_files) < WIRE_WAVES:
        # fewer part files than waves silently weakens the multi-wave
        # landing-resume coverage WIRE_WAVES documents — say so
        print(
            f"_build_wire: only {len(chunk_files)} of {WIRE_WAVES} "
            "publish waves materialized (tiny corpus?) — landing resume "
            "coverage reduced",
            file=sys.stderr,
        )
    landing = os.path.join(work_dir, "landing")
    with MiniNatsServer() as s:
        options = {"transport": "wire", "servers": s.url, "stream": s.js.stream}
        for path in chunk_files:
            _publish_file(s.url, s.js.subject, path)
            land(options, landing)
    corpus = parse_envelope(spark.read.schema(NATS_SCHEMA).parquet(landing))
    tables = br.replay_tables(spark, corpus)
    _write_tables(tables, os.path.join(root, "tables"))
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(work_dir, ignore_errors=True)


def streaming_table_wire(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """A business table built from envelopes ingested through the NATS
    wire transport and the landing (no file bridge anywhere on the event
    path — pinned by test), then folded by ``batch_replay``'s native
    batch fixed point of the streaming stages (see :func:`_build_wire`; the
    streaming topology does not run here). Staged once per (dataset, code) fingerprint in its own
    ``streamwire`` domain, which additionally keys the source adapter
    modules: an edit to nats_source.py/nats_wire.py rebuilds this
    artifact (the adapter is what this gate certifies) without
    invalidating the file-fed replay, and vice versa."""
    if name not in TABLES:
        raise ValueError(f"unknown streaming table {name!r}; one of {TABLES}")
    root = staging.artifact_tree(
        spark,
        sf_dir,
        domain="streamwire",
        name="replay_tables_wire",
        build=lambda tmp: _build_wire(spark, sf_dir, tmp),
        identity_source="orders.parquet",
    )
    return spark.read.parquet(os.path.join(root, "tables", name))


def streaming_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A business table as computed by ``batch_replay``'s native batch
    fixed point of the streaming stages (see :func:`_build`; the
    streaming topology itself runs only in the ``slow`` A/B tests that pin
    parity), staged once per (dataset, streaming-code) fingerprint. Read
    path is a plain committed-parquet scan — warm cost is corpus-shaped
    table I/O, the build itself is ingest (paid once)."""
    if name not in TABLES:
        raise ValueError(f"unknown streaming table {name!r}; one of {TABLES}")
    root = staging.artifact_tree(
        spark,
        sf_dir,
        domain="stream",
        name="replay_tables",
        build=lambda tmp: _build(spark, sf_dir, tmp),
        identity_source="orders.parquet",
    )
    return spark.read.parquet(os.path.join(root, "tables", name))
