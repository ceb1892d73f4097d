"""Driver-gate tests for the streaming replay (streaming/replay.py).

The ``zeebe_*_streaming`` registry entries put the streaming semantics
under the driver's DuckDB oracle gate (VERDICT r8 task #1); their tables
are built by batch_replay's native fixed point of the three hops, whose
parity with the real topology is pinned by the ``slow`` A/B tests in
tests/test_batch_replay.py. These tests pin the two properties the
oracle itself can't see:

1. the staged tables never came from the batch pipeline — it is
   MONKEYPATCHED TO RAISE during the build;
2. the ordered-chunk writer emits a genuine ordered delivery (contiguous
   (timestamp, position) ranges, strictly increasing mtimes) — the
   property cross-micro-batch state correctness rests on.
"""

from __future__ import annotations

import json
import os

import pytest

from ph_ee_nats_importer_rdbms_spark.plans import staging
from ph_ee_nats_importer_rdbms_spark.streaming import replay


def test_streaming_entries_never_touch_batch_pipeline(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Build the streaming table store from scratch (fresh stage cache)
    with every batch-pipeline entry point rigged to raise — then check the
    result against the batch tables built afterwards. Green means the
    streaming path alone reproduced the reference semantics."""
    from ph_ee_nats_importer_rdbms_spark.operators import pipeline as batch

    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "cache"))

    def boom(*a, **k):
        raise AssertionError("batch pipeline invoked during streaming replay")

    monkeypatch.setattr(batch, "run_import_pipeline_routed", boom)
    monkeypatch.setattr(batch, "run_import_pipeline", boom)

    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES

    streamed = {
        name: QUERIES[f"zeebe_{name}_streaming"][0](spark, sf_dir)
        .localCheckpoint(eager=True)
        for name in replay.TABLES
    }
    assert streamed["transfers"].count() > 0

    # un-rig the batch pipeline and compare table-for-table
    monkeypatch.undo()
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "cache"))
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES as Q2

    for name, sdf in streamed.items():
        bdf = Q2[f"zeebe_{name}"][0](spark, sf_dir)
        assert sdf.exceptAll(bdf).count() == 0, f"{name}: streaming-only rows"
        assert bdf.exceptAll(sdf).count() == 0, f"{name}: batch-only rows"


def test_write_ordered_chunks_is_an_ordered_delivery(spark, sf_dir, tmp_path):
    """Chunk k's (timestamp, position) range ends strictly before chunk
    k+1's begins, and mtimes strictly increase — so the file stream source
    (oldest-first, one file per trigger) replays the corpus in the order
    the reference's NATS subscription would deliver it."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import zeebe_events_df

    flat = zeebe_events_df(spark, sf_dir).limit(2000)
    src = str(tmp_path / "src")
    replay.write_ordered_chunks(flat, src, chunks=4)

    files = sorted(os.listdir(src))
    assert files == [f"chunk-{i:03d}.jsonl" for i in range(len(files))]
    assert len(files) > 1

    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

    prev_max = None
    total = 0
    for f in files:
        keys = []
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                env = json.loads(line)
                keys.append((env["timestamp"], env["position"]))
        assert keys, f"{f} is empty"
        total += len(keys)
        if prev_max is not None:
            assert min(keys) > prev_max, f"{f} overlaps the previous chunk"
        prev_max = max(keys)
    assert total == 2000


def test_envelope_json_roundtrips_through_parse_envelope(spark, sf_dir):
    """envelope_json is the exact inverse of parse_envelope: flat ->
    envelope JSON -> parse_envelope == identity over the real corpus
    (including empty-string bpmnProcessId, the C5 trigger, and escaped
    JSON-in-JSON variable values)."""
    from ph_ee_nats_importer_rdbms_spark.operators.classify import parse_envelope
    from ph_ee_nats_importer_rdbms_spark.plans.queries import zeebe_events_df

    flat = zeebe_events_df(spark, sf_dir).limit(3000).localCheckpoint(eager=True)
    raw = flat.select(replay.envelope_json().alias("value"))
    back = parse_envelope(raw).select(*flat.columns)
    assert back.exceptAll(flat).count() == 0
    assert flat.exceptAll(back).count() == 0


def test_streaming_table_rejects_unknown_name(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown streaming table"):
        replay.streaming_table(spark, sf_dir, "nope")


def test_stream_domain_fingerprints_streaming_code():
    """Editing replay SEMANTICS must rebuild the replay store: the stream
    staging domain keys the per-key state machines, the hop schemas +
    native batch fixed point, and the build orchestration. The streaming
    WRAPPER module (pipeline.py) is deliberately NOT keyed (VERDICT r13
    task #3): a wrapper-perf edit cannot change a staged byte, and in r13
    exactly such an edit forced the driver through ~1,000 s of replay
    restaging."""
    _sources, modules = staging._DOMAINS["stream"]
    for m in (
        "streaming/state.py",
        "streaming/batch_replay.py",
        "streaming/replay.py",
    ):
        assert m in modules
    assert "streaming/pipeline.py" not in modules
    # and it still keys on the zeebe semantics (mappers, classify, ...)
    for m in staging._DOMAINS["zeebe"][1]:
        assert m in modules


def test_pipeline_wrapper_edit_leaves_replay_fingerprints_unchanged(
    tmp_path, monkeypatch
):
    """Functional form of the pin above: touching pipeline.py's bytes
    re-keys NOTHING in the stream/streamwire domains (the r13 regression
    shape), while touching batch_replay.py re-keys BOTH."""
    import shutil

    import ph_ee_nats_importer_rdbms_spark.plans.staging as st

    src = tmp_path / "src"
    src.mkdir()
    (src / "orders.parquet").write_bytes(b"not-really-parquet")

    pkg = tmp_path / "pkg"
    shutil.copytree(st._PKG_DIR, pkg)
    monkeypatch.setattr(st, "_PKG_DIR", str(pkg))
    st._CODE_DIGEST_CACHE.clear()

    before = {d: st.fingerprint(str(src), d) for d in ("stream", "streamwire")}
    with open(pkg / "streaming" / "pipeline.py", "a") as f:
        f.write("\n# wrapper-only edit\n")
    after_wrapper = {
        d: st.fingerprint(str(src), d) for d in ("stream", "streamwire")
    }
    assert after_wrapper == before

    with open(pkg / "streaming" / "batch_replay.py", "a") as f:
        f.write("\n# semantics edit\n")
    after_sem = {d: st.fingerprint(str(src), d) for d in ("stream", "streamwire")}
    assert after_sem["stream"] != before["stream"]
    assert after_sem["streamwire"] != before["streamwire"]
    st._CODE_DIGEST_CACHE.clear()


def test_streaming_entry_warm_path_is_a_pure_table_read(spark, sf_dir):
    """The warm cost contract of the replay entries: once staged, a
    zeebe_*_streaming query is a single parquet scan + projection — no
    Exchange, no join, no Python (the replay itself is ingest, paid once
    per fingerprint)."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES

    df = QUERIES["zeebe_transfers_streaming"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Join", "CartesianProduct", "Python"):
        assert bad not in plan, f"{bad} in streaming read-path plan:\n{plan}"
    assert "FileScan parquet" in plan


def test_wire_entry_consumes_via_wire_source_not_file_bridge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The wire-fed replay (VERDICT r9 task #7): build the wire table
    store from scratch with BOTH the batch pipeline AND the file-drop
    bridge's stream reader rigged to raise — green means every event
    reached the hops through the wire transport's landing over real TCP,
    and the result still equals the batch (oracle-gated) transfers
    table."""
    from ph_ee_nats_importer_rdbms_spark.operators import pipeline as batch
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "cache"))

    def boom(*a, **k):
        raise AssertionError("file/batch path invoked during wire replay")

    monkeypatch.setattr(batch, "run_import_pipeline_routed", boom)
    monkeypatch.setattr(batch, "run_import_pipeline", boom)
    monkeypatch.setattr(sp, "read_raw_stream", boom)

    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES

    wired = (
        QUERIES["zeebe_transfers_streaming_wire"][0](spark, sf_dir)
        .localCheckpoint(eager=True)
    )
    assert wired.count() > 0

    monkeypatch.undo()
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "cache"))
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES as Q2

    bdf = Q2["zeebe_transfers"][0](spark, sf_dir)
    assert wired.exceptAll(bdf).count() == 0, "wire-only rows"
    assert bdf.exceptAll(wired).count() == 0, "batch-only rows"


def test_streamwire_domain_fingerprints_the_source_adapter():
    """Editing the NATS source adapter must rebuild the wire tree (the
    adapter is what the wire gate certifies), while the file-fed replay
    keeps its stage; and the wire domain still keys the streaming engine
    and the zeebe semantics."""
    _sources, modules = staging._DOMAINS["streamwire"]
    for m in (
        "sources/nats_source.py",
        "sources/nats_wire.py",
        "streaming/state.py",
        "streaming/batch_replay.py",
        "streaming/replay.py",
    ):
        assert m in modules
    for m in staging._DOMAINS["zeebe"][1]:
        assert m in modules
    # the file-fed replay does NOT key the adapter: an adapter edit must
    # not force the (expensive) file replay rebuild
    assert "sources/nats_wire.py" not in staging._DOMAINS["stream"][1]


def test_wire_replay_publishes_in_strict_global_order(spark, sf_dir, tmp_path):
    """Sequence numbers must follow (timestamp, position): the wire build
    writes sort_within chunks, so the concatenation of the chunk files is
    a strict global order — the property that makes ANY sequence-range
    micro-batch cut time-coherent."""
    import json as _json

    src = str(tmp_path / "ordered_src")
    from ph_ee_nats_importer_rdbms_spark.plans.queries import zeebe_events_df

    flat = zeebe_events_df(spark, sf_dir).limit(2000)
    replay.write_ordered_chunks(flat, src, chunks=3, sort_within=True)
    keys = []
    for name in sorted(os.listdir(src)):
        if not name.startswith("chunk-"):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                e = _json.loads(line)
                keys.append((e["timestamp"], e["position"]))
    assert keys == sorted(keys) and len(keys) == 2000


def test_build_wire_rejects_empty_corpus(spark, tmp_path, monkeypatch):
    """An empty event corpus (zero chunk files) fails loudly instead of
    an unbound-variable NameError at the table-materialize step
    (driver ADVICE r10)."""
    import pytest

    from ph_ee_nats_importer_rdbms_spark.streaming import replay

    monkeypatch.setattr(
        replay, "write_ordered_chunks", lambda *a, **k: None
    )
    monkeypatch.setattr(
        replay.staging,
        "load_or_build",
        lambda spark_, sf, name, build: spark_.createDataFrame(
            [], "sequence long, raw string"
        ),
    )
    with pytest.raises(RuntimeError, match="no chunk files"):
        replay._build_wire(spark, "unused", str(tmp_path / "wire"))
