"""NATS JetStream ingestion (SURVEY §2.1 S1): JetStream -> landing ->
file source.

The reference subscribes to core NATS subject ``zeebe-export`` in-process
(NatsConsumer.java:34-35, application.yml:2-11) — at-most-once, nothing is
replayable, a crash loses messages. This module targets **NATS JetStream**
(the durable mode of the same subject): JetStream assigns every message a
monotonically increasing *stream sequence*, so any range of the subject can
be read again.

:func:`land` drains the sequences after the last landed one on the driver
and writes them to a landing directory as parquet files named
``seq-<start>-<end>.parquet`` (inclusive sequence bounds, zero-padded).
The deployment then reads that directory with Spark's file stream source
(streaming/pipeline.read_landed_stream). Exactly-once end to end rests on
two logs: the file names record which sequences have landed (a rerun
resumes at the highest ``<end>``), and the file source's checkpoint records
which files the hops have consumed. A file is written under ``_tmp/`` and
moved into place with one ``os.rename``; Spark ignores ``_``-prefixed
paths, so it never sees a half-written file. Parquet keeps each payload
whole (no newline framing) and keeps the ``seq`` column, so
``missing=skip`` gaps stay visible.

Why the driver: one socket drains 20-30k messages/s (4-vCPU host,
localhost broker double), far above what the three stateful hops
consume, while a Python streaming data source costs a planner process
and ~2 s of query start on every drain.

Transports (``transport`` option):

- ``wire`` (default): real NATS JetStream via the dependency-free socket
  client (sources/nats_wire.py) — STREAM.INFO for the latest sequence,
  batched DIRECT.GET or pipelined STREAM.MSG.GET for ranged reads, with
  zero third-party imports. Exercised over real TCP in tests against a
  protocol double (tests/nats_mini_server.py) and, opt-in, against a real
  broker (tests/test_nats_live.py). ``missing=skip`` tolerates
  retention-purged sequences (each skipped message is one ``seq`` gap in
  the landed files and one count in :func:`land`'s skipped total);
  ``missing=fail`` (the default) fails loudly on a purged range.
- ``file``: a JSON-lines file treated as a pre-captured stream, line i ==
  sequence i+1. Deterministic; drives the same landing in tests.

Other options: ``subject``, ``servers``, ``stream``, ``path`` (file
transport), ``pipeline_window`` (wire: messages per direct-get batch /
MSG.GETs in flight, default 64), ``ranged_get`` (wire: auto|direct|msg),
``starting_seq`` (where an empty landing directory starts),
``partition_target_rows`` (sequences per landed file, default 5000) and
``max_rows_per_trigger`` (sequences landed per :func:`land` call).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SUBJECT = "zeebe-export"  # application.yml:8-11
DEFAULT_SERVERS = "nats://localhost:4222"  # application.yml:2-4

NATS_SCHEMA = "value string, subject string, seq bigint"
_ARROW_SCHEMA = pa.schema(
    [("value", pa.string()), ("subject", pa.string()), ("seq", pa.int64())]
)


class _FileTransport:
    """A captured stream: line i of the file is sequence i+1. Lets tests
    (and local replays of a NATS dump) exercise the real source machinery
    without a broker."""

    def __init__(self, path: str, subject: str) -> None:
        self.path = path
        self.subject = subject

    def latest(self) -> int:
        n = 0
        with open(self.path, "rb") as f:
            for line in f:
                if line.strip():
                    n += 1
        return n

    def fetch(self, start: int, end: int) -> Iterator[tuple[str, str, int]]:
        seq = 0
        with open(self.path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                seq += 1
                if seq <= start:
                    continue
                if seq > end:
                    break
                yield (line.rstrip("\n"), self.subject, seq)


class _WireTransport:
    """JetStream by stream sequence over the dependency-free wire client
    (sources/nats_wire.py). One short-lived connection per call."""

    def __init__(
        self,
        servers: str,
        stream: str,
        missing: str,
        window: int = 64,
        ranged_get: str = "auto",
    ) -> None:
        if missing not in ("fail", "skip"):
            raise ValueError(f"missing must be fail|skip, got {missing!r}")
        if window < 1:
            # surfaced here as a config error: a 0/negative window would
            # send no requests and block in the socket read until timeout
            raise ValueError(f"pipeline_window must be >= 1, got {window}")
        if ranged_get not in ("auto", "direct", "msg"):
            raise ValueError(
                f"ranged_get must be auto|direct|msg, got {ranged_get!r}"
            )
        self.servers = servers
        self.stream = stream
        self.missing = missing
        self.window = window
        self.ranged_get = ranged_get

    def latest(self) -> int:
        from .nats_wire import NatsWireClient

        with NatsWireClient(self.servers) as c:
            return c.last_seq(self.stream)

    def fetch(self, start: int, end: int) -> Iterator[tuple[str, str, int]]:
        # Ranged read, two strategies (both single-connection per range):
        #   direct — batched direct get (ADR-31): one request per
        #     `window` messages, raw payloads; the server does O(1)
        #     request parses per window instead of per message. The
        #     100 TB consume shape, and the fix for the round-11 wire
        #     ceiling (the per-message MSG.GET RPC cost).
        #   msg — per-sequence MSG.GET pipelined `window`-deep: works
        #     against any JetStream stream, including allow_direct=false.
        # auto tries direct and falls back to msg if the server rejects
        # it BEFORE the first message (no headers / no allow_direct); a
        # failure mid-stream propagates — silently restarting could
        # double-yield sequences. direct_get_batch buffers each window
        # until its 204 EOB (r13, ADVICE): a real 2.2-2.10 server
        # supports direct get but IGNORES the batch field — one message,
        # no EOB — so the missing-terminator timeout surfaces as an
        # OSError before any message is yielded and this fallback
        # engages instead of failing the partition mid-read.
        # missing=skip surfaces purged sequences as seq-column gaps on
        # both paths.
        from .nats_wire import NatsWireClient, NatsWireError, SeqOutOfRange

        if self.ranged_get in ("auto", "direct"):
            with NatsWireClient(self.servers) as c:
                gen = c.direct_get_batch(
                    self.stream,
                    start,
                    end,
                    window=self.window,
                    missing=self.missing,
                )
                first = None
                try:
                    first = next(gen)
                except StopIteration:
                    return
                except SeqOutOfRange:
                    raise  # real data loss, not a capability gap
                except (NatsWireError, OSError):
                    # NatsWireError: 503 no-responders / API error from a
                    # stream without allow_direct. OSError/timeout: a
                    # server that never answers the DIRECT.GET subject at
                    # all (no no-responders negotiation possible) — both
                    # are capability signals BEFORE any yielded message,
                    # so the per-sequence path can safely re-read the
                    # whole range.
                    if self.ranged_get == "direct":
                        raise
                    gen = None  # fall through to the MSG.GET path
                if gen is not None:
                    seq, subject, data = first
                    yield (data.decode("utf-8"), subject, seq)
                    for seq, subject, data in gen:
                        yield (data.decode("utf-8"), subject, seq)
                    return
        with NatsWireClient(self.servers) as c:
            for seq, subject, data in c.get_msgs_pipelined(
                self.stream, start, end, window=self.window, missing=self.missing
            ):
                yield (data.decode("utf-8"), subject, seq)


def _transport(options: dict):
    kind = options.get("transport", "wire")
    subject = options.get("subject", DEFAULT_SUBJECT)
    if kind == "file":
        return _FileTransport(options["path"], subject)
    if kind == "wire":
        return _WireTransport(
            options.get("servers", DEFAULT_SERVERS),
            options.get("stream", subject),
            options.get("missing", "fail"),
            int(options.get("pipeline_window", 64)),
            options.get("ranged_get", "auto"),
        )
    raise ValueError(f"unknown nats transport {kind!r}")


_LANDED = re.compile(r"^seq-(\d+)-(\d+)\.parquet$")


def _landed_end(landing_dir: str) -> int | None:
    """The highest sequence landed in ``landing_dir``; None if empty."""
    ends = [
        int(m.group(2))
        for m in map(_LANDED.match, os.listdir(landing_dir))
        if m
    ]
    return max(ends, default=None)


def land(options: dict, landing_dir: str) -> tuple[int, int]:
    """Drain the sequences after the last landed one, up to the stream's
    latest, into ``landing_dir``; returns (messages landed, sequences
    skipped).

    Ranges of ``partition_target_rows`` sequences become one parquet file
    each (``NATS_SCHEMA``), at most ``max_rows_per_trigger`` sequences per
    call. Each file is written under ``_tmp/`` and renamed into place, so a
    crash leaves either a whole file or none, and a rerun re-lands exactly
    the ranges that are missing. A range whose every sequence was purged
    (``missing=skip``) still lands, as an empty file, so the next call
    moves past it."""
    t = _transport(options)
    step = max(1, int(options.get("partition_target_rows", 5000)))
    cap = int(options.get("max_rows_per_trigger", 0)) or None
    tmp_dir = os.path.join(landing_dir, "_tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    start = _landed_end(landing_dir)
    if start is None:
        start = int(options.get("starting_seq", 0))
    end = t.latest()
    if cap is not None:
        end = min(end, start + cap)
    # leftovers of a crashed call (one lander per directory): their
    # ranges were never renamed into place, so they are re-landed below
    for name in os.listdir(tmp_dir):
        os.remove(os.path.join(tmp_dir, name))
    landed = skipped = 0
    for lo in range(start, end, step):
        hi = min(lo + step, end)
        rows = [
            {"value": value, "subject": subject, "seq": seq}
            for value, subject, seq in t.fetch(lo, hi)
        ]
        name = f"seq-{lo + 1:020d}-{hi:020d}.parquet"
        tmp = os.path.join(tmp_dir, name)
        pq.write_table(pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), tmp)
        os.rename(tmp, os.path.join(landing_dir, name))
        landed += len(rows)
        skipped += hi - lo - len(rows)
    return landed, skipped
