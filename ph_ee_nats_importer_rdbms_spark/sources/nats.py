"""NATS ingestion, bridge flavor (SURVEY §2.1 S1) for core NATS: the
``zeebe-export`` subject bridged into Structured Streaming through a file
drop.

The deployment's NATS path is JetStream -> landing -> file source
(sources/nats_source.py): the driver lands stream-sequence ranges as
parquet files and the hops read them with the file stream source. This
module is the fallback for a subject on a server WITHOUT JetStream, where
no sequence exists to resume from: a tiny bridge process appends every
core-NATS message to rotating JSON-lines files, and the pipeline tails the
directory with the file stream source (streaming/pipeline.read_raw_stream).
The file hop adds a durable replayable log in front of an otherwise
at-most-once feed — strictly more reliable than the reference's direct
in-process subscription, which loses messages on crash
(NatsConsumer.java:34-35 has no ack/replay).

The NATS client library is not installed in this container, so connecting
is gated behind an import-try; everything else (rotation, flush cadence,
drop-directory layout) is real and unit-tested. With ``nats-py`` installed,
``NatsFileBridge(...).run()`` is the only thing a deployment adds.

For Kafka-available environments the equivalent one-liner bridge is
``spark.readStream.format("kafka")`` against a NATS→Kafka connector; the
downstream pipeline is source-agnostic (it only needs a ``value`` string
column).
"""

from __future__ import annotations

import os
import time

DEFAULT_SUBJECT = "zeebe-export"  # application.yml:8-11
DEFAULT_SERVERS = "nats://localhost:4222"  # application.yml:2-4


class NatsFileBridge:
    """Append NATS messages to rotating JSON-lines files that
    ``read_raw_stream`` consumes.

    Rotation keeps files micro-batch sized: a new file every
    ``rotate_messages`` messages or ``rotate_seconds`` seconds, whichever
    comes first; the active file is written under ``_tmp/`` and moved into
    the drop dir atomically on rotation so the stream source never reads a
    partial file.
    """

    def __init__(
        self,
        drop_dir: str,
        subject: str = DEFAULT_SUBJECT,
        servers: str = DEFAULT_SERVERS,
        rotate_messages: int = 5000,
        rotate_seconds: float = 2.0,
    ) -> None:
        self.drop_dir = drop_dir
        self.subject = subject
        self.servers = servers
        self.rotate_messages = rotate_messages
        self.rotate_seconds = rotate_seconds
        self._tmp_dir = os.path.join(drop_dir, "_tmp")
        os.makedirs(self._tmp_dir, exist_ok=True)
        self._buf: list[str] = []
        self._opened_at = time.monotonic()
        self._file_no = 0

    # -- file plumbing (real, unit-tested) ---------------------------------

    def append(self, message: str) -> None:
        """Buffer one raw event; rotate when thresholds trip."""
        self._buf.append(message)
        if (
            len(self._buf) >= self.rotate_messages
            or time.monotonic() - self._opened_at >= self.rotate_seconds
        ):
            self.flush()

    def flush(self) -> str | None:
        """Write the buffer as one atomic drop file; returns its path."""
        if not self._buf:
            return None
        name = f"events_{int(time.time() * 1000):015d}_{self._file_no:06d}.jsonl"
        self._file_no += 1
        tmp = os.path.join(self._tmp_dir, name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(self._buf) + "\n")
        final = os.path.join(self.drop_dir, name)
        os.rename(tmp, final)  # atomic within one filesystem
        self._buf = []
        self._opened_at = time.monotonic()
        return final

    # -- NATS plumbing (needs nats-py; stubbed in this container) ----------

    def run(self) -> None:
        """Subscribe and bridge until interrupted. Requires ``nats-py``."""
        try:
            import asyncio

            import nats  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - no client lib here
            raise NotImplementedError(
                "NATS client library (nats-py) is not installed in this "
                "environment. Install it and re-run, or feed the drop "
                "directory from any other tailer — the pipeline only needs "
                "JSON-lines files in drop_dir."
            ) from e

        async def main() -> None:  # pragma: no cover - needs a broker
            nc = await nats.connect(self.servers)
            sub = await nc.subscribe(self.subject)
            try:
                async for msg in sub.messages:
                    self.append(msg.data.decode("utf-8"))
            finally:
                self.flush()
                await nc.drain()

        asyncio.run(main())  # pragma: no cover
