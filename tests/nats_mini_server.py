"""In-process NATS/JetStream protocol double for transport tests.

TEST DOUBLE, not a broker: just enough of the PUBLIC NATS wire protocol
(docs.nats.io/reference/reference-protocols/nats-protocol) and the
JetStream JSON API to exercise sources/nats_wire.py and the ``wire``
transport of the landing (sources/nats_source.land) over real TCP
sockets.

Implements, faithfully to a real nats-server's observable behavior:

- INFO on accept; CONNECT / PING→PONG / SUB / UNSUB / PUB / MSG framing
  (length-framed payloads, arbitrary bytes).
- ``$JS.API.STREAM.INFO.<stream>`` → ``{state: {first_seq, last_seq,
  messages}}``.
- ``$JS.API.STREAM.MSG.GET.<stream>`` ``{"seq": n}`` → base64 message, or
  the 404/10037 "no message found" error object for purged/future
  sequences (the shape nats_wire.SeqOutOfRange parses).
- ``$JS.API.DIRECT.GET.<stream>`` ``{"seq": n, "batch": k}`` → up to
  ``k`` messages as HMSG frames (``NATS/1.0`` status line +
  ``Nats-Stream``/``Nats-Subject``/``Nats-Sequence`` headers + RAW
  payload), starting at the first sequence >= n (retention holes are
  skipped, exactly like a real server), terminated by a ``NATS/1.0 204
  EOB`` status frame with ``Nats-Num-Pending``; ``NATS/1.0 404 No
  Messages`` when nothing >= n exists. The whole batch is written as
  ONE socket send, and the INFO line advertises ``headers: true``.
- Core publishes to the stream's subject append to the stream (what a
  Zeebe exporter's PUB would do); ``purge_up_to`` emulates a retention
  policy advancing ``first_seq`` mid-run.

Threading: one acceptor + one thread per connection; the store is a
lock-guarded dict. Connections from any process on localhost.
"""

from __future__ import annotations

import base64
import json
import socket
import threading

_CRLF = b"\r\n"


def _subject_matches(pattern: str, subject: str) -> bool:
    """NATS subject matching (public semantics): dot-separated tokens,
    ``*`` matches exactly one token, ``>`` matches one-or-more trailing
    tokens. Needed by the pipelined ranged reads, which SUB one
    ``_INBOX.<base>.*`` filter for a whole request window."""
    pat = pattern.split(".")
    sub = subject.split(".")
    for i, tok in enumerate(pat):
        if tok == ">":
            return len(sub) > i
        if i >= len(sub):
            return False
        if tok != "*" and tok != sub[i]:
            return False
    return len(sub) == len(pat)


class MiniJetStream:
    """The message store: seq -> (subject, payload bytes)."""

    def __init__(self, stream: str, subject: str) -> None:
        self.stream = stream
        self.subject = subject
        self._lock = threading.Lock()
        self._msgs: dict[int, tuple[str, bytes]] = {}
        self._first = 1
        self._last = 0

    def publish(self, subject: str, payload: bytes) -> int:
        with self._lock:
            self._last += 1
            self._msgs[self._last] = (subject, payload)
            return self._last

    def purge_seq(self, seq: int) -> None:
        """Drop ONE sequence (a mid-range hole, as after per-message
        deletion / subject purge) without advancing first_seq."""
        with self._lock:
            self._msgs.pop(seq, None)

    def purge_up_to(self, seq: int) -> None:
        """Drop sequences <= seq (retention limit advancing first_seq)."""
        with self._lock:
            for s in [s for s in self._msgs if s <= seq]:
                del self._msgs[s]
            self._first = max(self._first, seq + 1)

    def info(self) -> dict:
        with self._lock:
            return {
                "config": {"name": self.stream, "subjects": [self.subject]},
                "state": {
                    "messages": len(self._msgs),
                    "first_seq": self._first,
                    "last_seq": self._last,
                },
            }

    def get(self, seq: int) -> tuple[str, bytes] | None:
        with self._lock:
            return self._msgs.get(seq)

    def get_from(
        self, seq: int, batch: int
    ) -> tuple[list[tuple[int, str, bytes]], int]:
        """Up to ``batch`` messages with sequence >= ``seq`` in order
        (holes skipped, like a real server's direct get), plus the
        number still pending after the last returned one."""
        out: list[tuple[int, str, bytes]] = []
        with self._lock:
            s = max(seq, self._first)
            while s <= self._last and len(out) < batch:
                got = self._msgs.get(s)
                if got is not None:
                    out.append((s, got[0], got[1]))
                s += 1
            # upper-bound pending (exact when no holes remain past s):
            # an O(1) span count, NOT a dict scan — the scan was O(n)
            # per batch request and capped the double at ~3k msg/s on
            # million-message streams. Clients treat the header as
            # advisory (ours ignores it).
            pending = max(0, self._last - s + 1) if out else 0
        return out, pending


class MiniNatsServer:
    """``with MiniNatsServer(stream="zeebe", subject="zeebe-export") as s:``
    — listens on an ephemeral localhost port (``s.port``)."""

    def __init__(
        self,
        stream: str = "zeebe",
        subject: str = "zeebe-export",
        reorder_window: int = 0,
        duplicate_replies: bool = False,
        allow_direct: bool = True,
        jetstream_down: bool = False,
        ignore_batch: bool = False,
    ) -> None:
        # chaos knobs for the pipelined-read tests (a clustered JetStream
        # API may answer out of order / redeliver): MSG.GET replies are
        # held and flushed in REVERSED batches of `reorder_window`, and/or
        # each sent twice. Deterministic by construction — no randomness.
        self.reorder_window = reorder_window
        self.duplicate_replies = duplicate_replies
        # allow_direct=False emulates a stream without direct get: the
        # API subject has no responders, which surfaces to a requester
        # (with no_responders negotiated) as a 503-status message — the
        # signal the wire transport's `auto` mode falls back on.
        self.allow_direct = allow_direct
        # jetstream_down=True emulates a core-NATS server whose JetStream
        # subsystem is disabled: NO subject under $JS.API.> has a
        # responder, so a requester that negotiated no_responders gets an
        # HMSG 503 status back (anyone else gets silence and times out)
        self.jetstream_down = jetstream_down
        # ignore_batch=True emulates nats-server 2.2-2.10: direct get is
        # supported but the ADR-31 ``batch`` field is not — every request
        # answers exactly ONE message and NO 204 EOB terminator, so a
        # batched-read client that streams messages before seeing the
        # terminator hangs mid-range (the failure mode the transport's
        # window buffering turns back into a clean pre-yield fallback)
        self.ignore_batch = ignore_batch
        self.js = MiniJetStream(stream, subject)
        self._listener = socket.create_server(("127.0.0.1", 0))
        self.port = self._listener.getsockname()[1]
        self.url = f"nats://127.0.0.1:{self.port}"
        self._stop = threading.Event()
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()

    # -- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        self._stop.set()
        try:
            self._listener.close()
        except OSError:
            pass

    def __enter__(self) -> "MiniNatsServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- connection handling -------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._listener.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn: socket.socket) -> None:
        try:
            self._serve_inner(conn)
        except (OSError, ValueError):
            pass  # client went away mid-frame; a real server logs and moves on
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _serve_inner(self, conn: socket.socket) -> None:
        conn.sendall(
            b"INFO "
            + json.dumps(
                {
                    "server_id": "mini-test-double",
                    "version": "0.0.0-test",
                    "proto": 1,
                    "headers": True,
                    "max_payload": 1 << 20,
                }
            ).encode()
            + _CRLF
        )
        buf = b""
        subs: dict[str, str] = {}  # sid -> subject filter (supports * and >)
        conn_opts: dict = {}  # parsed CONNECT options (no_responders, ...)
        held: list[tuple[str, bytes]] = []  # reorder_window reply buffer
        lock = threading.Lock()  # serialize writes from this handler

        def send(data: bytes) -> None:
            with lock:
                conn.sendall(data)

        def read_line() -> bytes | None:
            nonlocal buf
            while _CRLF not in buf:
                chunk = conn.recv(65536)
                if not chunk:
                    return None
                buf += chunk
            line, buf = buf.split(_CRLF, 1)
            return line

        def read_exact(n: int) -> bytes:
            nonlocal buf
            while len(buf) < n:
                chunk = conn.recv(65536)
                if not chunk:
                    raise OSError("eof mid-payload")
                buf += chunk
            out, buf = buf[:n], buf[n:]
            return out

        def deliver(subject: str, payload: bytes) -> None:
            for sid, sub_subject in list(subs.items()):
                if _subject_matches(sub_subject, subject):
                    send(
                        f"MSG {subject} {sid} {len(payload)}".encode()
                        + _CRLF
                        + payload
                        + _CRLF
                    )

        def deliver_direct_batch(
            reply: str, api_subject: str, req_payload: bytes
        ) -> None:
            """Serve one DIRECT.GET request: write the whole batch of
            HMSG frames (+ the EOB/404 status frame) as ONE socket send
            per matching subscription — the server-side shape that makes
            ranged reads O(1) request parses and O(1) syscalls per
            window instead of per message."""
            frames = self._direct_get_frames(api_subject, req_payload)
            for sid, sub_subject in list(subs.items()):
                if _subject_matches(sub_subject, reply):
                    out = []
                    for hdr, payload in frames:
                        total = len(hdr) + len(payload)
                        out.append(
                            f"HMSG {reply} {sid} {len(hdr)} {total}".encode()
                            + _CRLF
                            + hdr
                            + payload
                            + _CRLF
                        )
                    send(b"".join(out))

        while not self._stop.is_set():
            line = read_line()
            if line is None:
                return
            if not line:
                continue
            op = line.split(b" ", 1)[0].upper()
            if op == b"CONNECT":
                try:
                    conn_opts.update(json.loads(line[8:] or b"{}"))
                except ValueError:
                    pass  # a real server tolerates odd CONNECT bodies
                continue
            if op == b"PING":
                send(b"PONG" + _CRLF)
                continue
            if op == b"PONG":
                continue
            if op == b"SUB":
                _, subject, sid = line.decode().split(" ")
                subs[sid] = subject
                continue
            if op == b"UNSUB":
                sid = line.decode().split(" ")[1]
                subs.pop(sid, None)
                continue
            if op == b"PUB":
                parts = line.decode().split(" ")
                subject = parts[1]
                reply = parts[2] if len(parts) == 4 else None
                nbytes = int(parts[-1])
                payload = read_exact(nbytes)
                if read_exact(2) != _CRLF:
                    raise ValueError("bad PUB trailer")
                if self.jetstream_down and subject.startswith("$JS.API."):
                    # no responder on any JS API subject: a client that
                    # negotiated no_responders gets the HMSG 503 status
                    # (a real server's signal); anyone else gets silence
                    if reply and conn_opts.get("no_responders"):
                        hdr = b"NATS/1.0 503 No Responders Available\r\n\r\n"
                        for rsid, sub_subject in list(subs.items()):
                            if _subject_matches(sub_subject, reply):
                                send(
                                    f"HMSG {reply} {rsid} {len(hdr)} "
                                    f"{len(hdr)}".encode()
                                    + _CRLF
                                    + hdr
                                    + _CRLF
                                )
                    continue
                if subject.startswith("$JS.API.DIRECT.GET."):
                    # faithful no-responders semantics: a stream without
                    # allow_direct has NO subscriber on this subject, so
                    # only a client that negotiated no_responders gets
                    # the 503 status — anyone else gets silence (and
                    # times out), exactly like a real server
                    if reply and (
                        self.allow_direct or conn_opts.get("no_responders")
                    ):
                        deliver_direct_batch(reply, subject, payload)
                    continue
                if subject.startswith("$JS.API."):
                    if reply:
                        resp = self._js_api(subject, payload)
                        is_get = subject.startswith("$JS.API.STREAM.MSG.GET.")
                        if is_get and self.reorder_window > 1:
                            held.append((reply, resp))
                            if len(held) >= self.reorder_window:
                                for r, p in reversed(held):
                                    deliver(r, p)
                                    if self.duplicate_replies:
                                        deliver(r, p)
                                held.clear()
                        else:
                            deliver(reply, resp)
                            if is_get and self.duplicate_replies:
                                deliver(reply, resp)
                elif subject == self.js.subject:
                    self.js.publish(subject, payload)
                    if reply:
                        deliver(reply, b"")  # publish-with-reply ack (unused)
                else:
                    deliver(subject, payload)
                continue
            send(b"-ERR 'Unknown Protocol Operation'" + _CRLF)

    # -- JetStream API double ---------------------------------------------------

    def _direct_get_frames(
        self, subject: str, payload: bytes
    ) -> list[tuple[bytes, bytes]]:
        """(header-block, raw-payload) frames answering one batched
        direct-get request — message frames then the 204 EOB marker, or
        a single 404 status when nothing >= seq exists (the observable
        shapes of a real server's ADR-31 batched direct get)."""
        if not self.allow_direct:
            return [(b"NATS/1.0 503 No Responders Available\r\n\r\n", b"")]
        stream_name = subject[len("$JS.API.DIRECT.GET.") :]
        if stream_name != self.js.stream:
            return [(b"NATS/1.0 404 No Messages\r\n\r\n", b"")]
        req = json.loads(payload or b"{}")
        seq = int(req.get("seq", 1))
        batch = max(1, int(req.get("batch", 1)))
        if self.ignore_batch:
            batch = 1  # pre-2.11 server: batch field not understood
        msgs, pending = self.js.get_from(seq, batch)
        if not msgs:
            return [(b"NATS/1.0 404 No Messages\r\n\r\n", b"")]
        frames = [
            (
                (
                    f"NATS/1.0\r\nNats-Stream: {self.js.stream}"
                    f"\r\nNats-Subject: {msg_subject}"
                    f"\r\nNats-Sequence: {s}\r\n\r\n"
                ).encode(),
                data,
            )
            for s, msg_subject, data in msgs
        ]
        if not self.ignore_batch:
            # pre-2.11 servers answer a plain (non-batched) direct get:
            # one message, no EOB terminator frame
            frames.append(
                (
                    (
                        f"NATS/1.0 204 EOB\r\nNats-Num-Pending: {pending}"
                        f"\r\nNats-Last-Sequence: {msgs[-1][0]}\r\n\r\n"
                    ).encode(),
                    b"",
                )
            )
        return frames

    def _js_api(self, subject: str, payload: bytes) -> bytes:
        api = subject[len("$JS.API.") :]
        if api == f"STREAM.INFO.{self.js.stream}":
            return json.dumps(
                {"type": "io.nats.jetstream.api.v1.stream_info_response"}
                | self.js.info()
            ).encode()
        if api == f"STREAM.MSG.GET.{self.js.stream}":
            seq = int(json.loads(payload or b"{}")["seq"])
            got = self.js.get(seq)
            if got is None:
                # exact error shape a real server answers for a purged or
                # not-yet-written sequence
                return json.dumps(
                    {
                        "type": "io.nats.jetstream.api.v1.stream_msg_get_response",
                        "error": {
                            "code": 404,
                            "err_code": 10037,
                            "description": "no message found",
                        },
                    }
                ).encode()
            msg_subject, data = got
            return json.dumps(
                {
                    "type": "io.nats.jetstream.api.v1.stream_msg_get_response",
                    "message": {
                        "subject": msg_subject,
                        "seq": seq,
                        "data": base64.b64encode(data).decode(),
                    },
                }
            ).encode()
        return json.dumps(
            {"error": {"code": 404, "description": f"unknown api {api}"}}
        ).encode()
