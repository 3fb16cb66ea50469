"""RESP2 — the Redis serialization protocol (public spec:
https://redis.io/docs/reference/protocol-spec/), dependency-free.

Five frame types, all CRLF-terminated:

* simple string  ``+OK\\r\\n``
* error          ``-ERR msg\\r\\n``
* integer        ``:42\\r\\n``
* bulk string    ``$5\\r\\nhello\\r\\n`` (``$-1\\r\\n`` = null)
* array          ``*2\\r\\n<frame><frame>`` (``*-1\\r\\n`` = null)

Commands encode as arrays of bulk strings.  :class:`RespConnection`
wraps a TCP socket with a buffered reader; pub/sub *push* frames arrive
as ordinary arrays, read with the same :meth:`RespConnection.read_reply`.
:class:`Subscriber` is the one pub/sub consumer: the subscribe
handshake and the push-frame drain that ``poll_pubsub``, ``serve_c2``,
the firehose bridge and the ``redis_pubsub`` DataSource all share.
"""

from __future__ import annotations

import select
import socket
import time
from typing import Iterator

CRLF = b"\r\n"


def encode_command(*args: str | bytes | int) -> bytes:
    """Encode a command as a RESP array of bulk strings."""
    out = [b"*%d" % len(args), CRLF]
    for a in args:
        if isinstance(a, int):
            a = str(a).encode()
        elif isinstance(a, str):
            a = a.encode()
        out += [b"$%d" % len(a), CRLF, a, CRLF]
    return b"".join(out)


class RespError(Exception):
    """Server-side ``-ERR`` reply."""


class RespConnection:
    """Minimal blocking RESP2 client connection."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._buf = b""
        # Monotonic count of framing units (lines / bulk payloads) split off
        # the stream.  A caller whose read_reply() raised mid-frame compares
        # this against a pre-call snapshot: unchanged => every received byte
        # is still in _buf and the stream is frame-aligned; changed => the
        # frame header / early elements are gone and the connection can only
        # resync by reconnecting (Subscriber.drain's desync guard).
        self._consumed = 0

    # -- framing ---------------------------------------------------------

    def _read_line(self) -> bytes:
        while CRLF not in self._buf:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("connection closed mid-frame")
            self._buf += chunk
        line, self._buf = self._buf.split(CRLF, 1)
        self._consumed += 1
        return line

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n + 2:  # payload + trailing CRLF
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("connection closed mid-bulk")
            self._buf += chunk
        data, self._buf = self._buf[:n], self._buf[n + 2 :]
        self._consumed += 1
        return data

    def read_reply(self):
        """One frame -> python value (bytes / int / list / None)."""
        line = self._read_line()
        kind, rest = line[:1], line[1:]
        if kind == b"+":
            return rest
        if kind == b"-":
            raise RespError(rest.decode(errors="replace"))
        if kind == b":":
            return int(rest)
        if kind == b"$":
            n = int(rest)
            return None if n == -1 else self._read_exact(n)
        if kind == b"*":
            n = int(rest)
            return None if n == -1 else [self.read_reply() for _ in range(n)]
        raise RespError(f"unknown RESP type byte {kind!r}")

    # -- request/response ------------------------------------------------

    def command(self, *args: str | bytes | int):
        self.sock.sendall(encode_command(*args))
        return self.read_reply()

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class Subscriber:
    """One ``PSUBSCRIBE pattern`` (or, with ``psubscribe=False``,
    ``SUBSCRIBE channel``) held on a lazily opened connection.

    :meth:`drain` yields ``(channel, payload)`` as each push frame
    arrives.  Between frames it waits with ``select`` (so the window can
    close without a blocking read); once bytes are readable the frame is
    parsed to completion under a 1 s stall bound, and the connection's
    own timeout is restored when the drain ends.  A read that fails
    after the frame's header was consumed leaves the stream mid-frame:
    the connection is dropped and the next drain subscribes afresh on a
    frame-aligned socket (frames published in that gap are lost — the
    bus has no replay)."""

    def __init__(
        self, host: str, port: int, target: str, *, psubscribe: bool = True,
        timeout: float = 10.0,
    ) -> None:
        self.host, self.port, self.target = host, int(port), target
        self.timeout = timeout
        self._verb = "PSUBSCRIBE" if psubscribe else "SUBSCRIBE"
        # push frame: [b"pmessage", pattern, channel, payload] for
        # PSUBSCRIBE, [b"message", channel, payload] for SUBSCRIBE
        self._kind, self._size = (b"pmessage", 4) if psubscribe else (b"message", 3)
        self._conn: RespConnection | None = None

    def subscribe(self) -> RespConnection:
        """Open the connection and check the server's ack (idempotent)."""
        if self._conn is None:
            c = RespConnection(self.host, self.port, timeout=self.timeout)
            try:
                c.sock.sendall(encode_command(self._verb, self.target))
                ack = c.read_reply()
                if not (isinstance(ack, list) and ack and ack[0] == self._verb.lower().encode()):
                    raise ValueError(f"unexpected subscribe ack {ack!r}")
            except Exception:
                c.close()
                raise
            self._conn = c
        return self._conn

    def drain(self, max_messages: int, window: float) -> Iterator[tuple[str, bytes]]:
        """Yield push frames until ``max_messages`` arrived or ``window``
        seconds elapsed (counted from the first ``next``)."""
        c = self.subscribe()
        deadline = time.time() + window
        base_timeout = c.sock.gettimeout()
        c.sock.settimeout(1.0)  # per-frame stall bound inside read_reply
        n = 0
        try:
            while n < max_messages:
                wait = deadline - time.time()
                if wait <= 0:
                    break
                if not c._buf and not select.select([c.sock], [], [], wait)[0]:
                    break
                mark = c._consumed
                try:
                    frame = c.read_reply()
                except (TimeoutError, OSError):
                    if c._consumed != mark:
                        self.close()  # mid-frame: only a reconnect resyncs
                    break
                if isinstance(frame, list) and len(frame) == self._size and frame[0] == self._kind:
                    n += 1
                    yield frame[-2].decode(), frame[-1]
        finally:
            if self._conn is c:
                c.sock.settimeout(base_timeout)

    def close(self) -> None:
        if self._conn is not None:
            self._conn.close()
            self._conn = None

    def __getstate__(self):  # the socket never travels with a pickled owner
        return {**self.__dict__, "_conn": None}
