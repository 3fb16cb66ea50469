"""A loopback RESP2 server holding Redis lists, for the history bootstrap.

It answers ``LRANGE key start stop`` (inclusive stop, negative indices
from the end) and ``PING`` — what ``transports.redis_source`` sends —
and counts the reply bytes it writes.  It runs in this process on one
thread per connection and stops with :meth:`close`.
"""

from __future__ import annotations

import socket
import threading


def _bulk(b: bytes) -> bytes:
    return b"$%d\r\n%s\r\n" % (len(b), b)


class RespListServer:
    def __init__(self, lists: dict[str, list[bytes]]):
        self.lists = lists
        self.reply_bytes = 0
        self._lock = threading.Lock()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(16)
        self.port = self._sock.getsockname()[1]
        self._threads: list[threading.Thread] = []
        self._accept = threading.Thread(target=self._serve, daemon=True)
        self._accept.start()

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            t = threading.Thread(target=self._client, args=(conn,), daemon=True)
            self._threads.append(t)
            t.start()

    def _reply(self, args: list[bytes]) -> bytes:
        cmd = args[0].upper()
        if cmd == b"PING":
            return b"+PONG\r\n"
        if cmd == b"LRANGE":
            items = self.lists.get(args[1].decode(), [])
            n = len(items)
            start, stop = int(args[2]), int(args[3])
            start = max(0, start + n if start < 0 else start)
            stop = min(n - 1, stop + n if stop < 0 else stop)
            sel = items[start : stop + 1] if start <= stop else []
            return b"*%d\r\n" % len(sel) + b"".join(_bulk(x) for x in sel)
        return b"-ERR unknown command\r\n"

    def _client(self, conn: socket.socket) -> None:
        buf = b""
        with conn:
            while True:
                while b"\r\n" not in buf:
                    chunk = conn.recv(65536)
                    if not chunk:
                        return
                    buf += chunk
                # one command: *<n>\r\n then n bulk strings
                head, buf = buf.split(b"\r\n", 1)
                args = []
                for _ in range(int(head[1:])):
                    while b"\r\n" not in buf:
                        buf += conn.recv(65536)
                    line, buf = buf.split(b"\r\n", 1)
                    size = int(line[1:])
                    while len(buf) < size + 2:
                        buf += conn.recv(65536)
                    args.append(buf[:size])
                    buf = buf[size + 2 :]
                out = self._reply(args)
                with self._lock:
                    self.reply_bytes += len(out)
                conn.sendall(out)

    def close(self) -> None:
        try:
            self._sock.shutdown(socket.SHUT_RDWR)  # wakes the blocked accept()
        except OSError:
            pass
        self._sock.close()
        self._accept.join(timeout=10)
        for t in self._threads:
            t.join(timeout=10)
