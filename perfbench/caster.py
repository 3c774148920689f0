"""Loopback NTRIP caster for the ``ingest_live`` workload.

One thread owns the listening socket and every client connection
(``selectors``, non-blocking). Like a real caster it copies each
mountpoint's stream to every connection open on that mountpoint at
send time, and it answers Ntrip/2.0 requests either with chunked
transfer encoding or with a plain ICY body, per mountpoint.

The generator runs open-loop: every frame blob is due at its scheduled
send time; the thread sends all due blobs, then sleeps until the next
one. Accounting (frames sent, connections opened per mountpoint, how
late the generator ran) is kept for the gate and the per-layer report.
"""

from __future__ import annotations

import selectors
import socket
import threading
import time


class _Conn:
    __slots__ = ("sock", "inbuf", "out", "mountpoint", "chunked")

    def __init__(self, sock):
        self.sock = sock
        self.inbuf = b""
        self.out = bytearray()
        self.mountpoint = None
        self.chunked = False


class LoopbackCaster:
    """``mountpoints``: list of dicts with ``name``, ``chunked``,
    ``blobs`` (bytes per frame) and ``offsets`` (due time per frame, in
    seconds after the start passed to :meth:`start_schedule`)."""

    def __init__(self, mountpoints: list[dict]):
        self.mps = {m["name"]: m for m in mountpoints}
        self.lsock = socket.create_server(("127.0.0.1", 0))
        self.lsock.setblocking(False)
        self.port = self.lsock.getsockname()[1]
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.lsock, selectors.EVENT_READ)
        self.conns: dict[int, _Conn] = {}
        self.connections_opened = {name: 0 for name in self.mps}
        self.frames_sent = {name: 0 for name in self.mps}
        self.frames_undelivered = {name: 0 for name in self.mps}  # due while no client was open
        self.max_late_s = 0.0
        self._due: list[tuple[float, str, int]] = []
        self._next = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="loopback-caster", daemon=True)

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        self._thread.start()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        for c in list(self.conns.values()):
            self._drop(c)
        self.sel.close()
        self.lsock.close()

    def casters_option(self) -> list[dict]:
        return [{"url": f"http://127.0.0.1:{self.port}", "mountpoint": name,
                 "user": "bench", "password": "bench"} for name in self.mps]

    def open_connections(self) -> dict[str, int]:
        with self._lock:
            out = {name: 0 for name in self.mps}
            for c in self.conns.values():
                if c.mountpoint:
                    out[c.mountpoint] += 1
            return out

    def start_schedule(self, t0: float) -> None:
        """Arm the schedule: frame k of a mountpoint is due at
        t0 + offsets[k]."""
        due = []
        for name, m in self.mps.items():
            for k, off in enumerate(m["offsets"]):
                due.append((t0 + float(off), name, k))
        due.sort()
        with self._lock:
            self._due = due
            self._next = 0

    def schedule_done(self) -> bool:
        with self._lock:
            return bool(self._due) and self._next >= len(self._due)

    # -- event loop --------------------------------------------------------

    def _run(self) -> None:
        while not self._stop.is_set():
            timeout = 0.05
            with self._lock:
                if self._next < len(self._due):
                    timeout = min(timeout, max(0.0, self._due[self._next][0] - time.monotonic()))
            for key, mask in self.sel.select(timeout):
                if key.fileobj is self.lsock:
                    self._accept()
                    continue
                c = key.data
                if mask & selectors.EVENT_READ:
                    self._read(c)
                if mask & selectors.EVENT_WRITE and c.sock.fileno() in self.conns:
                    self._flush(c)
            self._send_due()

    def _accept(self) -> None:
        try:
            sock, _ = self.lsock.accept()
        except BlockingIOError:
            return
        sock.setblocking(False)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        c = _Conn(sock)
        with self._lock:
            self.conns[sock.fileno()] = c
        self.sel.register(sock, selectors.EVENT_READ, c)

    def _read(self, c: _Conn) -> None:
        try:
            data = c.sock.recv(4096)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if not data:
            self._drop(c)
            return
        if c.mountpoint is not None:
            return  # clients send nothing after the request
        c.inbuf += data
        if b"\r\n\r\n" not in c.inbuf:
            return
        line = c.inbuf.split(b"\r\n", 1)[0].decode("latin-1").split()
        name = line[1].lstrip("/") if len(line) >= 2 else ""
        m = self.mps.get(name)
        if m is None:
            c.out += b"HTTP/1.1 404 Not Found\r\nConnection: close\r\n\r\n"
            self._flush(c)
            self._drop(c)
            return
        with self._lock:
            c.mountpoint = name
            c.chunked = m["chunked"]
            self.connections_opened[name] += 1
        if c.chunked:
            c.out += (b"HTTP/1.1 200 OK\r\nNtrip-Version: Ntrip/2.0\r\n"
                      b"Content-Type: gnss/data\r\nTransfer-Encoding: chunked\r\n\r\n")
        else:
            c.out += b"ICY 200 OK\r\n\r\n"
        self._flush(c)

    def _send_due(self) -> None:
        now = time.monotonic()
        batches: dict[str, list[bytes]] = {}
        with self._lock:
            while self._next < len(self._due) and self._due[self._next][0] <= now:
                t, name, k = self._due[self._next]
                self._next += 1
                self.max_late_s = max(self.max_late_s, now - t)
                batches.setdefault(name, []).append(self.mps[name]["blobs"][k])
            targets = {}
            for name, blobs in batches.items():
                conns = [c for c in self.conns.values() if c.mountpoint == name]
                self.frames_sent[name] += len(blobs)
                if not conns:
                    self.frames_undelivered[name] += len(blobs)
                targets[name] = conns
        for name, blobs in batches.items():
            body = b"".join(blobs)
            chunk = b"%x\r\n" % len(body) + body + b"\r\n"
            for c in targets[name]:
                c.out += chunk if c.chunked else body
                self._flush(c)

    def _flush(self, c: _Conn) -> None:
        if not c.out:
            return
        try:
            n = c.sock.send(c.out)
        except (BlockingIOError, InterruptedError):
            n = 0
        except OSError:
            self._drop(c)
            return
        del c.out[:n]
        want = selectors.EVENT_READ | (selectors.EVENT_WRITE if c.out else 0)
        try:
            self.sel.modify(c.sock, want, c)
        except (KeyError, ValueError):
            pass

    def _drop(self, c: _Conn) -> None:
        with self._lock:
            self.conns.pop(c.sock.fileno(), None)
        try:
            self.sel.unregister(c.sock)
        except (KeyError, ValueError):
            pass
        c.sock.close()
