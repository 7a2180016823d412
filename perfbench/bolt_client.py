"""Minimal Bolt 5 client: handshake, HELLO/LOGON, RUN + PULL-all.

Only what a closed-loop reader needs. Every query pulls every record (a
client reads the whole result; nothing is left for the engine to prune).
Byte counts and the RUN/PULL split are kept per call for the traced run.
"""

from __future__ import annotations

import socket
import struct
import time

from memgraph_spark.server import packstream as ps

MAGIC = b"\x60\x60\xb0\x17"
HELLO, LOGON, GOODBYE, RESET, RUN, PULL = 0x01, 0x6A, 0x02, 0x0F, 0x10, 0x3F
SUCCESS, RECORD, FAILURE = 0x70, 0x71, 0x7F


class BoltError(RuntimeError):
    pass


class BoltClient:
    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.bytes_out = 0
        self.bytes_in = 0
        # the RUN message's `extra` map (a traced run tags ops with it)
        self.run_extra: dict = {}
        # version 5.4 down to 5.0, then 4.4
        self._send_raw(MAGIC + bytes([0, 4, 4, 5]) + bytes([0, 0, 4, 4])
                       + bytes(8))
        ver = self._recv_exact(4)
        if ver[3] != 5:
            raise BoltError(f"server chose Bolt {ver[3]}.{ver[2]}")
        self._call(HELLO, {"user_agent": "perfbench/1"})
        if ver[2] >= 1:
            self._call(LOGON, {"scheme": "none"})

    def _send_raw(self, data: bytes) -> None:
        self.sock.sendall(data)
        self.bytes_out += len(data)

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise BoltError("server closed the connection")
            buf += chunk
        self.bytes_in += n
        return bytes(buf)

    def _send(self, tag: int, *fields) -> None:
        data = ps.pack(ps.Structure(tag, list(fields)))
        out = bytearray()
        for i in range(0, len(data), 0xFFFF):
            chunk = data[i:i + 0xFFFF]
            out += struct.pack(">H", len(chunk)) + chunk
        self._send_raw(bytes(out) + b"\x00\x00")

    def _recv(self) -> ps.Structure:
        payload = bytearray()
        while True:
            size = struct.unpack(">H", self._recv_exact(2))[0]
            if size == 0:
                if payload:
                    return ps.unpack(bytes(payload))
                continue
            payload += self._recv_exact(size)

    def _call(self, tag: int, *fields) -> dict:
        self._send(tag, *fields)
        msg = self._recv()
        if msg.tag != SUCCESS:
            raise BoltError(str(msg.fields))
        return msg.fields[0] if msg.fields else {}

    def run(self, query: str, params: dict) -> tuple[list[str], list, dict]:
        """RUN then PULL every record. Returns (fields, rows, timing) where
        timing has run_ms (RUN until SUCCESS), pull_ms (PULL until the last
        record's SUCCESS) and bytes (both directions)."""
        b0 = self.bytes_in + self.bytes_out
        t0 = time.perf_counter()
        self._send(RUN, query, params, self.run_extra)
        msg = self._recv()
        t1 = time.perf_counter()
        if msg.tag != SUCCESS:
            self._reset()
            raise BoltError(str(msg.fields))
        fields = msg.fields[0].get("fields", [])
        self._send(PULL, {"n": -1})
        rows = []
        while True:
            msg = self._recv()
            if msg.tag == RECORD:
                rows.append(msg.fields[0])
            elif msg.tag == SUCCESS:
                break
            else:
                self._reset()
                raise BoltError(str(msg.fields))
        t2 = time.perf_counter()
        return fields, rows, {
            "run_ms": (t1 - t0) * 1e3, "pull_ms": (t2 - t1) * 1e3,
            "bytes": self.bytes_in + self.bytes_out - b0}

    def _reset(self) -> None:
        """Leave the FAILED state so the next op on this connection runs."""
        self._send(RESET)
        while self._recv().tag != SUCCESS:
            pass

    def close(self) -> None:
        try:
            self._send(GOODBYE)
        except OSError:
            pass
        self.sock.close()
