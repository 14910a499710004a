"""The service under test, run in its own process, and the clients that
drive it: JSON over HTTP for the control API and a minimal RFC 6455
WebSocket client.  The client is the benchmark's own; it shares no code
with the service, so a framing bug on either side shows as a failure.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import signal
import socket
import struct
import subprocess
import sys
import time
import http.client
from pathlib import Path

from procs import session_members

WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
OP_TEXT, OP_CLOSE = 0x1, 0x8


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Service:
    """serve.py (or the traced launcher around it) in a session of its
    own, with its logs, registry and checkpoints under ``work``."""

    def __init__(self, root: Path, work: Path, traced: bool, cpus: int, driver_memory: str):
        self.work = work
        self.log_root = work / "log"
        self.port = free_port()
        self.ws_port = free_port()
        script = Path(__file__).with_name("traced_serve.py") if traced else root / "serve.py"
        self.argv = [
            sys.executable, str(script),
            "--port", str(self.port), "--ws-port", str(self.ws_port),
            "--log-root", str(self.log_root),
            "--db", str(work / "es.db"),
            "--checkpoints", str(work / "ckpt"),
        ]
        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.log_root.mkdir(parents=True, exist_ok=True)
        self.env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_DRIVER_MEMORY=driver_memory,
            SPARK_LOCAL_DIRS=str(tmp),
            TMPDIR=str(tmp),
            # The JVMs' own temp files (artifact dirs, native libraries,
            # perf data) would otherwise land in /tmp.
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join([str(root), str(Path(__file__).parent)]),
            PYTHONUNBUFFERED="1",
        )
        self.proc: subprocess.Popen | None = None

    def start(self) -> None:
        out = open(self.work / "service.log", "wb")
        try:
            # cwd is the work dir: Spark drops spark-warehouse/ and derby
            # files into the current directory.
            self.proc = subprocess.Popen(
                self.argv, cwd=self.work, env=self.env, stdout=out,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                start_new_session=True,
            )
        finally:
            out.close()

    def wait_ready(self, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"service exited with {self.proc.returncode}; see {self.work}/service.log")
            try:
                status, _ = self.request("GET", "/event-stream/health/", timeout=5)
                if status == 200:
                    return
            except OSError:
                pass
            time.sleep(0.1)
        raise RuntimeError("service not ready in time")

    def request(self, method: str, path: str, body: dict | None = None, timeout: float = 30.0):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=timeout)
        try:
            payload = json.dumps(body) if body is not None else None
            headers = {"Content-Type": "application/json"} if body is not None else {}
            conn.request(method, path, body=payload, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            return resp.status, (json.loads(raw) if raw.strip().startswith(b"{") else None)
        finally:
            conn.close()

    def create_stream(self, routing_key: str, timeout: float = 30.0) -> tuple[int, str]:
        status, data = self.request("POST", "/event-stream/", {"routing_key": routing_key}, timeout)
        if status != 201:
            raise RuntimeError(f"POST /event-stream/ returned {status}")
        return data["id"], data["location"].rstrip("/").rsplit("/", 1)[-1]

    def delete_stream(self, es_id: int, timeout: float = 30.0) -> None:
        status, _ = self.request("DELETE", f"/event-stream/{es_id}", timeout=timeout)
        if status != 204:
            raise RuntimeError(f"DELETE /event-stream/{es_id} returned {status}")

    def threads(self) -> int:
        """OS threads of the service's Python process (not the JVM)."""
        with open(f"/proc/{self.proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("Threads:"):
                    return int(line.split()[1])
        raise RuntimeError("no thread count")

    def stop(self) -> None:
        """Kill every process of the service's session (service, JVM, the
        Python workers, which make process groups of their own) and wait
        until each has ended.  A hung disconnect inside the service cannot
        stall this."""
        if self.proc is None:
            return
        sid = self.proc.pid
        deadline = time.monotonic() + 30
        while True:
            members = session_members(sid)
            if not members or time.monotonic() > deadline:
                break
            for pid in members:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if self.proc.poll() is None:
                self.proc.wait()
            time.sleep(0.05)
        self.proc = None


class WsConn:
    """Blocking WebSocket client; ``read`` returns every frame completed by
    one socket read, stamped with the time of that read."""

    def __init__(self, port: int, resource: str, timeout: float):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        key = base64.b64encode(os.urandom(16))
        self.sock.sendall(
            b"GET " + resource.encode("ascii") + b" HTTP/1.1\r\n"
            b"Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            b"Sec-WebSocket-Key: " + key + b"\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("closed during handshake")
            buf += chunk
        head, _, rest = buf.partition(b"\r\n\r\n")
        lines = head.split(b"\r\n")
        if b" 101 " not in lines[0] + b" ":
            raise ConnectionError(f"handshake rejected: {lines[0]!r}")
        accept = base64.b64encode(hashlib.sha1(key + WS_GUID).digest())
        headers = {k.strip().lower(): v.strip() for k, _, v in (l.partition(b":") for l in lines[1:])}
        if headers.get(b"sec-websocket-accept") != accept:
            raise ConnectionError("bad Sec-WebSocket-Accept")
        self.buf = bytearray(rest)
        self.closed_by_server: int | None = None

    def fileno(self) -> int:
        return self.sock.fileno()

    def read(self) -> tuple[float, list[bytes]]:
        """One socket read: (time of the read, text payloads it completed).
        Sets ``closed_by_server`` on a close frame; raises ConnectionError
        on EOF."""
        chunk = self.sock.recv(1 << 20)
        now = time.perf_counter()
        if not chunk:
            raise ConnectionError("socket closed")
        self.buf += chunk
        return now, self._parse()

    def _parse(self) -> list[bytes]:
        buf, pos, out = self.buf, 0, []
        n = len(buf)
        while n - pos >= 2:
            b0, b1 = buf[pos], buf[pos + 1]
            if b1 & 0x80:
                raise ConnectionError("server sent a masked frame")
            size, head = b1 & 0x7F, 2
            if size == 126:
                if n - pos < 4:
                    break
                size, head = struct.unpack_from("!H", buf, pos + 2)[0], 4
            elif size == 127:
                if n - pos < 10:
                    break
                size, head = struct.unpack_from("!Q", buf, pos + 2)[0], 10
            if n - pos < head + size:
                break
            payload = bytes(buf[pos + head : pos + head + size])
            pos += head + size
            opcode = b0 & 0x0F
            if opcode == OP_TEXT:
                out.append(payload)
            elif opcode == OP_CLOSE:
                self.closed_by_server = (
                    struct.unpack("!H", payload[:2])[0] if len(payload) >= 2 else 1005
                )
            else:
                raise ConnectionError(f"unexpected opcode {opcode}")
        del buf[:pos]
        return out

    def send_close(self, code: int = 1000) -> None:
        payload = struct.pack("!H", code)
        mask = os.urandom(4)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        try:
            self.sock.sendall(bytes([0x80 | OP_CLOSE, 0x80 | len(payload)]) + mask + masked)
        except OSError:
            pass

    def close(self) -> None:
        self.sock.close()
