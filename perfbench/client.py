"""A single-threaded MCP stdio client for one server subprocess.

The client is a closed loop: it writes one JSON-RPC line, blocks until
the answer line arrives, and only then sends the next request, the way
an MCP host drives this server. The server's stderr goes to a file, so a
chatty Spark log can never fill a pipe and stall the serve loop.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time


class ServerError(RuntimeError):
    """The server died, answered a protocol error, or timed out."""


class McpClient:
    def __init__(self, argv: list[str], *, cwd: str, env: dict, stderr_path: str):
        self.t_spawn = time.perf_counter()
        self._stderr = open(stderr_path, "ab")
        self.proc = subprocess.Popen(
            argv,
            cwd=cwd,
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._stderr,
            # own session: close() can reach the JVM and the Python
            # workers even when the server itself is wedged
            start_new_session=True,
        )
        self._next_id = 0

    # -- protocol ---------------------------------------------------------

    def request(self, method: str, params: dict | None = None) -> dict:
        self._next_id += 1
        msg = {"jsonrpc": "2.0", "id": self._next_id, "method": method}
        if params is not None:
            msg["params"] = params
        self.proc.stdin.write((json.dumps(msg) + "\n").encode())
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise ServerError(
                f"server exited (code {self.proc.poll()}) during {method}"
            )
        resp = json.loads(line)
        if resp.get("id") != self._next_id:
            raise ServerError(f"response id {resp.get('id')} != {self._next_id}")
        return resp

    def initialize(self) -> None:
        resp = self.request(
            "initialize",
            {
                "protocolVersion": "2025-06-18",
                "capabilities": {},
                "clientInfo": {"name": "perfbench", "version": "1"},
            },
        )
        if "result" not in resp:
            raise ServerError(f"initialize failed: {resp}")
        self.proc.stdin.write(
            b'{"jsonrpc": "2.0", "method": "notifications/initialized"}\n'
        )
        self.proc.stdin.flush()

    def call(self, tool: str, args: dict) -> tuple[object, bool, float]:
        """One tools/call. Returns (decoded payload or error text,
        is_error, seconds). A JSON-RPC error is an error result, not an
        exception: the benchmark counts it as a failed request."""
        t0 = time.perf_counter()
        resp = self.request("tools/call", {"name": tool, "arguments": args})
        dt = time.perf_counter() - t0
        if "error" in resp:
            return resp["error"].get("message"), True, dt
        res = resp["result"]
        text = res["content"][0]["text"]
        if res.get("isError"):
            return text, True, dt
        return json.loads(text), False, dt

    # -- process accounting ------------------------------------------------

    def rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the server's Python driver plus
        its JVM child, summed."""
        kb = sum(_vm_hwm_kb(pid) for pid in [self.proc.pid, *_children(self.proc.pid)])
        return kb / 1024.0

    def close(self, timeout: float = 60.0) -> None:
        """EOF on stdin ends the serve loop; the JVM exits with its
        Python parent. Anything left in the server's session is killed
        and waited for."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
        except BrokenPipeError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        stop_session(self.proc.pid)
        self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self._stderr.close()


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): a JVM or Spark Python worker that outlives
    its parent becomes this process's child, so stop_session() can reap
    it instead of leaving a zombie behind."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_session(sid: int, timeout: float = 30.0) -> None:
    """SIGKILL every process in session ``sid`` and wait until none is
    running, reaping those that are this process's children.

    A session, not a process group: Spark's Python daemon moves itself
    and its workers into a group of their own (``setpgid(0, 0)``), but
    stays in the session of the server that started the JVM."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        busy = False
        for pid, ppid, state in _session_procs(sid):
            if state == "Z":
                if ppid == me:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                    busy = True
                continue
            busy = True
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if not busy or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def _session_procs(sid: int) -> list[tuple[int, int, str]]:
    """(pid, ppid, state) of every process in session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "(comm)": state ppid pgrp session ...
        if int(fields[3]) == sid:
            out.append((int(entry), int(fields[1]), fields[0]))
    return out
