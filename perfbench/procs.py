"""No process a run starts outlives it.

``adopt_orphans`` makes the benchmark process the child subreaper of all
it starts (Linux ``prctl(PR_SET_CHILD_SUBREAPER)``): a process whose
parent dies, such as the JVM when the service is killed or a Python
worker when its daemon is, is re-parented here instead of to init, so the
benchmark can wait for it.  ``end_all`` kills whatever is still running
and reaps every child before the benchmark exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _table() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, parent pid, session id) of every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (fields[0], int(fields[1]), int(fields[3]))
    return table


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    return [pid for pid, (state, _, s) in _table().items() if s == sid and state != "Z"]


def descendants(pid: int) -> dict[int, str]:
    """pid -> state of every process below ``pid``, zombies included."""
    table = _table()
    children: dict[int, list[int]] = {}
    for p, (_, ppid, _) in table.items():
        children.setdefault(ppid, []).append(p)
    found, todo = {}, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        found[p] = table[p][0]
        todo.extend(children.get(p, []))
    return found


def _reap() -> None:
    """Collect every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_all(timeout: float = 30.0) -> None:
    """Kill every process this one started that still runs, and reap each
    (zombies included), so that none is left when it exits."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        for pid, state in left.items():
            if state != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap()
        if not left or time.monotonic() > deadline:
            return
        time.sleep(0.02)
