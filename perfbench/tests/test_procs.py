"""No process a run starts outlives it: an orphaned grandchild in a
session of its own is adopted, killed and reaped before the run exits."""

import os
import subprocess
import sys
import time
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent

CHILD = """
import atexit, subprocess
import procs
procs.adopt_orphans()
atexit.register(procs.end_all)
# The shell exits at once, orphaning a sleep that left its session.
out = subprocess.run(["sh", "-c", "setsid sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
print(out.stdout.strip(), flush=True)
"""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_orphaned_grandchild_does_not_outlive_the_run():
    out = subprocess.run(
        [sys.executable, "-c", CHILD], cwd=PERFBENCH, capture_output=True, text=True, timeout=60,
        env=dict(os.environ, PYTHONPATH=str(PERFBENCH)),
    )
    assert out.returncode == 0, out.stderr
    pid = int(out.stdout.split()[-1])
    try:
        assert not _alive(pid)
    finally:
        if _alive(pid):
            os.kill(pid, 9)
            time.sleep(0.1)
