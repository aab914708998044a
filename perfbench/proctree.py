"""The processes below a process, read from ``/proc``, and the clean-up
that stops every one of them.

A Spark job's processes do not all stay in the process group
``spark-submit`` starts: the PySpark daemon that forks the Python workers
moves itself into a group of its own, and lives on for a moment after
the JVM that started it has gone. ``become_subreaper`` makes every
orphaned descendant a child of this process, so ``stop_descendants`` can
kill and reap them all.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from collections import defaultdict

PR_SET_CHILD_SUBREAPER = 36
STOP_TIMEOUT_S = 30.0


def descendants(root: int) -> list[int]:
    """Every process below ``root``, children first."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def become_subreaper() -> None:
    """Orphaned descendants of this process are re-parented to it, not
    to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants() -> bool:
    """Kill every process below this one and wait until each has ended.
    As a subreaper, this process has no descendant left once it has no
    child left. Returns whether that point was reached in time."""
    me = os.getpid()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        for pid in descendants(me):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.02)
