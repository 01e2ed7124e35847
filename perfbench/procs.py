"""Ending every process a run starts.

PySpark starts the JVM as a child of this process; the JVM starts the
Python worker daemon, which forks the workers. The JVM exits by itself
only when it reads end-of-file on its stdin, which happens when this
process exits, so a run that simply returns leaves the JVM (and,
briefly, its workers) running after the result is printed.

`adopt_orphans` makes this process the reaper of its orphaned
descendants, so a worker whose parent ended is still seen and waited
for here. `end_children` closes the JVM's stdin and waits until no
descendant is left, escalating to SIGTERM and then SIGKILL for any that
outlive a grace period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Have orphaned descendants re-parented to this process (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants(root: int | None = None) -> list[int]:
    """Pids of every process below `root` (this process by default),
    zombies included."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while listing
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [os.getpid() if root is None else root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            found.append(pid)
            todo.append(pid)
    return found


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _close_jvm_stdin() -> None:
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        try:
            proc.stdin.close()  # the JVM's gateway exits on end-of-file
        except OSError:
            pass


def end_children(grace: float = 20.0) -> list[int]:
    """Make every descendant end and wait for it: close the JVM's stdin,
    send SIGTERM to what is left after `grace` seconds and SIGKILL after
    twice that. Returns the pids still present after three times
    `grace` (empty when all ended)."""
    _close_jvm_stdin()
    start = time.monotonic()
    while True:
        _reap()
        left = descendants()
        if not left:
            return []
        waited = time.monotonic() - start
        if waited > 3 * grace:
            return left
        if waited > grace:
            sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
