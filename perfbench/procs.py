"""Every process the benchmark starts ends before the benchmark does.

The Spark JVM forks the ``pyspark.daemon`` worker manager, which forks
the Python workers.  Stopping the JVM only signals them, and they end
after it, orphaned.  The benchmark makes itself a child subreaper
(Linux ``prctl``), so such orphans become its own children, and
``end_children`` waits for every child to end, ending the ones that
do not.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def children() -> list[int]:
    """Ids of this process's live children, after reaping the ended."""
    _reap()
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # "pid (comm) state ppid ...": comm may hold spaces
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if int(ppid) == me and state != "Z":
            pids.append(int(d))
    return pids


def end_children(grace: float = 10.0) -> None:
    """Wait up to ``grace`` seconds for every child to end on its own,
    then send SIGTERM, then SIGKILL, to what is left; return once none
    is left.  A child that ends may orphan children of its own, which
    a subreaper inherits, so each step looks again."""
    steps = [(None, grace), (signal.SIGTERM, 5.0)] + [(signal.SIGKILL, 5.0)] * 3
    for sig, wait in steps:
        pids = children()
        if not pids:
            return
        for pid in pids if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while children() and time.monotonic() < deadline:
            time.sleep(0.02)
    left = children()
    if left:
        raise RuntimeError(f"child processes did not end: {left}")
