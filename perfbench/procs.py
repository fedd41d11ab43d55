"""Stop every process a run started and wait until each has ended.

A run starts the Spark JVM (through PySpark's gateway), the Python workers
the JVM forks, a spawn pool and multiprocessing's resource tracker.  Left to
themselves they exit some time after this process does, and the JVM holds
an unreaped launcher shell until it ends.  ``become_subreaper`` makes every
orphan of the run a child of this process, so ``shutdown`` can end and reap
all of them before it returns.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from typing import Dict, List

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # orphans then go to init, which reaps them itself


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_gateway() -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM may already be gone
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        # the gateway exits when its stdin reaches end of file
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def shutdown() -> None:
    """Stop the active SparkContext, the JVM behind it and every other
    descendant of this process, and wait until none is left."""
    try:
        _stop_gateway()
    except ImportError:
        pass
    try:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    me = os.getpid()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(me):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + 10
        while True:
            _reap()
            if not descendants(me):
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)
