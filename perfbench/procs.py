"""Processes a run starts, read from /proc: so a run can stop every one
of them before it exits, and a caller can check that none is left."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
import traceback


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name (state is
    field 0, parent 1, process group 2, start time 19), or None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _table() -> dict[int, list[str]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                out[int(d)] = st
    return out


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``."""
    table = _table()
    found: dict[int, str] = {}
    todo = [root]
    while todo:
        parent = todo.pop()
        for pid, st in table.items():
            if int(st[1]) == parent and pid not in found:
                found[pid] = st[19]
                todo.append(pid)
    return found


def group(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    return [pid for pid, st in _table().items() if int(st[2]) == pgid and st[0] != "Z"]


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the Spark session, then the JVM pyspark launched for it, and
    wait until every process started below this one has ended.

    ``spark.stop()`` leaves the JVM running: it exits only when its
    stdin closes, which otherwise happens after this process has gone.
    Processes still alive after ``timeout`` seconds are killed, and
    waited for."""
    me = os.getpid()
    kids = descendants(me)
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    # the JVM's Python workers are listed before the JVM ends, while
    # they are still below this process
    kids.update(descendants(me))
    pyspark = sys.modules.get("pyspark")
    gateway = getattr(getattr(pyspark, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(_alive(p, s) for p, s in kids.items()):
        time.sleep(0.05)
    for pid, start in kids.items():
        if _alive(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p, s) for p, s in kids.items()):
        time.sleep(0.05)
