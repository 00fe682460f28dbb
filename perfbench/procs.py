"""The processes this benchmark starts, and how it stops them.

Spark starts the driver JVM as a child of this process, and the JVM
forks the Python worker daemon and its workers. Left alone, the JVM
exits only after this process has exited and closed its stdin, and the
workers exit after the JVM: a run would end with its processes still
alive. ``stop_spark`` ends all of them and waits until each is gone.

The JVM also leaves a child it never waits for: the ``bash`` of the
``spark-class`` launcher's process substitution, a zombie from the
moment the session starts. When the JVM exits, such orphans pass to
the nearest subreaper, or to init, which may never reap them either.
``adopt_orphans`` makes this process that subreaper, so every orphan
of the session stays below it, and ``stop_spark`` reaps them all.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts (Linux):
    a descendant whose parent exits becomes its child, not init's."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> tuple[int, str, str] | None:
    """(ppid, state, start time) of pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields follow its ')'
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), fields[0], fields[19]


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below root."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children.setdefault(st[0], []).append((int(d), st[2]))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child[0])
    return out


def _alive(proc: tuple[int, str]) -> bool:
    st = _stat(proc[0])
    # a zombie has ended; a new start time means the pid was reused
    return st is not None and st[1] != "Z" and st[2] == proc[1]


def _wait_gone(procs: list[tuple[int, str]], timeout: float) -> list:
    deadline = time.monotonic() + timeout
    while True:
        procs = [p for p in procs if _alive(p)]
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def _reap(timeout: float) -> None:
    """Wait for every child of this process, killing any still alive
    after `timeout`; a reaped child's own orphans become children too
    (see adopt_orphans), so this loops until none is left."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for child, _ in descendants(os.getpid()):
                try:
                    os.kill(child, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and every process
    below it, wait until all have ended, and reap them."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the processes go regardless
            pass
    tree = descendants(os.getpid())
    gw = SparkContext._gateway
    jvm = getattr(gw, "proc", None)
    if jvm is not None:
        # the JVM exits on EOF on its stdin
        try:
            jvm.stdin.close()
            jvm.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to a kill
            jvm.kill()
            jvm.wait()
    for sig, timeout in ((None, 10), (signal.SIGTERM, 10),
                         (signal.SIGKILL, 30)):
        if sig is not None:
            for pid, _ in tree:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        tree = _wait_gone(tree, timeout)
        if not tree:
            break
    _reap(10)
