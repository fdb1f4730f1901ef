"""CPU time and resident memory of a process tree, read from ``/proc``.

The Spark driver process tree is the Python driver, the JVM it
launches and the Python workers the JVM forks. CPU time counts user
and system time of every live process in the tree plus the reaped
children each one has waited for, so short-lived workers are not lost.
Steal time is not part of either. Memory is each process's own peak
resident set size, which the kernel tracks, so a short spike between
two samples is not missed.

A driver process that exits leaves its JVM running for a moment (the
JVM stops when it sees the driver's pipe close), and the Python workers
the JVM forks move to process groups of their own. A process that
calls ``become_subreaper`` inherits such orphans instead of init, so
``reap_descendants`` can find every one of them, wait for it and kill
what does not end.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat.
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def peak_rss_bytes(root: int) -> dict[int, tuple[str, int]]:
    """Each live process's name and peak resident set size (``VmHWM``)
    so far."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) * 1024)
        except (OSError, KeyError, ValueError):
            continue
    return out


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants of this process re-parent to it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` seconds for every descendant of this
    process to end, then kill the rest with SIGKILL and wait for them.
    Returns the pids that had to be killed. Call it only when no child
    is still owed to a ``subprocess.Popen``: it reaps any child."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    killed: list[int] = []
    while True:
        _reap_zombies()
        rest = tree(me)[1:]
        if not rest:
            return killed
        if time.monotonic() >= deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed.extend(p for p in rest if p not in killed)
        time.sleep(0.05)
