"""The benchmark's process tree — this process, the JVM it starts and the
JVM's Python workers — read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (field 3 onwards)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes() -> int:
    """Proportional set size of the tree: Python workers are forked from one
    daemon and share most pages, which a plain RSS sum would count once per
    worker."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            pass
    return total


def steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all virtual CPUs since boot: the time
    the host ran something else on them (other tenants), out of all time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def become_subreaper() -> None:
    """Make descendants whose parent exits children of this process, so
    `end_descendants` can wait for every one of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap() -> bool:
    """Reap every child that has ended; False once there are no children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def end_descendants(grace_s: float = 20.0) -> None:
    """Wait for every descendant to end: up to `grace_s` seconds on its own,
    then after SIGTERM, then after SIGKILL."""
    import signal
    import time

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in tree_pids()[1:]:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.time() + grace_s
        while time.time() < deadline:
            if not _reap() and len(tree_pids()) == 1:
                return
            time.sleep(0.05)


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including children it has
    already reaped (Python workers that exited). Time the host gives the
    virtual CPUs to other tenants (steal) is charged to no process."""
    ticks = 0
    for pid in tree_pids():
        try:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/<pid>/stat
            ticks += sum(int(x) for x in _stat_fields(pid)[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return ticks / _TICK
