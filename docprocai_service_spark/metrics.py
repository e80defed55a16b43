"""Run metrics read from the driver JVM.

`jvm_thread_cpu` splits the driver JVM's CPU by thread group, from the
kernel's per-thread accounting in `/proc/<pid>/task/*/stat`. In a fresh JVM
most of the CPU of a short job is the JIT compilers and the py4j threads
that serve driver calls, not the task threads; this is the reader that shows
which. Under `local[N]` the task threads live in this JVM; under
`local-cluster` or a real cluster they run in executor JVMs and `tasks`
reads ~0.
"""

from __future__ import annotations

import os
import re

# Group of a thread, from its kernel name (`comm`, cut to 15 characters).
_GROUPS = [
    ("jit_c2", re.compile(r"C2 Compiler")),
    ("jit_c1", re.compile(r"C1 Compiler")),
    ("gc", re.compile(r"GC Thread|G1 ")),
    ("tasks", re.compile(r"Executor task l")),  # "Executor task launch worker ..."
    ("py4j", re.compile(r"Thread-\d+$")),  # py4j's per-connection call threads
]


def _group(comm: str) -> str:
    for name, pattern in _GROUPS:
        if pattern.match(comm):
            return name
    return "other"


def jvm_pid(spark) -> int:
    """Process id of the driver JVM behind `spark`."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _stat(path: str) -> tuple[str, float]:
    """Name and utime + stime seconds from one `/proc/.../stat` file."""
    with open(path) as f:
        head, _, rest = f.read().rpartition(")")
    fields = rest.split()
    # fields[0] is stat field 3 (state); utime and stime are fields 14, 15
    return head.partition("(")[2], (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_thread_cpu(spark) -> dict[str, float]:
    """User + system CPU seconds of the driver JVM, summed by thread group:
    `jit_c2`, `jit_c1`, `gc`, `tasks`, `py4j`, `other`, and `exited`.

    `exited` is the CPU of threads that have already ended (HotSpot retires
    idle compiler threads, Spark's task pool retires idle workers): the
    process's own total minus its live threads. The groups add up to the
    process total. Returns `{}` where `/proc` is not available."""
    proc = f"/proc/{jvm_pid(spark)}"
    try:
        tids = os.listdir(f"{proc}/task")
    except OSError:
        return {}
    out = dict.fromkeys([name for name, _ in _GROUPS] + ["other"], 0.0)
    for tid in tids:
        try:
            comm, cpu_s = _stat(f"{proc}/task/{tid}/stat")
        except OSError:  # the thread exited while we listed
            continue
        out[_group(comm)] += cpu_s
    # the process total is read last, so the remainder is not negative; CPU
    # that live threads spend between the reads lands in `exited`
    out["exited"] = max(0.0, _stat(f"{proc}/stat")[1] - sum(out.values()))
    return out
