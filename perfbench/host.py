"""Process-tree readings from /proc, and the host drift diagnostic.

The Spark JVM and its Python workers are descendants of the benchmark
process (pyspark starts the JVM, the JVM starts the worker daemon, the
daemon forks the workers), so the tree below ``os.getpid()`` is exactly the
engine under test.
"""

from __future__ import annotations

import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:   # the process ended while the table was read
        return None
    # comm may hold spaces or parens: split after its closing paren
    return data[data.rindex(")") + 2:].split()


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of every live descendant, plus what each has
    collected from its own exited children (so a worker that ended between
    two readings is still counted, through its parent)."""
    total = 0
    for pid in descendants():
        st = _stat(str(pid))
        if st is not None:
            total += sum(int(v) for v in st[11:15])   # utime stime cutime cstime
    return total / _CLK_TCK


def python_worker_peak_rss_mb() -> float:
    """Largest VmHWM among the Python processes below the JVM."""
    peak_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if fields.get("Name", "").strip().startswith("python") and "VmHWM" in fields:
            peak_kb = max(peak_kb, int(fields["VmHWM"].split()[0]))
    return peak_kb / 1024.0


def control_ops_per_sec(batches: int = 5, n: int = 200_000) -> float:
    """Rate of a fixed pure-Python loop (median of ``batches``).  Recorded
    beside every run so the VM's between-window drift is visible; it never
    scales any other metric."""
    rates = []
    for _ in range(batches):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) & 0xFFFF
        rates.append(n / (time.perf_counter() - t))
    return statistics.median(rates)
