"""Process-scoped CPU and memory accounting from /proc, and the end of
that process tree.

The measured tree is every descendant of the benchmark's own process:
the Spark JVM, the PySpark daemon and its Python workers. The
benchmark's own interpreter (generation, oracle, checks) is excluded.

CPU is utime + stime + cutime + cstime summed over the tree. A worker
that exits is reaped by a parent inside the tree, which adds its times
to that parent's cutime/cstime, so the sum stays complete across
worker churn.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # comm (field 2) may hold spaces; the fields after it follow ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """pids of all descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds consumed so far by the tree, reaped children
    included."""
    total = 0
    for pid in tree():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14..17 of stat(5), counted from the state field
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS in every process of the tree
    (clear_refs value 5, Linux >= 4.0)."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # ended, or not ours to reset: its HWM stays as is


def peak_rss_mib() -> float:
    """Sum of VmHWM over the tree, in MiB."""
    kib = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024


def stop_jvm(spark) -> None:
    """Stop ``spark``, then close the JVM's stdin, on which PySpark's
    gateway JVM exits, and wait until it has ended."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def steal_s() -> float:
    """Whole-machine steal time so far (a host-noise diagnostic, never
    charged to the program)."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK
